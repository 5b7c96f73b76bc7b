"""One benchmark process: set-up, timed repetitions, optional traced run.

Started by ``perfbench/run.py`` with the checkout root as working directory
and on ``PYTHONPATH``.  Every finished step appends one JSON line to the
results file, so the parent can still report the completed repetitions
when this process is killed on timeout.  Repetition boundaries are marked
on stderr so the parent can classify each repetition's log separately.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager

REP_BEGIN = "perfbench:rep-begin"
REP_END = "perfbench:rep-end"

LAYERS = (
    "assembly", "udfs", "exact", "lsh", "verify", "components",
    "containment", "simhash", "lineage", "incremental",
)

_SIG_COLS = ["conv_id", "content_sha", "shingles", "band_hashes"]

#: per-layer work counts the traced run reports beside the task metrics
COUNT_NAMES = (
    "assembly.rows_in", "assembly.rows_out", "udfs.docs", "exact.reps",
    "exact.rep_frac", "lsh.band_rows", "lsh.active_buckets", "lsh.hot_buckets",
    "lsh.candidate_pairs", "verify.pairs_in", "verify.dup_edges", "verify.yield",
    "components.edges_in", "components.clusters", "containment.pairs_out",
    "containment.max_bucket_n", "simhash.hot_buckets", "simhash.max_bucket_n",
    "simhash.pairs_out", "lineage.write_mb", "incremental.n_new",
    "incremental.n_candidates", "incremental.n_retracted_clusters",
)


# ---------------------------------------------------------------------------
# process-tree memory
# ---------------------------------------------------------------------------

def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, shared ones split among the
    processes mapping them, so forked Python workers sharing their parent's
    pages are not counted once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_rss_bytes(root: int) -> int:
    """Resident bytes (PSS) of ``root`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        total += _pss_bytes(pid)
    return total


class PeakRss:
    """Samples the process tree's resident memory in a thread while open."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024.0 * 1024.0)


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of host RAM, capped at 2 GiB: the driver JVM runs every
    task in local mode and must fit beside the Python workers; the inputs
    are a few MB, and a small heap keeps peak RSS from tracking GC timing."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemTotal:"))
    return f"{max(1024, min(2048, total_kb // 1024 // 4))}m"


def session_conf(work: str, event_log_dir: str | None) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    heap = driver_memory()
    conf = {
        "spark.driver.memory": heap,
        # local-mode Python workers take their environment from here
        "spark.executorEnv.PYTHONPATH": os.getcwd(),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # a fixed-size heap: peak RSS then follows the work, not when the
        # JVM decided to grow its heap
        "spark.driver.extraJavaOptions":
            f"-Xms{heap} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


# ---------------------------------------------------------------------------
# the production pass
# ---------------------------------------------------------------------------

def batch_pass(spark, turns_path: str, warehouse: str) -> str:
    """``pipeline.run_dedup`` with a fresh ``RunContext``, the prefix
    containment pass and the SimHash pass (the ``jobs/dedup_job.py``
    path): every stage is written and committed to the run directory when
    this returns."""
    from bibexpy_spark import pipeline
    from bibexpy_spark.config import CANONICAL
    from bibexpy_spark.lineage import RunContext, input_token_for_paths

    run = RunContext(spark, CANONICAL, warehouse=warehouse,
                     input_token=input_token_for_paths(turns_path))
    try:
        pipeline.run_dedup(spark, spark.read.parquet(turns_path), cfg=CANONICAL,
                           run=run, with_containment=True, with_simhash_pass=True)
    finally:
        run.close()
    return run.run_dir


def cluster_map(spark, path: str) -> dict:
    pdf = spark.read.parquet(path).toPandas()
    return dict(zip(pdf["conv_id"], pdf["cluster_id"]))


# ---------------------------------------------------------------------------
# the traced run
# ---------------------------------------------------------------------------

class Tracer:
    """Driver-side spans per layer; tags Spark jobs with the layer name.
    Layers never nest, so a span's duration is the layer's self time."""

    def __init__(self, spark) -> None:
        from perfbench.evlog import LAYER_PROPERTY

        self.sc = spark.sparkContext
        self.key = LAYER_PROPERTY
        self.self_s = {name: 0.0 for name in LAYERS}

    @contextmanager
    def layer(self, name: str):
        self.sc.setLocalProperty(self.key, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.self_s[name] += time.perf_counter() - t0
            self.sc.setLocalProperty(self.key, None)


def _force(df):
    return df.localCheckpoint(eager=True)


def traced_layers(spark, tracer: Tracer, turns_path: str, warehouse: str) -> tuple[dict, str]:
    """``pipeline.run_dedup``'s layers called one by one, each output forced
    before the next layer starts, then every stage table written and read
    back through ``RunContext.materialize``.  Returns the forced frames and
    the run directory."""
    from pyspark.sql import functions as F

    from bibexpy_spark.config import CANONICAL as cfg
    from bibexpy_spark.functions import udfs
    from bibexpy_spark.lineage import RunContext
    from bibexpy_spark.operators import (
        assembly, components, containment, exact, lsh, simhash,
    )
    from bibexpy_spark.operators import verify as verify_op
    from bibexpy_spark.pipeline import surrogate_id

    f: dict = {"turns": spark.read.parquet(turns_path)}
    with tracer.layer("assembly"):
        f["conv"] = _force(assembly.assemble_docs(f["turns"], include_roles_tools=True))
    with tracer.layer("udfs"):
        s = simhash.with_simhash(udfs.with_signature_columns(f["conv"], cfg, text_col="doc"), cfg)
        f["signed"] = _force(s.drop("doc").withColumn("nid", surrogate_id(F.col("conv_id"))))
    with tracer.layer("exact"):
        grouped = _force(exact.exact_groups(f["signed"]))
        f["exact_edges"] = _force(exact.exact_edges(grouped))
        f["reps"] = _force(exact.representatives(grouped))
    with tracer.layer("lsh"):
        cand, f["band_stats"] = lsh.candidate_pairs(f["reps"], cfg, id_col="nid")
        f["cand"] = _force(cand)
    with tracer.layer("verify"):
        f["verified"] = _force(
            verify_op.verify_pairs(f["cand"], f["reps"], cfg, id_col="nid"))
    with tracer.layer("components"):
        f["edges"] = f["exact_edges"].select(
            surrogate_id(F.col("a_id")).alias("a_id"),
            surrogate_id(F.col("b_id")).alias("b_id"),
        ).unionByName(f["verified"].filter(F.col("is_dup")).select("a_id", "b_id"))
        cl = components.connected_components(
            f["edges"], f["signed"].select("nid"), cfg, id_col="nid")
        lab = cl.join(f["signed"].select("conv_id", "nid"), "nid")
        cmin = lab.groupBy("cluster_id").agg(F.min("conv_id").alias("cluster_conv"))
        f["clusters"] = _force(lab.join(cmin, "cluster_id").select(
            "conv_id", F.col("cluster_conv").alias("cluster_id")))
    with tracer.layer("containment"):
        f["contain"] = _force(containment.prefix_containment_pairs(f["signed"], cfg))
    with tracer.layer("simhash"):
        f["fuzzy"] = _force(simhash.simhash_pairs(f["signed"], cfg))
    with tracer.layer("lineage"):
        run = RunContext(spark, cfg, warehouse=warehouse, run_id="traced")
        try:
            for stage, key in (
                ("assemble", "conv"), ("sign", "signed"), ("exact_edges", "exact_edges"),
                ("candidates", "cand"), ("verify", "verified"),
                ("contain_prefix", "contain"), ("fuzzy", "fuzzy"), ("cluster", "clusters"),
            ):
                df = f[key].drop("nid") if key == "signed" else f[key]
                run.materialize(stage, lambda df=df: df).write.format("noop").mode(
                    "overwrite").save()
        finally:
            run.close()
    return f, run.run_dir


def traced_fold(spark, tracer: Tracer, inputs: dict, state_dir: str, out_dir: str):
    """``incremental.run_incremental_dedup`` folding the 1% delta into the
    traced batch state, with its clusters, remap and delta signatures
    committed.  Returns (stats row, folded cluster map)."""
    from bibexpy_spark import incremental
    from bibexpy_spark.config import CANONICAL

    read = spark.read.parquet
    with tracer.layer("incremental"):
        res = incremental.run_incremental_dedup(
            spark, read(inputs["delta"]),
            read(os.path.join(state_dir, "sign")),
            read(os.path.join(state_dir, "cluster")),
            cfg=CANONICAL, prior_turns=read(inputs["turns"]),
        )
        res["clusters"].write.parquet(os.path.join(out_dir, "clusters"))
        res["cluster_remap"].write.parquet(os.path.join(out_dir, "cluster_remap"))
        res["signed_new"].select(*_SIG_COLS).write.parquet(os.path.join(out_dir, "signed_new"))
    stats = res["stats"].first()
    res["cleanup"]()
    return stats, cluster_map(spark, os.path.join(out_dir, "clusters"))


def manifest_mb(run_dir: str) -> float:
    """Bytes of the stage-table part files a ``RunContext`` recorded in its
    manifests."""
    total = 0
    for name in os.listdir(run_dir):
        if name.endswith(".manifest.json"):
            with open(os.path.join(run_dir, name)) as f:
                total += sum(p["bytes"] for p in json.load(f)["partitions"])
    return total / (1024.0 * 1024.0)


def layer_counts(f: dict) -> dict:
    """Work counts per layer, read from the public stats surfaces."""
    from pyspark.sql import functions as F

    from bibexpy_spark.config import CANONICAL as cfg
    from bibexpy_spark.operators import containment, lsh, simhash

    docs = f["signed"].count()
    reps = f["reps"].count()
    bs = f["band_stats"].agg(
        F.count("*").alias("active"),
        F.sum(F.col("star_mode").cast("long")).alias("hot"),
    ).first()
    pairs_in = f["cand"].count()
    dup_edges = f["verified"].filter(F.col("is_dup")).count()
    cs = containment.containment_index_stats(f["signed"]).first()
    ss = simhash.simhash_chunk_stats(f["signed"], cfg).first()
    return {
        "assembly.rows_in": f["turns"].count(),
        "assembly.rows_out": f["conv"].count(),
        "udfs.docs": docs,
        "exact.reps": reps,
        "exact.rep_frac": reps / docs,
        "lsh.band_rows": lsh.explode_bands(f["reps"], "nid").count(),
        "lsh.active_buckets": int(bs["active"]),
        "lsh.hot_buckets": int(bs["hot"] or 0),
        "lsh.candidate_pairs": pairs_in,
        "verify.pairs_in": pairs_in,
        "verify.dup_edges": dup_edges,
        "verify.yield": dup_edges / pairs_in if pairs_in else 0.0,
        "components.edges_in": f["edges"].count(),
        "components.clusters": f["clusters"].select("cluster_id").distinct().count(),
        "containment.pairs_out": f["contain"].count(),
        "containment.max_bucket_n": int(cs["max_df"] or 0),
        "simhash.hot_buckets": int(ss["n_hot_buckets"]),
        "simhash.max_bucket_n": int(ss["max_bucket_n"]),
        "simhash.pairs_out": f["fuzzy"].count(),
    }


def layer_metrics(tracer: Tracer, agg: dict, counts: dict, cores: int) -> dict:
    out: dict[str, float] = {}
    for name in LAYERS:
        a = agg.get(name, {})
        self_s = tracer.self_s[name]
        task_s = a.get("task_s", 0.0)
        out.update({
            f"{name}.self_s": self_s,
            f"{name}.task_s": task_s,
            f"{name}.busy_frac": task_s / (self_s * cores) if self_s > 0 else 0.0,
            f"{name}.shuffle_write_mb": a.get("shuffle_write_mb", 0.0),
            f"{name}.spill_mb": a.get("spill_mb", 0.0),
            f"{name}.failed_tasks": a.get("failed_tasks", 0),
        })
    out["components.star_rounds"] = agg.get("components", {}).get("star_rounds", 0)
    out["lineage.read_mb"] = agg.get("lineage", {}).get("scan_read_mb", 0.0)
    out["incremental.prior_read_mb"] = agg.get("incremental", {}).get("scan_read_mb", 0.0)
    out.update(counts)
    return out


def run_traced(spark, inputs: dict, work: str, ev_dir: str, cores: int,
               untraced_s: float, untraced_digests: set) -> dict:
    """The traced run, in a session with the event log on: layer by layer,
    then (where the workload carries a delta) the incremental fold.
    ``untraced_s`` is the median repetition wall of the session before it,
    which had no event log.  Returns the per-layer metrics and the traced
    run's correctness checks."""
    import pandas as pd

    from perfbench import evlog, workloads

    tracer = Tracer(spark)
    t0 = time.perf_counter()
    f, run_dir = traced_layers(spark, tracer, inputs["turns"],
                               os.path.join(work, "trace-warehouse"))
    traced_s = time.perf_counter() - t0
    counts = layer_counts(f)
    counts["lineage.write_mb"] = manifest_mb(run_dir)
    traced = workloads.digest(cluster_map(spark, os.path.join(run_dir, "cluster")))
    checks = {"traced clusters == untraced clusters": traced in untraced_digests}
    counts.update({"incremental.n_new": 0, "incremental.n_candidates": 0,
                   "incremental.n_retracted_clusters": 0})
    if "delta" in inputs:
        stats, folded = traced_fold(spark, tracer, inputs, run_dir,
                                    os.path.join(work, "trace-fold"))
        counts.update({
            "incremental.n_new": int(stats["n_new"]),
            "incremental.n_candidates": int(stats["n_candidates"]),
            "incremental.n_retracted_clusters": int(stats["n_retracted_clusters"]),
        })
        # batch equivalence: the fold equals a batch run over old + new
        # (latest-wins on (conv_id, turn_idx), as the fold merges turns)
        old, delta = pd.read_parquet(inputs["turns"]), pd.read_parquet(inputs["delta"])
        merged = pd.concat([old, delta]).drop_duplicates(
            ["conv_id", "turn_idx"], keep="last")
        checks["fold == batch over old+new"] = (
            workloads.digest(folded) == workloads.golden_batch_digest(merged))
    if set(counts) != set(COUNT_NAMES):
        raise RuntimeError(f"count names drifted: {sorted(set(counts) ^ set(COUNT_NAMES))}")
    spark.stop()
    (log,) = [os.path.join(ev_dir, n) for n in os.listdir(ev_dir)]
    metrics = layer_metrics(tracer, evlog.aggregate_file(log), counts, cores)
    metrics.update({
        "trace.wall_s": traced_s,
        "trace.untraced_wall_s": untraced_s,
        "trace.overhead_s": traced_s - untraced_s,
    })
    return {"metrics": metrics, "checks": checks}


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def emit(path: str, **rec) -> None:
    with open(path, "a") as f:
        f.write(json.dumps(rec) + "\n")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True, help="per-run scratch directory")
    ap.add_argument("--inputs", required=True, help="generated-input cache directory")
    ap.add_argument("--results", required=True)
    args = ap.parse_args(argv)

    from perfbench import workloads

    work = os.path.abspath(args.work)
    cores = host_cores()
    warehouse = os.path.join(work, "warehouse")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)

    # Inputs and their ground truth are generated (or read from the per-seed
    # cache) before the set-up clock starts: generation is not the
    # program's set-up, and a cold cache would otherwise make the first run
    # of each seed slower than the rest.
    inputs = workloads.build_inputs(
        args.workload, args.seed,
        os.path.join(args.inputs, f"{args.workload}-{args.seed}"))

    # ---- set-up: session start, Python-worker warm-up, warm pass ------------
    from bibexpy_spark.session import build_spark, warm_python_workers

    t0 = time.perf_counter()
    spark = build_spark(app_name="perfbench", cores=cores,
                        extra_conf=session_conf(work, None))
    warm_python_workers(spark, cores)
    shutil.rmtree(batch_pass(spark, inputs["warm"], warehouse))
    emit(args.results, kind="setup", setup_s=time.perf_counter() - t0,
         cores=cores, inputs=inputs)
    with open(inputs["truth"]) as f:
        truth = json.load(f)

    # ---- timed repetitions: closed loop, one job at a time ------------------
    measured, walls, digests, i, errors = 0.0, [], set(), 0, 0
    while i == 0 or measured < args.seconds:
        rec = {"kind": "rep", "i": i, "ok": False}
        print(f"{REP_BEGIN} {i}", file=sys.stderr, flush=True)
        try:
            with PeakRss() as rss:
                t = time.perf_counter()
                done = batch_pass(spark, inputs["turns"], warehouse)
                wall = time.perf_counter() - t
            measured += wall
            rec.update(wall_s=wall, peak_rss_mb=rss.peak_mb)
            cluster_of = cluster_map(spark, os.path.join(done, "cluster"))
            cp = spark.read.parquet(os.path.join(done, "contain_prefix")).toPandas()
            shutil.rmtree(done)
            rec.update(
                digest=workloads.digest(cluster_of),
                dup_pair_recall=workloads.pair_recall(cluster_of, truth["positives"]),
                false_merge_rate=workloads.pair_recall(cluster_of, truth["negatives"]),
                containment_recall=workloads.containment_recall(
                    set(zip(cp["inner_id"], cp["outer_id"])), truth["contain"])
                if truth["contain"] else None,
            )
            rec["checks"] = {
                "dup_pair_recall>=0.99": rec["dup_pair_recall"] >= 0.99,
                "false_merge_rate==0": rec["false_merge_rate"] == 0,
                "digest stable across repetitions": not digests or rec["digest"] in digests,
                "clusters == independent batch run": rec["digest"] == truth["batch_digest"],
            }
            rec["ok"] = all(rec["checks"].values())
            digests.add(rec["digest"])
            walls.append(wall)
            errors = 0
        except Exception:  # a failed repetition is counted, not fatal
            rec["error"] = traceback.format_exc()
            traceback.print_exc()
            errors += 1
        print(f"{REP_END} {i}", file=sys.stderr, flush=True)
        emit(args.results, **rec)
        i += 1
        if errors >= 2:
            break

    spark.stop()
    if args.trace and walls:
        # The repetitions above ran without the event log, so their median is
        # the untraced wall.  The traced run gets a session of its own with
        # the event log on; it reuses the warm JVM.
        ev_dir = os.path.join(work, "eventlog")
        spark = build_spark(app_name="perfbench-trace", cores=cores,
                            extra_conf=session_conf(work, ev_dir))
        warm_python_workers(spark, cores)
        emit(args.results, kind="trace", **run_traced(
            spark, inputs, work, ev_dir, cores, statistics.median(walls), digests))
    return 0


if __name__ == "__main__":
    sys.exit(main())
