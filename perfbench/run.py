"""Dedup benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload batch-planted --seed 1 --seconds 10 --trace 0

Run from the repository root.  The load is a closed loop: one client runs
one job at a time on ``local[nproc]`` from a single process, so each
repetition starts when the previous one has committed its result.

The run starts ``perfbench/worker.py`` in its own process group with stderr
captured.  The worker generates the workload's inputs from ``--seed``
(cached under ``perfbench/.work/inputs``), sets up and warms a Spark
session, and repeats the workload's production job until ``--seconds`` of
timed work have passed; with ``--trace 1`` it then starts a second session
with a Spark event log and runs every layer one by one under it.  This parent classifies each repetition's
stderr against ``bench.py``'s ``ERROR_TAXONOMY``, checks correctness, prints
a readable report and, as its last stdout line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

A repetition fails when it raises, times out, fails a correctness check
or logs a task retry, Python-worker death, OOM or another taxonomy class
(benign shutdown noise excepted).  ``error_rate`` = failed / attempted.

Exit status is 0 with a result line, or non-zero without one when the
repository's package is missing or no repetition produced a measurement.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

#: the worker is killed this long after the run started; the run as a whole
#: must end within 180 s
WORKER_DEADLINE_S = 170.0

BENIGN = {"shutdown_noise"}

END_TO_END_UNITS = {
    "wall_s": "s",
    "turns_per_s": "turns/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "dup_pair_recall": "ratio",
}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", ".yield")):
        return "ratio"
    return "count"


def split_reps(stderr: str, begin: str, end: str) -> dict[int, str]:
    """Stderr text -> {repetition: its log}.  A repetition that began but
    never ended keeps everything after its marker."""
    segments: dict[int, str] = {}
    pat = re.compile(rf"^{re.escape(begin)} (\d+)$", re.M)
    for m in pat.finditer(stderr):
        i = int(m.group(1))
        stop = stderr.find(f"{end} {i}\n", m.end())
        segments[i] = stderr[m.end(): stop if stop >= 0 else len(stderr)]
    return segments


def error_classes(text: str, taxonomy) -> dict[str, int]:
    found = {}
    for name, pat in taxonomy:
        n = len(re.findall(pat, text))
        if n and name not in BENIGN:
            found[name] = n
    return found


def _reap(proc: subprocess.Popen) -> None:
    """Stop every process left in the worker's group and wait for it."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        for _ in range(20):
            time.sleep(0.1)
            proc.poll()  # reap the group leader, or it stays in the group
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return


def run_worker(args, run_dir: str, deadline: float) -> tuple[int | None, str]:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH", "")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    env["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.makedirs(env["TMPDIR"], exist_ok=True)
    # the short-lived JVM that spark-submit starts to build its command line
    env["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={env['TMPDIR']}"
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", run_dir, "--inputs", os.path.join(WORK, "inputs"),
        "--results", os.path.join(run_dir, "results.jsonl"),
    ]
    err_path = os.path.join(run_dir, "stderr.log")
    with open(err_path, "w") as err, open(os.path.join(run_dir, "stdout.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out, stderr=err,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _reap(proc)
            proc.wait()
    with open(err_path, errors="replace") as f:
        return rc, f.read()


def check_digest(workload: str, seed: int, seen: set) -> bool:
    """Cluster digests must agree across runs of one (workload, seed) in
    this checkout, traced or not."""
    path = os.path.join(WORK, "digests", f"{workload}-{seed}.json")
    if os.path.exists(path):
        with open(path) as f:
            return seen <= set(json.load(f))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(sorted(seen), f)
    return True


def main(argv=None) -> int:
    start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "bibexpy_spark")):
        print(f"perfbench: no bibexpy_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from bench import ERROR_TAXONOMY
    from perfbench import WORKLOADS
    from perfbench.worker import REP_BEGIN, REP_END

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{', '.join(WORKLOADS)}", file=sys.stderr)
        return 2

    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-",
                               dir=os.path.join(WORK, "runs"))
    try:
        rc, stderr = run_worker(args, run_dir, start + WORKER_DEADLINE_S)
        records = []
        results = os.path.join(run_dir, "results.jsonl")
        if os.path.exists(results):
            with open(results) as f:
                records = [json.loads(line) for line in f if line.strip()]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    setup = next((r for r in records if r["kind"] == "setup"), None)
    reps = [r for r in records if r["kind"] == "rep"]
    trace = next((r for r in records if r["kind"] == "trace"), None)
    segments = split_reps(stderr, REP_BEGIN, REP_END)
    if setup is None or not any("wall_s" in r for r in reps):
        sys.stderr.write(stderr[-4000:])
        print(f"perfbench: worker exited with {rc} before a measured repetition",
              file=sys.stderr)
        return 1
    if args.trace and trace is None:
        sys.stderr.write(stderr[-4000:])
        print(f"perfbench: worker exited with {rc} before the traced run finished",
              file=sys.stderr)
        return 1

    # a repetition that began but left no record was cut by the deadline
    attempted = max(len(reps), len(segments))
    failed = attempted - len(reps)
    for r in reps:
        r["errors"] = error_classes(segments.get(r["i"], ""), ERROR_TAXONOMY)
        if not r["ok"] or r["errors"]:
            failed += 1
    measured = [r for r in reps if "wall_s" in r]
    digests = {r["digest"] for r in measured if "digest" in r}
    digest_ok = len(digests) == 1 and check_digest(args.workload, args.seed, digests)
    trace_ok = trace is None or all(trace["checks"].values())
    correct = failed == 0 and digest_ok and trace_ok and rc == 0

    walls = [r["wall_s"] for r in measured]
    wall = statistics.median(walls)
    inputs = setup["inputs"]
    e2e = {
        "wall_s": wall,
        "turns_per_s": inputs["n_turns"] / wall,
        "setup_s": setup["setup_s"],
        "peak_rss_mb": max(r["peak_rss_mb"] for r in measured),
        "dup_pair_recall": min(r.get("dup_pair_recall", 0.0) for r in measured),
    }
    contain = [r["containment_recall"] for r in measured
               if r.get("containment_recall") is not None]
    fmr = max(r.get("false_merge_rate", 1.0) for r in measured)

    print(f"perfbench {args.workload} seed={args.seed} cores={setup['cores']} "
          f"input_turns={inputs['n_turns']} conversations={inputs['n_conversations']}")
    print(f"  wall_s          {wall:.3f} s  median of n={len(walls)} repetitions "
          f"(max {max(walls):.3f} s; fewer than ten samples lie beyond any "
          "higher percentile, so none is reported)")
    print(f"  turns_per_s     {e2e['turns_per_s']:.1f} turns/s")
    print(f"  setup_s         {e2e['setup_s']:.3f} s")
    print(f"  peak_rss_mb     {e2e['peak_rss_mb']:.1f} MB")
    print(f"  dup_pair_recall {e2e['dup_pair_recall']:.4f} ratio (gate >= 0.99)")
    print(f"  containment_recall "
          + (f"{min(contain):.4f} ratio" if contain else "n/a (no contain copies planted)"))
    print(f"  false_merge_rate {fmr:.4f} ratio (gate == 0)")
    print(f"  error_rate      {failed / attempted:.4f} ratio ({failed}/{attempted} failed)")
    for r in reps:
        bad = [k for k, v in r.get("checks", {}).items() if not v]
        if bad or r["errors"] or r.get("error"):
            print(f"  repetition {r['i']}: failed checks {bad}, log classes "
                  f"{r['errors']}, error {r.get('error', '').strip()[-300:]!r}")
    if not digest_ok:
        print("  cluster digest differs between repetitions or runs of this seed")

    if args.trace:
        values = trace["metrics"]
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(values.items())}
        print(f"  traced wall {values['trace.wall_s']:.3f} s, tracing overhead "
              f"{values['trace.overhead_s']:.3f} s; checks {trace['checks']}")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    sys.stdout.flush()
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
