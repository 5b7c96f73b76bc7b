"""Seeded workload inputs and their planted ground truth.

Every input derives from ``--seed`` alone: the same seed writes
byte-identical parquet files, another seed writes different ones.  The
program under test only ever sees the generated files.

Workloads (both deduplicated from scratch by ``pipeline.run_dedup``):

``batch-planted``   a ``corpus.generate_transcripts`` corpus with its planted
                    exact/near/border/contain/fuzzy/reorder copies.
``batch-hot-band``  a ``corpus.generate_skewed_transcripts`` corpus in which
                    about 15% of conversations share one boilerplate opener,
                    so they pile into the same LSH band, SimHash chunk and
                    containment-prefix buckets and form one cluster.

``batch-planted`` also carries a delta for the traced run's incremental
layer: 1% new conversations (the ids after the corpus) plus 1% of the
corpus's conversations grown by appended turns.

Ground truth uses only ``golden.py``'s independent normalizer, shingler and
single-process batch pipeline, never the kernels under test.
"""

from __future__ import annotations

import hashlib
import json
import os
from datetime import timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from bibexpy_spark import corpus, golden, oracle
from bibexpy_spark.config import CANONICAL
from perfbench import WORKLOADS

#: base conversations per corpus (planted copies add ~40% on batch-planted)
N_CONVERSATIONS = 2000

#: share of batch-hot-band conversations that open with the shared boilerplate
HOT_FRACTION = 0.15

#: one conv_id in DELTA_BUCKETS grows in the delta, and as many are new
DELTA_BUCKETS = 100

TURN_SCHEMA = pa.schema([
    pa.field("conv_id", pa.string()),
    pa.field("turn_idx", pa.int32()),
    pa.field("role", pa.string()),
    pa.field("text", pa.string()),
    pa.field("tool", pa.string()),
    pa.field("ts", pa.timestamp("us")),
])

_APPEND_WORDS = np.array(
    "follow up later again more detail another step result check note "
    "summary next retry output error fixed done thanks".split()
)


def _write(df: pd.DataFrame, path: str) -> None:
    tmp = path + ".tmp"
    table = pa.Table.from_pandas(
        df.reset_index(drop=True), schema=TURN_SCHEMA, preserve_index=False
    )
    pq.write_table(table, tmp, row_group_size=8192)
    os.replace(tmp, path)


def _appended_turns(seed: int, conv_id: str, turns: pd.DataFrame) -> pd.DataFrame:
    """1-3 new turns continuing ``conv_id``'s turn_idx sequence."""
    rng = np.random.default_rng([seed, corpus.hash_stable(conv_id)])
    last = turns.loc[turns["turn_idx"].idxmax()]
    rows = []
    for k in range(int(rng.integers(1, 4))):
        idx = int(last["turn_idx"]) + 1 + k
        rows.append({
            "conv_id": conv_id,
            "turn_idx": np.int32(idx),
            "role": "user" if idx % 2 == 0 else "assistant",
            "text": " ".join(rng.choice(_APPEND_WORDS, size=int(rng.integers(8, 30)))),
            "tool": "",
            "ts": last["ts"] + timedelta(seconds=7 * (k + 1)),
        })
    return pd.DataFrame(rows)


def make_delta(turns: pd.DataFrame, seed: int) -> pd.DataFrame:
    """Delta turns against the corpus ``turns``: the next N/100 generated
    conversations (new ids) plus appended turns for the conv_ids in one
    seeded hash bucket (grown)."""
    lo = N_CONVERSATIONS
    new = corpus.generate_transcripts(
        seed=seed, conv_range=(lo, lo + N_CONVERSATIONS // DELTA_BUCKETS))
    ids = sorted(turns["conv_id"].unique())
    grown = [c for c in ids if corpus.hash_stable(f"{seed}:{c}") % DELTA_BUCKETS == 0]
    by_id = turns[turns["conv_id"].isin(grown)].groupby("conv_id")
    delta = pd.concat(
        [new, *(_appended_turns(seed, c, by_id.get_group(c)) for c in grown)],
        ignore_index=True,
    )
    delta["turn_idx"] = delta["turn_idx"].astype("int32")
    return delta


def build_inputs(workload: str, seed: int, out_dir: str) -> dict:
    """Write the workload's parquet inputs and ground truth under
    ``out_dir`` (idempotent) and return their description."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
    os.makedirs(out_dir, exist_ok=True)
    meta_path = os.path.join(out_dir, "inputs.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    paths = {k: os.path.join(out_dir, f"{k}.parquet") for k in ("turns", "warm")}
    # the warm pass runs over the first tenth of the conversations: the same
    # rows as that slice of the corpus, so the same plan shapes
    n_warm = N_CONVERSATIONS // 10
    if workload == "batch-planted":
        turns = corpus.generate_transcripts(N_CONVERSATIONS, seed=seed)
        warm = corpus.generate_transcripts(seed=seed, conv_range=(0, n_warm))
        truth = planted_truth(turns)
        paths["delta"] = os.path.join(out_dir, "delta.parquet")
        _write(make_delta(turns, seed), paths["delta"])
    else:
        turns = corpus.generate_skewed_transcripts(N_CONVERSATIONS, HOT_FRACTION, seed)
        warm = corpus.generate_skewed_transcripts(n_warm, HOT_FRACTION, seed)
        truth = hot_band_truth(turns)
    _write(turns, paths["turns"])
    _write(warm, paths["warm"])
    meta = {**paths, "n_turns": len(turns),
            "n_conversations": int(turns["conv_id"].nunique()),
            "truth": os.path.join(out_dir, "truth.json")}
    for path, obj in ((meta["truth"], truth), (meta_path, meta)):
        with open(path + ".tmp", "w") as f:
            json.dump(obj, f)
        os.replace(path + ".tmp", path)
    return meta


def _reaches_threshold(a: np.ndarray, b: np.ndarray) -> bool:
    inter = len(np.intersect1d(a, b, assume_unique=True))
    union = len(a) + len(b) - inter
    num, den = golden._threshold_fraction(CANONICAL.jaccard_threshold)
    return inter * den >= num * union


def digest(cluster_of: dict) -> str:
    """Order-free fingerprint of a conv_id -> cluster_id assignment."""
    h = hashlib.sha256()
    for cid in sorted(cluster_of):
        h.update(f"{cid}\t{cluster_of[cid]}\n".encode())
    return h.hexdigest()


def _golden_shingles(turns: pd.DataFrame):
    conv = oracle.assemble(turns)
    norm = golden._g_norm_series(conv["doc"], CANONICAL)
    return conv["conv_id"].tolist(), norm, golden._g_shingle_sets(norm, CANONICAL)


def golden_batch_digest(turns: pd.DataFrame, prepared=None) -> str:
    """Digest of ``golden.py``'s single-process batch clustering (exact
    groups, band buckets, exact Jaccard verify, union-find), which
    reproduces ``pipeline.run_dedup`` whenever no band bucket exceeds the
    hot cap (it raises otherwise)."""
    ids, norm, sets = prepared or _golden_shingles(turns)
    shingles = dict(zip(ids, sets))
    shas = golden._g_sha256_series(norm).tolist()
    rep_of_sha: dict[str, str] = {}
    for cid, sha in zip(ids, shas):
        rep_of_sha[sha] = min(rep_of_sha.get(sha, cid), cid)
    reps = sorted(set(rep_of_sha.values()))
    edges = [(rep_of_sha[sha], cid) for cid, sha in zip(ids, shas)
             if rep_of_sha[sha] != cid]
    edges += [(a, b) for a, b, _ in golden._lsh_pairs(
        reps, [shingles[r] for r in reps], CANONICAL, strict=True)]
    closure = oracle.transitive_closure(ids, pd.DataFrame(edges, columns=["a_id", "b_id"]))
    return digest(dict(zip(closure["conv_id"], closure["cluster_id"])))


def planted_truth(turns: pd.DataFrame) -> dict:
    """Planted pairs classified by exact Jaccard, plus the batch digest.

    A copy ``cNNNNNNN_<cls>`` belongs to base ``cNNNNNNN_base``.  It is a
    positive when its Jaccard with the base reaches the canonical
    threshold; a ``border`` copy below it is a negative; every ``contain``
    copy must report its base as ``inner_id``."""
    prepared = _golden_shingles(turns)
    shingles = dict(zip(prepared[0], prepared[2]))
    positives, negatives, contain = [], [], []
    for cid in sorted(shingles):
        prefix, cls = cid.rsplit("_", 1)
        base = f"{prefix}_base"
        if cls == "base" or base not in shingles:
            continue
        pair = sorted((base, cid))
        if _reaches_threshold(shingles[base], shingles[cid]):
            positives.append(pair)
        elif cls == "border":
            negatives.append(pair)
        if cls == "contain":
            contain.append([base, cid])
    return {"positives": positives, "negatives": negatives, "contain": contain,
            "batch_digest": golden_batch_digest(turns, prepared)}


def hot_band_truth(turns: pd.DataFrame) -> dict:
    """Every ``_hot`` conversation belongs with the first one (a positive
    when their Jaccard reaches the threshold); every other conversation
    paired with it is a negative, so the false-merge rate is the share of
    non-hot conversations inside the hot cluster."""
    prepared = _golden_shingles(turns)
    shingles = dict(zip(prepared[0], prepared[2]))
    hot = sorted(c for c in shingles if c.endswith("_hot"))
    positives = [[hot[0], c] for c in hot[1:]
                 if _reaches_threshold(shingles[hot[0]], shingles[c])]
    negatives = [sorted((hot[0], c)) for c in sorted(shingles) if not c.endswith("_hot")]
    return {"positives": positives, "negatives": negatives, "contain": [],
            "batch_digest": golden_batch_digest(turns, prepared)}


def pair_recall(cluster_of: dict, pairs: list) -> float:
    """Share of ``pairs`` whose members land in one cluster (1.0 if none)."""
    if not pairs:
        return 1.0
    hit = sum(1 for a, b in pairs if cluster_of[a] == cluster_of[b])
    return hit / len(pairs)


def containment_recall(contain_pairs: set, truth_contain: list) -> float:
    """Share of planted ``contain`` copies whose base is reported as
    ``inner_id`` against that copy (1.0 if none planted)."""
    if not truth_contain:
        return 1.0
    hit = sum(1 for base, copy in truth_contain if (base, copy) in contain_pairs)
    return hit / len(truth_contain)
