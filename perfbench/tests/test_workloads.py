"""Seeded inputs and the recall / false-merge arithmetic."""

import hashlib
import os

import pytest

from bibexpy_spark import corpus, oracle
from perfbench import workloads


def _hashes(d):
    return {n: hashlib.sha256(open(os.path.join(d, n), "rb").read()).hexdigest()
            for n in sorted(os.listdir(d)) if n.endswith(".parquet")}


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_inputs_byte_identical_per_seed_and_different_across_seeds(
        workload, tmp_path, monkeypatch):
    monkeypatch.setattr(workloads, "N_CONVERSATIONS", 200)
    a, b, c = (str(tmp_path / n) for n in "abc")
    workloads.build_inputs(workload, 7, a)
    workloads.build_inputs(workload, 7, b)
    workloads.build_inputs(workload, 8, c)
    ha, hb, hc = _hashes(a), _hashes(b), _hashes(c)
    assert ha and ha == hb
    assert all(ha[n] != hc[n] for n in ha)


def _closure(ids, pairs):
    import pandas as pd

    cl = oracle.transitive_closure(ids, pd.DataFrame(pairs, columns=["a_id", "b_id"]))
    return dict(zip(cl["conv_id"], cl["cluster_id"]))


def test_planted_recall_and_false_merges_on_200_conversations():
    turns = corpus.generate_transcripts(200, seed=5)
    truth = workloads.planted_truth(turns)
    pos, neg = truth["positives"], truth["negatives"]
    assert pos and neg and truth["contain"]
    # exact and reorder copies are always positives, border copies never
    assert all(not b.endswith("_border") for _, b in pos)
    assert all(b.endswith("_border") for _, b in neg)
    ids = sorted(turns["conv_id"].unique())
    exact = {b for _, b in pos if b.endswith(("_exact", "_reorder"))}
    assert exact == {c for c in ids if c.endswith(("_exact", "_reorder"))}

    perfect = _closure(ids, pos)
    assert workloads.pair_recall(perfect, pos) == 1.0
    assert workloads.pair_recall(perfect, neg) == 0.0

    split = _closure(ids, pos[1:])
    assert workloads.pair_recall(split, pos) == pytest.approx(1 - 1 / len(pos))
    merged = _closure(ids, pos + neg[:1])
    assert workloads.pair_recall(merged, neg) == pytest.approx(1 / len(neg))


def test_hot_band_truth_on_200_conversations():
    turns = corpus.generate_skewed_transcripts(200, workloads.HOT_FRACTION, seed=5)
    truth = workloads.hot_band_truth(turns)
    ids = sorted(turns["conv_id"].unique())
    hot = [c for c in ids if c.endswith("_hot")]
    assert len(truth["positives"]) == len(hot) - 1
    assert len(truth["negatives"]) == len(ids) - len(hot)
    one_cluster = _closure(ids, truth["positives"])
    assert workloads.pair_recall(one_cluster, truth["positives"]) == 1.0
    assert workloads.pair_recall(one_cluster, truth["negatives"]) == 0.0
    everything = _closure(ids, [(ids[0], c) for c in ids[1:]])
    assert workloads.pair_recall(everything, truth["negatives"]) == 1.0


def test_containment_recall_counts_base_as_inner():
    planted = [["c1_base", "c1_contain"], ["c2_base", "c2_contain"]]
    assert workloads.containment_recall({("c1_base", "c1_contain")}, planted) == 0.5
    assert workloads.containment_recall({("c1_contain", "c1_base")}, planted) == 0.0
    assert workloads.containment_recall(set(), []) == 1.0


def test_digest_ignores_order():
    assert workloads.digest({"a": "a", "b": "a"}) == workloads.digest({"b": "a", "a": "a"})
    assert workloads.digest({"a": "a", "b": "a"}) != workloads.digest({"a": "a", "b": "b"})
