"""Run-report helpers and the metric names BENCHMARK.json declares."""

import json
import os

from perfbench import run, worker

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_split_reps_keeps_an_unfinished_repetition():
    log = ("noise\nperfbench:rep-begin 0\nLost task 1.0\nperfbench:rep-end 0\n"
           "perfbench:rep-begin 1\nPython worker exited unexpectedly\n")
    seg = run.split_reps(log, worker.REP_BEGIN, worker.REP_END)
    assert seg == {0: "\nLost task 1.0\n", 1: "\nPython worker exited unexpectedly\n"}


def test_error_classes_skip_benign_shutdown_noise():
    taxonomy = [("task_retry", r"Lost task \d+\.\d+"),
                ("shutdown_noise", r"EOF reached before Python server acknowledged")]
    text = "Lost task 1.0 in stage 2\nEOF reached before Python server acknowledged"
    assert run.error_classes(text, taxonomy) == {"task_retry": 1}


def test_benchmark_json_names_match_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END_UNITS

    class _Tracer:
        self_s = {name: 1.0 for name in worker.LAYERS}

    counts = dict.fromkeys(worker.COUNT_NAMES, 0)
    names = set(worker.layer_metrics(_Tracer(), {}, counts, 4))
    names |= {"trace.wall_s", "trace.untraced_wall_s", "trace.overhead_s"}
    declared = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert declared == {n: run.layer_unit(n) for n in names}
