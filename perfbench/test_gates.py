"""Tests of the benchmark's correctness gates and event-log reader.

    python3 -m pytest perfbench/test_gates.py -q

No Spark needed: the gates compare pandas frames, and the event log is a
small synthetic one.
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

import eventlog
import gates
from harness import ROOT, f1


def _golden() -> pd.DataFrame:
    return pd.DataFrame({
        "url": ["u1", "u2", "u3"],
        "scrubbed_text": ["a b", "c [EMAIL]", "d"],
        "keep": [True, False, True],
        "rules_hit": [[], ["too_short"], []],
        "lang_detected": ["en", "fr", "und"],
        "scrub_email": [0, 1, 0],
    })


def _outputs(g: pd.DataFrame):
    labels = pd.DataFrame({"url": g["url"], "keep": g["keep"],
                           "rules_hit": g["rules_hit"].map(list),
                           "lang_detected": g["lang_detected"]})
    scrubbed = pd.DataFrame({"url": g["url"], "text": g["scrubbed_text"]})
    return labels, scrubbed


def _error_rate(attempted: int, failed: int) -> float:
    return failed / attempted


def test_pages_gate_passes_on_identical_outputs():
    g = _golden()
    labels, scrubbed = _outputs(g)
    attempted, failed, keep = gates.page_failures(g, labels, scrubbed)
    assert (attempted, failed) == (3, 0)
    assert f1(g["keep"].tolist(), keep.tolist()) == 1.0


@pytest.mark.parametrize("corrupt", [
    lambda lab, scr: lab.assign(keep=[True, True, True]),
    lambda lab, scr: lab.assign(lang_detected=["en", "fr", "en"]),
    lambda lab, scr: lab.assign(rules_hit=[[], [], []]),
    lambda lab, scr: scr.assign(text=["a b", "c x@y.z", "d"]),
    lambda lab, scr: lab.iloc[:2],
    lambda lab, scr: pd.concat([lab, lab.iloc[:1]]),
])
def test_pages_gate_counts_one_corrupt_row(corrupt):
    g = _golden()
    labels, scrubbed = _outputs(g)
    bad = corrupt(labels, scrubbed)
    if "text" in bad.columns:
        scrubbed = bad
    else:
        labels = bad
    attempted, failed, _ = gates.page_failures(g, labels, scrubbed)
    assert failed == 1
    assert _error_rate(attempted, failed) > 0


def test_pages_gate_counts_unknown_url():
    g = _golden()
    labels, scrubbed = _outputs(g)
    labels = pd.concat([labels, labels.iloc[:1].assign(url="u9")])
    attempted, failed, _ = gates.page_failures(g, labels, scrubbed)
    assert (attempted, failed) == (4, 1)


def test_metrics_gate():
    g = _golden()
    metrics = pd.DataFrame({
        "n_docs": [2, 1], "n_kept": [1, 1],
        "rule_hit_counts": [[("too_short", 1)], [("too_short", 0)]],
        "scrub_stats": [[("email", 1)], [("email", 0)]],
    })
    assert gates.metrics_failures(g, metrics, ["too_short"], ["email"]) == 0
    metrics.loc[0, "n_kept"] = 2
    assert gates.metrics_failures(g, metrics, ["too_short"], ["email"]) == 1


def test_query_gate_ignores_row_order_and_flags_one_value():
    want = pd.DataFrame({"doc_id": [1, 2, 3], "n": [10, 20, 30]})
    got = want.iloc[::-1].reset_index(drop=True)
    assert gates.frames_agree(got, want) == ""
    got.loc[0, "n"] = 31
    assert gates.frames_agree(got, want) != ""
    assert gates.frames_agree(got.iloc[:2], want) != ""


def test_increment_gate():
    want = {"a": pd.DataFrame({"url": ["x"], "keep": [True]}),
            "b": pd.DataFrame({"url": ["y"], "keep": [False]})}
    got = {k: v.copy() for k, v in want.items()}
    assert gates.increment_failures(want, got, set()) == (2, 0)
    assert gates.increment_failures(want, got, {"a"}) == (2, 1)
    assert gates.increment_failures(want, {"a": got["a"]}, set()) == (2, 1)
    got["b"].loc[0, "keep"] = True
    attempted, failed = gates.increment_failures(want, got, set())
    assert _error_rate(attempted, failed) > 0


def test_eventlog_counts_only_the_named_job_group(tmp_path):
    def task(stage, run_ms, launch, finish, sent=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": launch, "Finish Time": finish,
                              "Accumulables": [
                                  {"Name": "data sent to Python workers",
                                   "Update": str(sent)},
                                  {"Name": "internal.metrics.updatedBlock"
                                           "Statuses", "Update": []}]},
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "Input Metrics": {"Bytes Read": 100,
                                                   "Records Read": 5},
                                 "Shuffle Write Metrics": {
                                     "Shuffle Bytes Written": 7}}}
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "headline"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [1],
         "Properties": {"spark.jobGroup.id": "probe"}},
        task(0, 1000, 0, 1000, sent=50), task(0, 3000, 0, 3000),
        task(0, 1000, 0, 1000), task(1, 9000, 0, 9000, sent=999),
    ]
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "events_1_app").write_text(
        "\n".join(json.dumps(e) for e in events) + "\n")
    c = eventlog.counters(str(tmp_path), "headline")
    assert c["spark.jobs"] == 1
    assert c["spark.tasks"] == 3
    assert c["spark.executor_run_s"] == 5.0
    assert c["spark.task_time_max_over_median"] == 3.0
    assert c["spark.input_bytes"] == 300
    assert c["spark.shuffle_write_bytes"] == 21
    assert c["boundary.bytes_to_python"] == 50
    assert c["boundary.rows_to_python"] == 5


def test_benchmark_json_names_every_emitted_layer():
    import kernels
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    layers = {m["name"] for m in spec["per_layer"]}
    assert set(kernels.KERNELS) | {"functions.total_cpu_s"} <= layers
    assert {"setup_s", "wall_s", "docs_per_s"} <= {
        m["name"] for m in spec["end_to_end"]}
