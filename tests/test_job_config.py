"""Config-driven job invocation (the reference's <id>-corpus.json source,
S3): jobs/quality_filter_job.py --config merges JSON config under CLI
flags. Runs main() in-process against the shared test session."""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

from ksana_corpus_builder_spark.sources.pages import make_pages_pdf

JOBS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs")


def test_job_runs_from_config(spark, tmp_path, monkeypatch):
    inp = tmp_path / "in"
    inp.mkdir()
    pq.write_table(pa.Table.from_pandas(make_pages_pdf(40)),
                   inp / "b0.parquet",
                   coerce_timestamps="us", allow_truncated_timestamps=True)
    out = tmp_path / "out"
    cfg = tmp_path / "job.json"
    cfg.write_text(json.dumps({
        "input": str(inp), "output": str(out), "buckets": 2,
        "snapshot_id": 7,
    }))

    sys.path.insert(0, JOBS)
    import quality_filter_job as job

    monkeypatch.setattr(sys, "argv", ["job", "--config", str(cfg)])
    job.main()

    labels = spark.read.parquet(str(out / "labels"))
    assert labels.count() == 40
    metrics = spark.read.parquet(str(out / "metrics")).collect()
    assert all(r.input_snapshot_id == 7 for r in metrics)  # lineage carried


def test_job_config_cli_override(spark, tmp_path, monkeypatch):
    inp = tmp_path / "in"
    inp.mkdir()
    pq.write_table(pa.Table.from_pandas(make_pages_pdf(10)),
                   inp / "b0.parquet",
                   coerce_timestamps="us", allow_truncated_timestamps=True)
    cfg = tmp_path / "job.json"
    cfg.write_text(json.dumps({"input": str(tmp_path / "WRONG"),
                               "output": str(tmp_path / "o1")}))

    sys.path.insert(0, JOBS)
    import quality_filter_job as job

    out = tmp_path / "o2"
    monkeypatch.setattr(sys, "argv", [
        "job", "--config", str(cfg), "--input", str(inp),
        "--output", str(out)])  # flags beat config
    job.main()
    assert spark.read.parquet(str(out / "labels")).count() == 10
