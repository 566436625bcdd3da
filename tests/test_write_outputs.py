"""write_outputs: the four tables it writes, how many tasks the derived
writes run, the job group they run under, and failure propagation."""

from __future__ import annotations

import math
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ksana_corpus_builder_spark.functions import quality as Q
from ksana_corpus_builder_spark.functions import scrub as S
from ksana_corpus_builder_spark.plans import quality_pipeline as qp
from ksana_corpus_builder_spark.sources.pages import pages_df

SPLIT_KEY = "spark.sql.files.maxPartitionBytes"


def _result(spark, n: int, files: int):
    """A materialized pipeline result with ``files`` non-empty partitions,
    so writing it gives ``files`` part files."""
    return qp.process(pages_df(spark, n, slices=files)).localCheckpoint()


def _parts(path: str) -> list[str]:
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if f.endswith(".parquet"))


def _read(path: str):
    return pq.read_table(path).to_pandas()


@pytest.fixture
def split_bytes(spark):
    """Sets the session's split size for one test, then restores it."""
    old = spark.conf.get(SPLIT_KEY)
    yield lambda n: spark.conf.set(SPLIT_KEY, str(n))
    spark.conf.set(SPLIT_KEY, old)


def test_derived_tables_match_result(spark, tmp_path):
    out = str(tmp_path)
    qp.write_outputs(_result(spark, 120, 4), out, snapshot_id=7)
    res = _read(f"{out}/result").sort_values("url", ignore_index=True)
    assert len(res) == 120

    lab = _read(f"{out}/labels").sort_values("url", ignore_index=True)
    cols = ["url", "keep", "rules_hit", "lang_detected", "lang_score",
            "perplexity"]
    assert list(lab.columns) == cols
    exp = res[cols].copy()
    for df in (lab, exp):
        df["rules_hit"] = df["rules_hit"].map(tuple)
    assert lab.equals(exp)

    scr = _read(f"{out}/scrubbed").sort_values("url", ignore_index=True)
    assert scr.equals(res[["url", "text"]])

    met = _read(f"{out}/metrics")
    assert set(met["input_snapshot_id"]) == {7}
    assert met["n_docs"].sum() == len(res)
    assert met["n_kept"].sum() == res["keep"].sum()
    for rule in Q.RULE_NAMES:
        got = sum(dict(m)[rule] for m in met["rule_hit_counts"])
        assert got == sum(rule in rh for rh in res["rules_hit"]), rule
    for name in S.SCRUB_RULE_NAMES:
        got = sum(dict(m)[name] for m in met["scrub_stats"])
        assert got == res[f"scrub_{name}"].sum(), name


def test_tiny_result_packs_to_default_parallelism(spark, tmp_path,
                                                  split_bytes):
    cores = spark.sparkContext.defaultParallelism
    split_bytes(1 << 20)
    out = str(tmp_path)
    qp.write_outputs(_result(spark, 4 * cores, 2 * cores), out)
    assert len(_parts(f"{out}/result")) == 2 * cores
    assert sum(os.path.getsize(p) for p in _parts(f"{out}/result")) < 1 << 20
    assert len(_parts(f"{out}/labels")) == cores
    assert len(_read(f"{out}/metrics")) == cores


def test_large_result_gets_one_task_per_split(spark, tmp_path, split_bytes):
    cores = spark.sparkContext.defaultParallelism
    files = 5 * cores
    result = _result(spark, 10 * files, files)
    # the result's file sizes are deterministic: measure them on a first
    # write, then size the split so the bytes need more splits than cores
    qp.write_outputs(result, str(tmp_path / "probe"))
    sizes = [os.path.getsize(p) for p in _parts(str(tmp_path / "probe/result"))]
    assert len(sizes) == files
    split = 2 * max(sizes)
    want = math.ceil(sum(sizes) / split)
    assert cores < want < files

    split_bytes(split)
    out = str(tmp_path / "out")
    qp.write_outputs(result, out)
    assert [os.path.getsize(p) for p in _parts(f"{out}/result")] == sizes
    assert len(_parts(f"{out}/labels")) == want
    assert len(_parts(f"{out}/scrubbed")) == want
    assert len(_read(f"{out}/metrics")) == want


def test_derived_writes_keep_the_callers_job_group(spark, tmp_path):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    result = _result(spark, 40, 4)
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("wo", "write_outputs job group")
    try:
        qp.write_outputs(result, str(tmp_path))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    # the result write plus the three derived writes, none outside the group
    assert len(tracker.getJobIdsForGroup("wo")) >= 4
    assert not set(tracker.getJobIdsForGroup(None)) - ungrouped


def test_failed_derived_write_raises(spark, tmp_path, monkeypatch):
    def failing_scrubbed(result):
        return result.select("url", F.coalesce(
            F.raise_error(F.lit("scrubbed write failed")).cast("string"),
            F.col("text")).alias("text"))

    monkeypatch.setattr(qp, "scrubbed", failing_scrubbed)
    with pytest.raises(Exception, match="scrubbed write failed"):
        qp.write_outputs(_result(spark, 40, 4), str(tmp_path))
