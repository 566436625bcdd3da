"""Smoke: every queries() entry runs at sf0.001 and returns a stable schema.
(Full value-level oracle comparison: tools/check_oracle.py at sf0.01 and the
driver's own gate.)"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"
QS = entrymod.queries()


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert {"doc_id", "keep", "lang_detected"} <= set(df.columns)


@pytest.mark.parametrize("name", sorted(QS))
def test_query_runs(spark, name):
    df = QS[name](spark, SF)
    assert df.columns  # schema resolves
    df.limit(3).collect()  # executes


def test_oracle_keys_subset():
    assert set(entrymod.oracle_sql()) <= set(QS)


def test_classifier_train_golden_and_learns(spark):
    """The distributed 2-iteration batch perceptron matches a pure
    pandas/hashlib golden replay weight-for-weight, and it LEARNS: the
    misclassified count under w1 is below n_docs (w0=0 misclassifies
    everything), and w2's update only touches buckets of docs still
    misclassified under w1."""
    import hashlib
    from collections import Counter

    import pandas as pd

    df = QS["classifier_train"](spark, SF)
    got = {r.b: (r.w1, r.w2) for r in df.collect()}
    assert len(got) == 512

    docs = pd.read_parquet(f"{SF}/documents.parquet",
                           columns=["doc_id", "text", "n_chars"])
    B, THR = 512, 300
    per_doc = []  # (y, Counter{b: cnt})
    for _, row in docs.iterrows():
        y = 1 if row.n_chars >= THR else -1
        cnt = Counter(
            int(hashlib.md5(t.encode()).hexdigest()[:7], 16) % B
            for t in row.text.split(" ") if t != "")
        per_doc.append((y, cnt))
    w1 = Counter()
    for y, cnt in per_doc:
        for b, c in cnt.items():
            w1[b] += y * c
    mis = [(y, cnt) for y, cnt in per_doc
           if y * sum(c * w1[b] for b, c in cnt.items()) <= 0]
    w2 = Counter(w1)
    for y, cnt in mis:
        for b, c in cnt.items():
            w2[b] += y * c
    for b in range(B):
        assert got[b] == (w1[b], w2[b]), (b, got[b], (w1[b], w2[b]))
    # learnability: w1 already classifies some docs correctly
    assert 0 < len(mis) < len(per_doc)


def test_quality_classifier_feature_count_and_sign_rule(spark):
    """fastText-shape invariants: n_feats == 2*n_tok - 1 for docs with
    >= 2 tokens (unigrams + wordNgrams=2 bigrams, token multiplicity
    preserved), n_feats == n_tok below that; keep == (n_feats > 0 AND
    qc_score >= 0) — the integer sign rule that equals the sign of the
    mean-pooled linear score."""
    from pyspark.sql import functions as F
    df = QS["quality_classifier"](spark, SF)
    toks = F.filter(F.split("text", " "), lambda x: x != F.lit(""))
    d = (spark.read.parquet(f"{SF}/documents.parquet")
         .select("doc_id", F.size(toks).alias("n_tok")))
    rows = df.join(d, "doc_id").collect()
    assert rows
    for r in rows:
        expect = 2 * r.n_tok - 1 if r.n_tok >= 2 else r.n_tok
        assert r.n_feats == expect, r
        assert r.keep == (r.n_feats > 0 and r.qc_score >= 0), r


def test_stage_pages_idempotent_reuse_and_drift_restage(spark):
    """stage_pages must REUSE a sentinel-valid stage (composition queries
    whose sub-stacks each stage — host_reputation joins three — would
    otherwise invalidate earlier DataFrames' captured file lists
    mid-plan) and must RESTAGE when content drifts even at matching
    cardinality (the ADVICE r4 #2 sentinel discipline)."""
    import os

    import pyarrow.parquet as pq

    from ksana_corpus_builder_spark.queries import stage_pages
    from ksana_corpus_builder_spark.sources.pages import STAGE_PATH

    path = stage_pages(spark, SF)
    parts = sorted(os.path.join(path, f) for f in os.listdir(path)
                   if f.endswith(".parquet"))
    mtimes = {p: os.path.getmtime(p) for p in parts}
    # second call: valid stage -> byte-identical reuse, no rewrite
    assert stage_pages(spark, SF) == STAGE_PATH
    parts2 = sorted(os.path.join(path, f) for f in os.listdir(path)
                    if f.endswith(".parquet"))
    assert parts2 == parts
    assert all(os.path.getmtime(p) == mtimes[p] for p in parts)
    # drift: corrupt the sentinel row's file (keep cardinality) -> restage
    first = parts[0]
    t = pq.read_table(first)
    pdf = t.to_pandas()
    pdf.loc[0, "text"] = "DRIFTED " + str(pdf.loc[0, "text"])
    import pyarrow as pa
    pq.write_table(pa.Table.from_pandas(pdf, schema=t.schema), first)
    assert stage_pages(spark, SF) == STAGE_PATH
    back = pq.read_table(
        sorted(os.path.join(path, f) for f in os.listdir(path)
               if f.endswith(".parquet"))[0],
        columns=["text"]).to_pandas()
    assert not str(back.iloc[0]["text"]).startswith("DRIFTED")
    # drift in the last row of the highest-numbered part file only -> restage
    parts = sorted(os.path.join(path, f) for f in os.listdir(path)
                   if f.endswith(".parquet"))
    last = parts[-1]
    t = pq.read_table(last)
    pdf = t.to_pandas()
    pdf.loc[len(pdf) - 1, "text"] = "DRIFTED " + str(pdf.loc[len(pdf) - 1, "text"])
    pq.write_table(pa.Table.from_pandas(pdf, schema=t.schema), last)
    assert stage_pages(spark, SF) == STAGE_PATH
    back = pq.read_table(
        sorted(os.path.join(path, f) for f in os.listdir(path)
               if f.endswith(".parquet"))[-1],
        columns=["text"]).to_pandas()
    assert not str(back.iloc[-1]["text"]).startswith("DRIFTED")


def test_stage_jsonl_bytes_and_reuse(tmp_path, monkeypatch):
    """stage_jsonl writes one compact ASCII JSON object per page (html as
    base64) and reuses a stage whose count and first/last lines match."""
    import base64
    import json
    import os

    from ksana_corpus_builder_spark.sources import pages

    path = str(tmp_path / "current.jsonl")
    monkeypatch.setattr(pages, "JSONL_PATH", path)
    assert pages.stage_jsonl() == path
    with open(path, "rb") as f:
        raw = f.read()
    lines = raw.decode("ascii").split("\n")
    assert lines[-1] == "" and len(lines) == pages.STAGE_N + 1
    for line, i in ((lines[0], 0), (lines[-2], pages.STAGE_N - 1)):
        pdf = pages.make_pages_pdf(1, seed=42, start_id=i)
        row = {
            "url": pdf["url"][0],
            "warc_ts": pdf["warc_ts"][0].isoformat(),
            "html_b64": base64.b64encode(bytes(pdf["html"][0])).decode(),
            "text": pdf["text"][0],
            "lang": pdf["lang"][0],
        }
        assert line == json.dumps(row, ensure_ascii=True,
                                  separators=(",", ":"))
    mtime = os.stat(path).st_mtime_ns
    assert pages.stage_jsonl() == path
    assert os.stat(path).st_mtime_ns == mtime
    with open(path, "rb") as f:
        assert f.read() == raw
