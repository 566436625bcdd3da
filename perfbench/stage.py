"""Seeded, cached input staging for the pages workloads.

The pages table is generated by the program's own generator,
``sources.pages.pages_df(seed=...)``, into a cache directory keyed by seed,
page count, file count and a fingerprint of the generator source. A cached
stage is reused only after its row count, first row and last row match rows
generated afresh for the same seed; otherwise it is regenerated.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil

import pyarrow.parquet as pq

from harness import CACHE, PACKAGE, ROOT

# The generator: pages.py builds the rows, functions/text.py defines the
# `text` column (extract_text of the html).
GENERATOR_SOURCES = ("sources/pages.py", "functions/text.py")
CHECK_COLUMNS = ("url", "warc_ts", "html", "text", "lang")


def generator_fingerprint() -> str:
    h = hashlib.sha256()
    for rel in GENERATOR_SOURCES:
        with open(os.path.join(ROOT, PACKAGE, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def stage_dir(seed: int, n_pages: int, n_files: int) -> str:
    key = f"pages_s{seed}_n{n_pages}_f{n_files}_{generator_fingerprint()}"
    return os.path.join(CACHE, key)


def part_files(path: str) -> list[str]:
    """The staged parquet files in id order (Spark numbers them by slice,
    and each slice holds a contiguous id range)."""
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if f.endswith(".parquet") and not f.startswith(("_", ".")))


def _row(table, i: int) -> dict:
    row = {c: table.column(c)[i].as_py() for c in CHECK_COLUMNS}
    ts = row["warc_ts"]
    if ts is not None and ts.tzinfo is not None:  # Spark writes UTC instants
        row["warc_ts"] = ts.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return row


def stage_matches(path: str, seed: int, n_pages: int, n_files: int) -> bool:
    """Row count, file count, first row and last row agree with freshly
    generated rows."""
    from ksana_corpus_builder_spark.sources.pages import make_pages_pdf
    if not os.path.isfile(os.path.join(path, "_SUCCESS")):
        return False
    files = part_files(path)
    if len(files) != n_files:
        return False
    if sum(pq.ParquetFile(f).metadata.num_rows for f in files) != n_pages:
        return False
    first = pq.read_table(files[0], columns=list(CHECK_COLUMNS))
    last = pq.read_table(files[-1], columns=list(CHECK_COLUMNS))
    if first.num_rows == 0 or last.num_rows == 0:
        return False
    for got, start in ((_row(first, 0), 0),
                       (_row(last, last.num_rows - 1), n_pages - 1)):
        exp = make_pages_pdf(1, seed=seed, start_id=start).iloc[0]
        want = {"url": exp["url"], "warc_ts": exp["warc_ts"].to_pydatetime(),
                "html": bytes(exp["html"]), "text": exp["text"],
                "lang": exp["lang"]}
        if got != want:
            return False
    return True


def _prune(keep: str, max_stages: int = 24) -> None:
    """Bound the cache: drop the least recently used stages beyond
    ``max_stages`` (a stage is about 10 MB)."""
    stages = [os.path.join(CACHE, d) for d in os.listdir(CACHE)
              if d.startswith("pages_")]
    stages.sort(key=os.path.getmtime, reverse=True)
    for old in [s for s in stages if s != keep][max_stages - 1:]:
        shutil.rmtree(old, ignore_errors=True)


def ensure_stage(spark, seed: int, n_pages: int, n_files: int) -> tuple[str, bool]:
    """Return (path, reused). Generates the stage with pages_df when the
    cache has no valid copy; the write goes to a temp dir renamed into
    place, so an interrupted run never leaves a half stage behind."""
    from ksana_corpus_builder_spark.sources.pages import pages_df
    path = stage_dir(seed, n_pages, n_files)
    _prune(keep=path)
    if os.path.isdir(path):
        if stage_matches(path, seed, n_pages, n_files):
            os.utime(path)
            return path, True
        shutil.rmtree(path)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    pages_df(spark, n_pages, seed=seed, slices=n_files).write.parquet(tmp)
    os.replace(tmp, path)
    if not stage_matches(path, seed, n_pages, n_files):
        raise RuntimeError(f"freshly staged pages at {path} fail validation")
    return path, False
