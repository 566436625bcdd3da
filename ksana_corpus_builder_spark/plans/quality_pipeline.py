"""The flagship end-to-end job: Common-Crawl-style pages -> labels +
scrubbed text + per-partition lineage metrics.

Re-imagines the reference's E1 lifecycle (``index.js:477-516``:
config -> parse -> tokenize -> annotate -> finalize -> serialize) as one
declarative DataFrame plan:

    pages (url, warc_ts, html, text, lang)
      -> repartition by url-hash (bucketing stand-in; salts skewed hosts)
      -> ONE mapInPandas pass: extract + langid + quality rules +
         perplexity + scrub           (all vectorized kernels, Arrow batches)
      -> labels(url, keep, rules_hit, lang_detected, lang_score, perplexity)
      -> scrubbed(url, text)          (byte-identical to the golden oracle)
      -> metrics(partition_id, n_docs, n_kept, rule_hit_counts, scrub_stats)
                                      (one row per coalesced split of the
                                       committed result)

The write path (``write_outputs``) commits ``result`` and reads the three
derived tables back from it. Those derived writes are tiny per row and
dear per task and per job: each write task spends ~37 ms deserializing
itself against ~30 ms of work on a 1.26 MB result (its write description
carries the session's ~1k-entry Hadoop configuration), and each job
adds 70-210 ms of commit and planning. So the read-back skips
footer inference, is packed by bytes into few splits, and the three
writes run as concurrent jobs.

Design-for-scale notes:
- the per-document stage is a SINGLE Python pass (one Arrow round-trip, not
  five chained UDFs) — at 10^12 docs the Python boundary is the unit cost,
  so we cross it once;
- no driver-side collect anywhere; metrics aggregate per partition inside
  the same pass (reference buildMeta, ``index.js:293-318``, becomes rows);
- partitioning is explicit: ``repartition(spark_partition_id-free hash of
  url)`` — on Iceberg this is a bucket(url, N) write spec; skewed hosts are
  salted because the hash key is the full url, not the host;
- resumability: callers filter the input by Iceberg snapshot id / or
  anti-join against already-written urls (see streaming/incremental.py).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pandas as pd
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import langid as L
from ..functions import quality as Q
from ..functions import scrub as S
from ..functions.perplexity import perplexity_series
from ..functions.text import extract_text


@dataclass(frozen=True)
class PipelineHooks:
    """User-pluggable lifecycle hooks (U2/U1) — the Spark re-imagination of
    the reference's corpus handler registry + onopentag/onclosetag
    callbacks (index.js:477-516 lifecycle; setHandlers in parsepre.js):

    - ``extra_rules``: {rule_name: Series[str] -> Series[bool]} — extra
      vectorized quality rules, merged into ``rules_hit`` and ANDed into
      ``keep`` exactly like built-in rules. Runs INSIDE the fused batch
      pass, so a plugged rule costs zero extra Python boundaries.
    - ``on_batch``: called with each result batch (post-kernel) — the
      custom-log-sink hook (U5); side effects only, the returned value is
      ignored. Runs on executors: use it for accumulators/logging, not
      driver state.

    Hooks must be picklable (defined at module top level) — they ship to
    executors inside the mapInPandas closure.
    """

    extra_rules: dict[str, Callable[[pd.Series], pd.Series]] = field(
        default_factory=dict)
    on_batch: Callable[[pd.DataFrame], None] | None = None

    def apply_rules(self, text: pd.Series,
                    labels: pd.DataFrame) -> pd.DataFrame:
        """Merge extra rule hits into (keep, rules_hit) — same semantics
        as the built-in rule fold (name appended in rule order, keep ANDed
        with NOT hit)."""
        if not self.extra_rules:
            return labels
        keep = labels["keep"].copy()
        rules_hit = labels["rules_hit"].copy()
        for name, fn in self.extra_rules.items():
            hit = fn(text).astype(bool)
            keep &= ~hit
            rules_hit = rules_hit.combine(
                hit, lambda rh, h: rh + [name] if h else rh)
        return pd.DataFrame({"keep": keep, "rules_hit": rules_hit})

RESULT_SCHEMA = (
    "url string, warc_ts timestamp, lang string, "
    "text string, keep boolean, rules_hit array<string>, "
    "lang_detected string, lang_score double, perplexity double, "
    + ", ".join(f"scrub_{n} long" for n in S.SCRUB_RULE_NAMES)
)


def _process_batch(pdf: pd.DataFrame,
                   hooks: PipelineHooks | None = None) -> pd.DataFrame:
    """One Arrow batch through every kernel. Pure pandas — shared verbatim
    with the golden oracle (oracle/golden.py), which is how byte-identity
    and F1=1.0 are achieved by construction and verified by test."""
    from ..functions import wordstream as W
    text = extract_text(pdf["html"])
    words = text.str.split()  # ONE split shared by rules + langid
    stream = W.build(words)   # ONE flatten+factorize, shared
    chars = W.char_stats(text)  # ONE char-class buffer pass, shared
    labels = Q.rules_hit_and_keep(text, words, stream, chars)
    if hooks is not None:
        labels = hooks.apply_rules(text, labels)
    lang = L.detect(text, words, stream, chars)
    scrubbed = S.scrub_series(text)
    out = pd.DataFrame({
        "url": pdf["url"],
        "warc_ts": pdf["warc_ts"],
        "lang": pdf["lang"],
        "text": scrubbed["text"],
        "keep": labels["keep"],
        "rules_hit": labels["rules_hit"],
        "lang_detected": lang["lang_detected"],
        "lang_score": (lang["lang_hits"] / lang["n_words"].clip(lower=1)).astype("float64"),
        "perplexity": perplexity_series(text),
    })
    for n in S.SCRUB_RULE_NAMES:
        out[f"scrub_{n}"] = scrubbed[f"scrub_{n}"]
    return out


def process(pages: DataFrame, buckets: int | None = None,
            hooks: PipelineHooks | None = None) -> DataFrame:
    """pages -> full result DataFrame (labels + scrubbed + scrub counters).

    ``buckets``: explicit url-hash partition count. None = keep the input
    partitioning (already bucketed Iceberg input at scale).
    ``hooks``: user lifecycle hooks (extra rules, per-batch observers) —
    None keeps the stock pipeline bit-identical.
    """
    df = pages
    if buckets:
        # url-hash bucketing: even distribution regardless of host skew
        df = df.repartition(buckets, F.xxhash64("url"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                out = _process_batch(pdf, hooks)
                if hooks is not None and hooks.on_batch is not None:
                    hooks.on_batch(out)
                yield out

    return df.mapInPandas(run, schema=RESULT_SCHEMA)


TEXT_RESULT_SCHEMA = (
    "doc_id long, text string, keep boolean, rules_hit array<string>, "
    "lang_detected string, perplexity double, "
    + ", ".join(f"scrub_{n} long" for n in S.SCRUB_RULE_NAMES)
)


def process_text_table(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       hooks: PipelineHooks | None = None) -> DataFrame:
    """Same fused single-pass kernel stage for a table whose text is already
    extracted (the `documents` testdata shape). One Python boundary.
    ``hooks`` behaves exactly as in :func:`process`."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            from ..functions import wordstream as W
            text = pdf[text_col].fillna("")
            words = text.str.split()  # ONE split shared by rules + langid
            stream = W.build(words)   # ONE flatten+factorize, shared
            chars = W.char_stats(text)  # ONE char-class pass, shared
            lab = Q.rules_hit_and_keep(text, words, stream, chars)
            if hooks is not None:
                lab = hooks.apply_rules(text, lab)
            lang = L.detect(text, words, stream, chars)
            sc = S.scrub_series(text)
            out = pd.DataFrame({
                "doc_id": pdf[id_col],
                "text": sc["text"],
                "keep": lab["keep"],
                "rules_hit": lab["rules_hit"],
                "lang_detected": lang["lang_detected"],
                "perplexity": perplexity_series(text),
            })
            for n in S.SCRUB_RULE_NAMES:
                out[f"scrub_{n}"] = sc[f"scrub_{n}"]
            if hooks is not None and hooks.on_batch is not None:
                hooks.on_batch(out)
            yield out

    return docs.select(id_col, text_col).mapInPandas(run, schema=TEXT_RESULT_SCHEMA)


def labels(result: DataFrame) -> DataFrame:
    return result.select("url", "keep", "rules_hit", "lang_detected",
                         "lang_score", "perplexity")


def scrubbed(result: DataFrame) -> DataFrame:
    return result.select("url", "text")


def metrics(result: DataFrame, input_snapshot_id: int = 0) -> DataFrame:
    """Per-partition lineage rows — the Spark buildMeta. Aggregated
    map-side (partial agg on spark_partition_id, no meaningful shuffle)."""
    rule_counts = F.map_from_arrays(
        F.array(*[F.lit(r) for r in Q.RULE_NAMES]),
        F.array(*[
            F.sum(F.when(F.array_contains("rules_hit", r), 1).otherwise(0))
            for r in Q.RULE_NAMES
        ]),
    )
    scrub_stats = F.map_from_arrays(
        F.array(*[F.lit(n) for n in S.SCRUB_RULE_NAMES]),
        F.array(*[F.sum(F.col(f"scrub_{n}")) for n in S.SCRUB_RULE_NAMES]),
    )
    return (
        result.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(
            F.lit(input_snapshot_id).alias("input_snapshot_id"),
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            rule_counts.alias("rule_hit_counts"),
            scrub_stats.alias("scrub_stats"),
        )
    )


def _read_splits(read: DataFrame) -> int:
    """``ceil(bytes / split)`` for a file read: the ``sizeInBytes`` Spark
    already computed for the read's relation (optimized-plan stats, no
    I/O) over the session's ``filesMaxPartitionBytes``, read as a long
    from the JVM session state (``spark.conf.get`` returns the unparsed
    default, ``'134217728b'``, under spark-submit)."""
    size = int(read._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    split = read.sparkSession._jsparkSession.sessionState().conf() \
        .filesMaxPartitionBytes()
    return -(-size // split)


def write_outputs(result: DataFrame, out_dir: str, snapshot_id: int = 0) -> None:
    """Persist the four output tables (parquet locally; Iceberg writeTo on a
    cluster). ``result`` is written and committed first; ``labels``,
    ``scrubbed`` and ``metrics`` are then read back from the committed
    ``result``, so at scale the Python pass runs once and the derived
    tables cost a scan each.

    The derived writes are cheap per row and dear per task and per job: a
    write task spends ~37 ms deserializing itself (its write description
    carries the session's whole Hadoop configuration, ~1k entries) against
    ~30 ms of work on a 1.26 MB result, and each job adds 70-210 ms of
    commit and planning. So:

    - the read-back uses ``result``'s own schema (no footer-inference job);
    - it is coalesced to ``max(defaultParallelism, ceil(bytes / split))``
      partitions: Spark's small-file packing without the per-file open
      cost. Sized by bytes, not files, so on a cluster each derived task
      still reads about one split of ``result``; ``coalesce`` is a no-op
      when the read already has fewer partitions;
    - the three derived writes are submitted together from threads that
      inherit the caller's local properties (job group, scheduler pool),
      and the first failure raises.

    ``metrics`` rows are per partition of that read, i.e. one per
    coalesced split; their totals equal ``result``'s."""
    res = f"{out_dir}/result"
    result.write.mode("overwrite").parquet(res)
    spark = result.sparkSession
    full = spark.read.schema(result.schema).parquet(res)
    full = full.coalesce(max(spark.sparkContext.defaultParallelism,
                             _read_splits(full)))
    writes = {
        "labels": labels(full),
        "scrubbed": scrubbed(full),
        "metrics": metrics(full, snapshot_id),
    }

    def write(name: str) -> None:
        writes[name].write.mode("overwrite").parquet(f"{out_dir}/{name}")

    # PySpark pins each Python thread to its own JVM thread, which starts
    # without the caller's local properties (job group, pool, job tags);
    # each wrap copies them anew. Not the session form: it also copies
    # session tags, but returns the session itself when threads are not
    # pinned (PYSPARK_PIN_THREAD=false).
    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        futures = [pool.submit(inheritable_thread_target(write), name)
                   for name in writes]
        for f in futures:
            f.result()
