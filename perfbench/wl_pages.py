"""Workload `pages_job`: the north-rule job over seeded synthetic pages.

Untraced flow, three sessions, each set up (start-up plus a warm-up pass).
The first, at local[4], stages the input and runs the whole job once as its
warm-up; the other two, at local[2], warm up on one staged file per core.
The last one then runs the job ``write_outputs(process(pages), out)`` once
untimed and then until the measuring time is used. The job's wall time runs
from the read until all four outputs (result, labels, scrubbed, metrics)
are committed. The last outputs are checked url by url against the golden
oracle.

The traced flow adds a session with the Spark event log on, which re-runs
the job once as the headline, then probes each layer; a mini incremental
resume, one staged file per increment (crash after the first half, restart,
resume one increment at a time); and the job at local[1] and at local[4]
for the 1-to-4 scaling ratio.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
import pyarrow.parquet as pq

import eventlog
import gates
import kernels
import stage
from harness import RUN, f1, noop_write, timed, timed_until

N_PAGES = 2000
N_FILES = 8
# The timed job runs at local[2] on a 4-core host. Each task keeps a JVM
# thread, an Arrow writer thread and a Python worker busy, so local[4] ran
# about twice as many busy threads as cores, and its job times followed the
# host's load: timed in turn within the same minutes, local[4] spread twice
# as much as local[2] (coefficient of variation 0.085 against 0.044).
CORES = 2
# the 4N leg of the traced 1-to-4 ratio, and the cold first session, which
# stages the input and warms the JVM up on the whole job
SCALING_CORES = 4
INCREMENT_FILES = 8  # the traced incremental probe uses every staged file
# With the C2 compiler the job kept speeding up over its first ~8 calls
# while C2's threads competed with the task threads, so a run's timings
# depended on how far that warm-up had got. With C1 only, the second call
# is already at the steady time, and at about the same level.
JVM_C1_ONLY = True


def _read_dir(path: str, columns=None) -> pd.DataFrame:
    return pq.read_table(path, columns=columns).to_pandas()


def run(ctx) -> None:
    from ksana_corpus_builder_spark.functions import quality as Q
    from ksana_corpus_builder_spark.functions import scrub as S
    from ksana_corpus_builder_spark.oracle import golden
    from ksana_corpus_builder_spark.plans.quality_pipeline import (
        process, write_outputs)

    staged: dict[str, str] = {}
    out_dir = os.path.join(RUN, "out", "pages")

    def prepare(spark):
        with ctx.spans.span("sources.stage_s"):
            staged["path"], reused = stage.ensure_stage(
                spark, ctx.seed, N_PAGES, N_FILES)
        ctx.info["stage_reused"] = reused

    def warm_up(spark):
        # one file per core, so every Python worker starts before timing
        cores = spark.sparkContext.defaultParallelism
        files = stage.part_files(staged["path"])[:cores]
        noop_write(process(spark.read.parquet(*files)))

    def warm_up_cold(spark):
        # the first session also runs the whole job once, untimed, so the
        # JVM has compiled the job's hot paths before the first timed call;
        # the golden oracle runs meanwhile on a second thread
        with ThreadPoolExecutor(max_workers=1) as pool:
            fut = pool.submit(lambda: golden.run(_read_dir(staged["path"])))
            write_outputs(process(spark.read.parquet(staged["path"])),
                          os.path.join(RUN, "out", "warm"))
            oracle.append(fut.result())

    def job(spark):
        with ctx.spans.span("job"), ctx.rss.sampling():
            write_outputs(process(spark.read.parquet(staged["path"])), out_dir)

    # three set-ups, then the job timed in the last session for the
    # measuring time. The session's first job is about a tenth slower than
    # the next ones, so it runs untimed, within the measuring time.
    oracle: list[pd.DataFrame] = []
    for i in range(3):
        spark = ctx.sessions.open(SCALING_CORES if i == 0 else CORES,
                                  warm_up_cold if i == 0 else warm_up,
                                  prepare=prepare if i == 0 else None)
    first = timed(lambda: write_outputs(
        process(spark.read.parquet(staged["path"])), out_dir))
    timed_until(ctx.seconds - first, lambda: job(spark))
    gold = oracle[0]

    # correctness: every url of the last job's outputs against the oracle
    labels = _read_dir(os.path.join(out_dir, "labels"))
    scrubbed = _read_dir(os.path.join(out_dir, "scrubbed"))
    metrics = _read_dir(os.path.join(out_dir, "metrics"))
    attempted, failed, keep = gates.page_failures(gold, labels, scrubbed)
    ctx.tally.add(attempted, failed, "pages: urls differ from the oracle")
    ctx.tally.add(1, gates.metrics_failures(gold, metrics, Q.RULE_NAMES,
                                            S.SCRUB_RULE_NAMES),
                  "pages: metrics table totals differ from the oracle")

    wall = statistics.median(ctx.spans.durations("job"))
    ctx.e2e["wall_s"] = wall
    ctx.e2e["docs_per_s"] = N_PAGES / wall
    ctx.e2e["keep_f1"] = f1(gold["keep"].tolist(), keep.tolist())
    ctx.layers.update(_plan_counts(metrics))
    ctx.info["job_s"] = [round(d, 3) for d in ctx.spans.durations("job")]
    ctx.info["last_untraced_s"] = ctx.spans.durations("job")[-1]

    if not ctx.trace:
        return

    # ---- traced session: headline job under the event log, then probes
    spark = ctx.sessions.open(CORES, warm_up, event_log=True,
                              count_setup=False)
    sc = spark.sparkContext
    sc.setJobGroup("headline", "pages_job")
    ctx.layers["trace.headline_s"] = timed(lambda: write_outputs(
        process(spark.read.parquet(staged["path"])), out_dir))
    sc.setJobGroup("probe", "layer probes")
    pages_df = lambda: spark.read.parquet(staged["path"])  # noqa: E731
    ctx.layers["sources.scan_s"] = timed(lambda: pages_df().count())

    def identity(batches):
        yield from batches

    ctx.layers["boundary.identity_s"] = timed(lambda: noop_write(
        pages_df().mapInPandas(identity, schema=pages_df().schema)))
    ctx.layers["plans.process_count_s"] = timed(
        lambda: process(pages_df()).count())
    _write_breakdown(ctx, spark, process(pages_df()),
                     os.path.join(RUN, "out", "probe"))
    app_logs = os.path.join(RUN, "eventlog")

    chunks = [_read_dir(f) for f in stage.part_files(staged["path"])]
    ctx.layers.update(kernels.ladder(chunks, html_col="html"))

    _incremental_probe(ctx, staged["path"], gold, warm_up)

    # ---- the same job at local[1] and local[4]: the 1-to-4 pair
    rate = {}
    for cores in (1, SCALING_CORES):
        spark = ctx.sessions.open(cores, warm_up, count_setup=False)
        rate[cores] = N_PAGES / timed(lambda: write_outputs(
            process(spark.read.parquet(staged["path"])),
            os.path.join(RUN, "out", f"local{cores}")))
    ctx.layers["plans.docs_per_s_local1"] = rate[1]
    ctx.layers["plans.docs_per_s_local4"] = rate[SCALING_CORES]
    ctx.layers["plans.scaling_eff_1_to_4"] = (
        rate[SCALING_CORES] / (SCALING_CORES * rate[1]))
    ctx.layers.update(eventlog.counters(app_logs, "headline"))


def _plan_counts(metrics: pd.DataFrame) -> dict[str, float]:
    """Docs in, docs kept and hits per rule, from the job's own lineage
    rows (the metrics output)."""
    out = {"plans.docs_in": int(metrics["n_docs"].sum()),
           "plans.docs_kept": int(metrics["n_kept"].sum())}
    for col, prefix in (("rule_hit_counts", "plans.rule_hits."),
                        ("scrub_stats", "plans.scrub_hits.")):
        for m in metrics[col]:
            for k, v in gates._items(m):
                out[prefix + k] = out.get(prefix + k, 0) + int(v)
    return out


def _write_breakdown(ctx, spark, result, out_dir: str) -> None:
    """The write path of write_outputs, step by step: the result write, the
    labels and scrubbed projections re-read from it, and the metrics."""
    from ksana_corpus_builder_spark.plans.quality_pipeline import (
        labels, metrics, scrubbed)
    res = os.path.join(out_dir, "result")
    ctx.layers["plans.write_result_s"] = timed(
        lambda: result.write.mode("overwrite").parquet(res))
    full = spark.read.parquet(res)

    def projections():
        labels(full).write.mode("overwrite").parquet(out_dir + "/labels")
        scrubbed(full).write.mode("overwrite").parquet(out_dir + "/scrubbed")

    ctx.layers["plans.write_projections_s"] = timed(projections)
    ctx.layers["plans.metrics_s"] = timed(lambda: metrics(full).write.mode(
        "overwrite").parquet(out_dir + "/metrics"))


def _incremental_probe(ctx, stage_path: str, gold: pd.DataFrame,
                       warm_up) -> None:
    """streaming.incremental over the first INCREMENT_FILES staged files,
    one file per increment: commit the first half, write the next
    increment's output without its marker (the crash), restart the session
    and resume one increment per call. Every increment's output is checked
    against the oracle rows of its input file."""
    from ksana_corpus_builder_spark.plans.quality_pipeline import process
    from ksana_corpus_builder_spark.streaming import incremental as I

    inp = os.path.join(RUN, "incr_input")
    out = os.path.join(RUN, "out", "incr")
    shutil.rmtree(inp, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(inp)
    files = stage.part_files(stage_path)[:INCREMENT_FILES]
    for f in files:
        os.link(f, os.path.join(inp, os.path.basename(f)))

    calls: dict[str, int] = {}

    def batch_fn(df, inc):
        calls[inc] = calls.get(inc, 0) + 1
        return process(df)

    spark = ctx.sessions.spark
    half = INCREMENT_FILES // 2
    first = I.process_new(spark, inp, out, batch_fn, max_increments=half)
    committed_before = {r.increment for r in first}
    crashed = I.list_increments(inp)[half]
    # Spark's part-file names are already marker-safe, so an increment's
    # output dir is named after its file
    process(spark.read.parquet(os.path.join(inp, crashed))).write.mode(
        "overwrite").parquet(os.path.join(out, crashed))

    # restart: a new session resumes from the manifest
    t_restart = time.perf_counter()
    spark = ctx.sessions.open(CORES, warm_up, count_setup=False)
    t0 = time.perf_counter()
    done = I.Checkpoint(out).committed()
    I.list_increments(inp)
    ctx.layers["incremental.listing_s"] = time.perf_counter() - t0
    resumed: list[float] = []
    while True:
        t0 = time.perf_counter()
        got = I.process_new(spark, inp, out, batch_fn, max_increments=1)
        if not got:
            break
        resumed.append(time.perf_counter() - t0)
    ctx.layers["incremental.resume_s"] = time.perf_counter() - t_restart
    ctx.layers["incremental.increment_p50_s"] = statistics.median(resumed)
    ctx.layers["incremental.increment_max_s"] = max(resumed)
    ctx.layers["incremental.increments_done"] = len(first) + len(resumed)
    ctx.layers["incremental.increments_skipped"] = len(done)
    redone = {inc for inc in committed_before if calls.get(inc, 0) > 1}
    ctx.layers["incremental.increments_redone"] = len(redone)

    cols = ["url", "keep", "rules", "lang_detected", "text"]
    g = gold.assign(rules=gold["rules_hit"].map(",".join),
                    text=gold["scrubbed_text"])[cols]
    committed = I.Checkpoint(out).committed()
    expected, got_out = {}, {}
    for f in I.list_increments(inp):
        urls = _read_dir(os.path.join(inp, f), ["url"])["url"]
        expected[f] = g[g["url"].isin(urls)].reset_index(drop=True)
        path = os.path.join(out, f)
        if f in committed and os.path.isdir(path):
            o = _read_dir(path, ["url", "keep", "rules_hit", "lang_detected",
                                 "text"])
            got_out[f] = o.assign(rules=o["rules_hit"].map(
                lambda r: ",".join(r)))[cols]
    attempted, failed = gates.increment_failures(expected, got_out, redone)
    ctx.tally.add(attempted, failed, "incremental: increments differ")
