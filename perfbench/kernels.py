"""Per-kernel timings on one core, in the benchmark process.

Runs the kernel chain of the fused pass (plans/quality_pipeline) chunk by
chunk, each chunk the size of one Arrow batch a task would see, and times
every kernel call separately. The chain passes the shared precomputes
(split, word stream, char stats) to rules and langid, as the fused pass
does.
"""

from __future__ import annotations

import time

KERNELS = (
    "functions.text.extract_text_s",
    "functions.split_s",
    "functions.wordstream.build_s",
    "functions.wordstream.char_stats_s",
    "functions.quality.rules_hit_and_keep_s",
    "functions.langid.detect_s",
    "functions.scrub.scrub_series_s",
    "functions.perplexity.perplexity_series_s",
)


def ladder(chunks, html_col: str | None, text_col: str = "text") -> dict[str, float]:
    """Seconds per kernel summed over ``chunks`` (pandas DataFrames), plus
    ``functions.total_cpu_s``. With ``html_col`` None the text is taken as
    already extracted and extract_text reports 0."""
    from ksana_corpus_builder_spark.functions import langid as L
    from ksana_corpus_builder_spark.functions import quality as Q
    from ksana_corpus_builder_spark.functions import scrub as S
    from ksana_corpus_builder_spark.functions import wordstream as W
    from ksana_corpus_builder_spark.functions.perplexity import \
        perplexity_series
    from ksana_corpus_builder_spark.functions.text import extract_text

    out = dict.fromkeys(KERNELS, 0.0)

    def timed(name, fn, *args):
        t0 = time.thread_time()
        r = fn(*args)
        out[name] += time.thread_time() - t0
        return r

    for pdf in chunks:
        if html_col is not None:
            text = timed(KERNELS[0], extract_text, pdf[html_col])
        else:
            text = pdf[text_col].fillna("")
        words = timed(KERNELS[1], lambda t: t.str.split(), text)
        stream = timed(KERNELS[2], W.build, words)
        chars = timed(KERNELS[3], W.char_stats, text)
        timed(KERNELS[4], Q.rules_hit_and_keep, text, words, stream, chars)
        timed(KERNELS[5], L.detect, text, words, stream, chars)
        timed(KERNELS[6], S.scrub_series, text)
        timed(KERNELS[7], perplexity_series, text)
    out["functions.total_cpu_s"] = sum(out[k] for k in KERNELS)
    return out
