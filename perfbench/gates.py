"""Correctness gates. Each gate counts operations attempted and failed, so a
run reports an error rate instead of stopping at the first difference.
Pure pandas: the gates are unit-tested without Spark (test_gates.py)."""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import pandas as pd


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    def add(self, attempted: int, failed: int, note: str = "") -> None:
        self.attempted += attempted
        self.failed += failed
        if failed and note:
            self.notes.append(note)


def _as_tuple(v) -> tuple:
    """A list column cell as a tuple; a missing row (NaN) as ()."""
    return () if v is None or isinstance(v, float) else tuple(v)


def page_failures(golden: pd.DataFrame, labels: pd.DataFrame,
                  scrubbed: pd.DataFrame) -> tuple[int, int, pd.Series]:
    """Compare the job's outputs with the golden oracle, url by url.

    A url fails if it is missing from or duplicated in `labels` or
    `scrubbed`, or if its keep, rules_hit, lang_detected or scrubbed text
    differs from the oracle. A url the oracle does not know also fails.
    Returns (attempted, failed, keep per golden url from labels)."""
    g = golden.set_index("url")
    lab_n = labels["url"].value_counts()
    scr_n = scrubbed["url"].value_counts()
    lab = labels.drop_duplicates("url").set_index("url").reindex(g.index)
    scr = scrubbed.drop_duplicates("url").set_index("url").reindex(g.index)
    bad = (lab_n.reindex(g.index).fillna(0) != 1) \
        | (scr_n.reindex(g.index).fillna(0) != 1)
    present = ~bad
    bad |= present & (lab["keep"].astype(object) != g["keep"].astype(object))
    bad |= present & (lab["lang_detected"] != g["lang_detected"])
    bad |= present & (lab["rules_hit"].map(_as_tuple)
                      != g["rules_hit"].map(_as_tuple))
    bad |= present & (scr["text"].map(_utf8) != g["scrubbed_text"].map(_utf8))
    extra = len((set(labels["url"]) | set(scrubbed["url"])) - set(g.index))
    keep = lab["keep"].eq(True)  # a missing url counts as dropped
    return len(g) + extra, int(bad.sum()) + extra, keep


def _utf8(v) -> bytes | None:
    return None if v is None or (isinstance(v, float) and math.isnan(v)) \
        else str(v).encode("utf-8")


def metrics_failures(golden: pd.DataFrame, metrics: pd.DataFrame,
                     rule_names, scrub_names) -> int:
    """The per-partition lineage rows must add up to the oracle's totals:
    docs, kept docs, hits per rule and per scrub rule. 0 or 1."""
    rules = {r: 0 for r in rule_names}
    for hits in golden["rules_hit"]:
        for r in hits:
            rules[r] = rules.get(r, 0) + 1
    got_rules: dict[str, int] = {}
    for m in metrics["rule_hit_counts"]:
        for k, v in _items(m):
            got_rules[k] = got_rules.get(k, 0) + int(v)
    got_scrub: dict[str, int] = {}
    for m in metrics["scrub_stats"]:
        for k, v in _items(m):
            got_scrub[k] = got_scrub.get(k, 0) + int(v)
    want_scrub = {n: int(golden[f"scrub_{n}"].sum()) for n in scrub_names}
    ok = (int(metrics["n_docs"].sum()) == len(golden)
          and int(metrics["n_kept"].sum()) == int(golden["keep"].sum())
          and {k: v for k, v in got_rules.items() if v}
          == {k: v for k, v in rules.items() if v}
          and {k: v for k, v in got_scrub.items() if v}
          == {k: v for k, v in want_scrub.items() if v})
    return 0 if ok else 1


def _items(m):
    """A parquet map column reads back as a list of pairs or a dict."""
    return m.items() if isinstance(m, dict) else m


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Order- and dtype-insensitive form used to compare a query with its
    DuckDB twin; the same normalisation as tools/check_oracle.py."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: None if v is None or (
                isinstance(v, float) and math.isnan(v)) else v)
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        if str(df[c].dtype) in ("int32", "int16", "int8", "uint32", "Int64",
                                "Int32"):
            df[c] = (df[c].astype("float64") if df[c].isna().any()
                     else df[c].astype("int64"))
        if str(df[c].dtype) == "float32":
            df[c] = df[c].astype("float64")
    return df.sort_values(list(df.columns),
                          na_position="first").reset_index(drop=True)


def frames_agree(got: pd.DataFrame, want: pd.DataFrame) -> str:
    """'' when the two frames hold the same rows, else the reason."""
    g, w = normalize(got), normalize(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False,
                                      check_exact=True)
    except AssertionError as e:
        return "values differ: " + str(e).splitlines()[0][:200]
    return ""


def increment_failures(expected: dict[str, pd.DataFrame],
                       got: dict[str, pd.DataFrame | None],
                       redone: set[str]) -> tuple[int, int]:
    """An increment fails if its output is missing, if it was processed
    again after its marker was committed, or if its rows differ from the
    reference rows for the same input file."""
    failed = 0
    for inc, want in expected.items():
        out = got.get(inc)
        if out is None or inc in redone or frames_agree(out, want):
            failed += 1
    return len(expected), failed
