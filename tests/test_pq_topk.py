"""pq_topk squares in DOUBLE, like its DuckDB twin. A near-tie fixture: one
vector sits between two centroids whose subspace-0 distances agree in exact
arithmetic; squaring the float32 elements in float32 rounds one of them a
micro-unit lower and flips the vector's code."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ksana_corpus_builder_spark.queries import ORACLE_SQL, QUERIES
from ksana_corpus_builder_spark.queries_ext import _PQ_K, _PQ_M, _PQ_SUB

DIM = _PQ_M * _PQ_SUB
TIED = 1, 2  # centroid ids the probe vector sits between in subspace 0
PROBE = _PQ_K  # the first non-centroid vec_id


def _d6(a: np.ndarray, b: np.ndarray, float32: bool) -> float:
    """The plan's subspace distance in micro-units before rounding: squares
    in float32 or in double, summed left to right in double."""
    t = np.float32 if float32 else np.float64
    acc = 0.0
    for x in (a.astype(t) - b.astype(t)) ** 2:
        acc += float(x)
    return acc * 1e6


def _argmin_code(d6s: list[float]) -> int:
    return min(range(len(d6s)), key=lambda c: (round(d6s[c]), c))


def _near_tie(rng):
    """A probe and two centroids mirrored about it: the double plan ties
    them (lower id wins), the float32 plan picks the other one."""
    while True:
        v = rng.random(_PQ_SUB).astype(np.float32)
        c0 = rng.random(_PQ_SUB).astype(np.float32)
        c1 = (2 * v.astype(np.float64) - c0).astype(np.float32)
        exact = [_d6(v, c, False) for c in (c0, c1)]
        if any(abs(x - round(x) - 0.5) < 0.1 for x in exact):
            continue  # keep clear of the rounding midpoint
        f32 = [_d6(v, c, True) for c in (c0, c1)]
        if _argmin_code(exact) != _argmin_code(f32):
            return v, c0, c1


def _embeddings(tmp_path):
    rng = np.random.default_rng(7)
    emb = rng.random((PROBE + 1, DIM)).astype(np.float32)
    emb[:_PQ_K, :_PQ_SUB] += 10  # every other centroid far in subspace 0
    v, c0, c1 = _near_tie(rng)
    emb[PROBE, :_PQ_SUB], emb[TIED[0], :_PQ_SUB], emb[TIED[1], :_PQ_SUB] = v, c0, c1
    table = pa.table({
        "vec_id": pa.array(range(PROBE + 1), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array([0] * (PROBE + 1), pa.int32()),
    })
    pq.write_table(table, tmp_path / "embeddings.parquet")
    return emb


def test_pq_topk_near_tie_matches_twin(spark, tmp_path):
    emb = _embeddings(tmp_path)
    sub = slice(0, _PQ_SUB)
    codes = {f32: _argmin_code([_d6(emb[PROBE, sub], emb[c, sub], f32)
                                for c in range(_PQ_K)])
             for f32 in (False, True)}
    assert codes == {False: TIED[0], True: TIED[1]}  # the fixture bites

    got = QUERIES["pq_topk"](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"'{tmp_path / 'embeddings.parquet'}'")
    exp = con.execute(ORACLE_SQL["pq_topk"]).fetchdf()

    def norm(df):
        return (df[sorted(df.columns)].astype("int64")
                .sort_values("vec_id").reset_index(drop=True))

    pd.testing.assert_frame_equal(norm(got), norm(exp), check_exact=True)
    assert norm(got).set_index("vec_id").loc[PROBE, "c0"] == TIED[0]
