"""K-means (reference Q9): Lloyd iterations with driver-held centers.

Reference (``functions/map/KMeansMapFunction.cc:188-214``,
``functions/reduce/KMeansReduceFunction.cc:300-345``): the map task
assigns each point to the nearest center by squared L2 (centers read
from a shared param file = a broadcast); the reduce computes per-cluster
element-wise means and appends the new centers back to the shared file
(= collect k*dim doubles to the driver each round).

Spark-first: assignment is a JVM-side expression over the broadcast
centers array (no Python UDF, no crossJoin row blowup — the argmin
folds over a literal array of centers), means via groupBy + per-dim
avg.  Only k*dim scalars ever hit the driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import (
    as_double,
    centers_sql,
    l2_sq_sql,
    sql_ident,
)

# Above this many center*dim literals the expression-tree form costs
# more in analysis/codegen than the Arrow round-trip of the numpy form.
_LITERAL_BUDGET = 4096


def _assign_sql(vec_col: str, centers: list[list[float]]) -> str:
    """The literal-path assignment as ONE SQL expression string: ONE
    transform lambda over a nested centers literal, so the distance
    fold is compiled once and looped over centers at eval time instead
    of k unrolled copies in the expression tree.  array_min over
    (dist, cid) structs orders lexicographically: the smallest distance
    wins, the lowest cid on ties.  A lambda variable shadows a column of
    the same (case-insensitive) name, so one named like ``vec_col`` is
    renamed."""
    c, i = (v if v != vec_col.lower() else f"_{v}" for v in ("c", "i"))
    return (
        f"array_min(transform({centers_sql(centers)}, ({c}, {i}) -> "
        f"struct({l2_sq_sql(vec_col, c)} AS d, {i} AS cid))).cid"
    )


def _assign_numpy(
    df: DataFrame, vec_col: str, centers: list[list[float]], out_col: str
) -> DataFrame:
    """Arrow-batched argmin for large center sets: one
    (batch x dim) @ (dim x k) matmul per batch (||v-c||^2 =
    ||v||^2 - 2 v.c + ||c||^2; ||v||^2 is constant per row so argmin
    needs only the last two terms).  numpy argmin takes the FIRST
    minimum -> lowest cid on exact ties, same rule as the literal form
    (float summation order differs, so near-ties can assign
    differently — document as the approximate-scale path)."""
    c = np.asarray(centers, dtype=np.float64)  # k x dim
    c_t = c.T
    c_sq = (c * c).sum(axis=1)  # k

    @F.pandas_udf("long")
    def nearest(vs: pd.Series) -> pd.Series:
        m = np.asarray(vs.tolist(), dtype=np.float64)
        scores = c_sq - 2.0 * (m @ c_t)  # batch x k
        return pd.Series(scores.argmin(axis=1).astype("int64"))

    return df.withColumn(
        out_col, nearest(as_double(F.col(sql_ident(vec_col))))
    )


def assign_clusters(
    df: DataFrame,
    vec_col: str,
    centers: list[list[float]],
    out_col: str = "cluster",
) -> DataFrame:
    """Nearest-center (squared L2) assignment; ties -> lowest center id
    (matching the reference's strict-< argmin scan in id order,
    KMeansMapFunction.cc:188-214).  ``vec_col`` names a top-level
    column, taken literally (see functions.vectors.sql_ident).

    Up to ``_LITERAL_BUDGET`` center*dim values the centers fold into
    the plan (JVM-side, exact left-fold arithmetic — the oracle-parity
    path); beyond it an Arrow-batched matmul assigns (the large-k path:
    a 65k-cell IVF codebook cannot be a Catalyst literal).
    """
    if len(centers) * len(centers[0]) > _LITERAL_BUDGET:
        return _assign_numpy(df, vec_col, centers, out_col)
    return df.withColumn(out_col, F.expr(_assign_sql(vec_col, centers)))


def lloyd(
    df: DataFrame,
    vec_col: str,
    k: int,
    iterations: int,
    initial_centers: list[list[float]],
    persist_input: bool = True,
) -> tuple[DataFrame, list[list[float]]]:
    """Full Lloyd loop.  Returns (assignments DataFrame, final centers).

    Each iteration: one broadcast-expression assignment pass + one
    groupBy shuffle of (cluster, vec) -> per-dimension means.  Empty
    clusters keep their previous center (reference behavior: a center
    with no points simply gets no update appended for it).

    ``persist_input`` (default True) caches a VECTOR-ONLY projection
    of the input MEMORY_AND_DISK for the iteration loop — the
    canonical Lloyd optimization: without it every iteration's means
    job re-derives the corpus from source (at 100 TB, ``iterations``
    full re-scans; only the vector column is cached, not ids or
    payload).  Unlike the lazy-result caches elsewhere (see
    pq_rerank_topk), this one has NO caller-owned contract: every
    iteration job is eager (the means collect), so the projection is
    unpersisted before returning, and the returned assignments
    DataFrame derives from the ORIGINAL ``df``, not the cache.
    """
    dim = len(initial_centers[0])
    centers = [list(map(float, c)) for c in initial_centers]
    vecs = df.select(F.col(sql_ident(vec_col)))
    cached = persist_input and iterations > 0
    if cached:
        from pyspark import StorageLevel

        vecs = vecs.persist(StorageLevel.MEMORY_AND_DISK)
    # Per-dimension means as ONE expr string: `array(avg(v[0]), ..)` is
    # the same `dim` independent avg aggregates (identical partial/final
    # arithmetic), only projected into an array after aggregation.
    v = f"CAST({sql_ident(vec_col)} AS ARRAY<DOUBLE>)"
    means_sql = (
        "array(" + ",".join(f"avg({v}[{i}])" for i in range(dim)) + ") AS __ms"
    )
    try:
        for _ in range(iterations):
            assigned = assign_clusters(vecs, vec_col, centers)
            means = (
                assigned.groupBy("cluster")
                .agg(F.expr(means_sql))
                .collect()
            )
            new_centers = list(centers)
            for row in means:
                new_centers[row["cluster"]] = [
                    float(x) for x in row["__ms"]
                ]
            centers = new_centers
    finally:
        if cached:
            vecs.unpersist()
    return assign_clusters(df, vec_col, centers), centers
