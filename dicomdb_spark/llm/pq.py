"""Product-quantization ANN: train per-subspace codebooks, encode the
corpus as tiny code ids, score queries via asymmetric distance
computation (ADC) — the memory-side scale path for embedding search
(Jégou, Douze & Schmid, "Product Quantization for Nearest Neighbor
Search", IEEE TPAMI 2011 — public method).

Why PQ at 100 TB: a 64-dim float64 vector is 512 bytes; its PQ code is
``m`` small ints (4 bytes here).  The corpus side of the search touches
ONLY the code table (a >100× shrink), and distances come from a
(query × m × k) lookup table that is broadcast — so the scan is a
map-side hash-join + sum over a table that fits in memory at any
corpus size.  Candidates never pairwise-join: ADC is additive over
subspaces, one groupBy(query, vector) sum.

Determinism doctrine (same as llm/clustering.py): codebooks come from
the deterministic k-means (lowest-id seeds, floor-scaled integer
distances, exact integer centroid sums), and ADC partial distances are
floor-scaled int64 — so ranks are bit-identical across engines,
partitionings, and re-runs, and a DuckDB oracle can replay training +
encoding + search end-to-end.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dicomdb_spark.llm.similarity import _SCALE, fixed_dist2_col, fixed_sum


def _sub(vec_col: str, s: int, sub_dim: int):
    """1-based slice of subspace ``s``."""
    return F.slice(F.col(vec_col), 1 + s * sub_dim, sub_dim)


def _explode_subspaces(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    sub_dim: int,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, sub, sv, *extra_cols): every vector split into its m
    subvectors — one row-local explode, no shuffle.  NULL vectors are
    dropped — not encodable, and a None subvector crashes the numpy
    assign batch (r13 null-probe find).  ``extra_cols`` ride along
    row-locally (e.g. a precomputed IVF cell id, so the encoder's
    output needs no join back on the vector id — guide §2.4)."""
    vectors = vectors.filter(F.col(vec_col).isNotNull())
    return vectors.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("sub"),
                        _sub(vec_col, s, sub_dim).alias("sv"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("e"),
    ).select(id_col, *extra_cols, "e.sub", "e.sv")


def _assign_joint(
    exploded: DataFrame,
    books: list[list[list[float]]],
    id_col: str,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, sub, code) for every subvector against its own subspace's
    broadcast codebook — ONE map-only pass over all subspaces (the
    per-batch numpy groups rows by sub).  The same fixed_sum squared
    distance as llm/clustering.assign_clusters."""
    import numpy as np

    mats = [np.asarray(b, dtype=np.float64) for b in books]

    @F.pandas_udf("int")
    def _assign(sub: pd.Series, sv: pd.Series) -> pd.Series:
        out = np.empty(len(sub), dtype=np.int32)
        subs = sub.to_numpy()
        A = np.vstack(sv.to_numpy()).astype(np.float64)
        for s in np.unique(subs):
            C = mats[s]
            idx = np.nonzero(subs == s)[0]
            d = np.empty((len(idx), C.shape[0]), dtype=np.int64)
            for j in range(C.shape[0]):
                diff = A[idx] - C[j]
                d[:, j] = fixed_sum(diff, diff)
            out[idx] = np.argmin(d, axis=1).astype(np.int32)
        return pd.Series(out)

    # coalesce(-1) is an identity (the UDF never returns null) that
    # makes `code` statically non-nullable: the inner join on code in
    # pq_topk would otherwise infer isnotnull(code) and push it below
    # this projection, re-evaluating the whole UDF a second time
    # (guide §4.4 — the same constant-fold fix as
    # similarity.bucketed_norm_corpus's coalesce(bucket, ''))
    return exploded.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        "sub",
        "sv",
        F.coalesce(
            _assign(F.col("sub"), F.col("sv").cast("array<double>")), F.lit(-1)
        ).alias("code"),
    )


def train_codebooks(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    m: int = 4,
    sub_dim: int = 16,
    k: int = 8,
    iters: int = 1,
) -> list[list[list[float]]]:
    """All-subspace deterministic k-means codebooks, trained JOINTLY:
    the corpus explodes once into (id, sub, subvector) rows and every
    round is ONE assignment pass + ONE (sub, cid, pos) aggregate —
    2 driver collects total instead of 2·m sequential per-subspace
    loops (the m-fold job-latency cut matters because each round is
    driver-synchronous by nature).  Arithmetic is bit-identical to the
    per-subspace formulation (and to llm/clustering.kmeans_fit): seeds
    are the k lowest-id subvectors, distances/centroids floor-scaled
    exact ints.  Driver holds m·k·sub_dim doubles.
    """
    exploded = _explode_subspaces(vectors, id_col, vec_col, m, sub_dim)
    seeds = (
        exploded.filter(F.col(id_col) < k)
        .select(id_col, "sub", F.col("sv").cast("array<double>").alias("sv"))
        .collect()
    )
    books: list[list[list[float]]] = [
        [
            list(map(float, r["sv"]))
            for r in sorted(
                (r for r in seeds if r["sub"] == s), key=lambda r: r[id_col]
            )
        ]
        for s in range(m)
    ]
    for _ in range(iters):
        assigned = _assign_joint(exploded, books, id_col)
        agg = (
            assigned.select(
                "sub", "code", F.posexplode(F.col("sv").cast("array<double>"))
            )
            .groupBy("sub", "code", "pos")
            .agg(
                F.sum(F.floor(F.col("col") * _SCALE).cast("long")).alias("s"),
                F.count("*").alias("n"),
            )
            .select(
                "sub",
                "code",
                "pos",
                (F.col("s").cast("double") / F.col("n") / F.lit(_SCALE)).alias("mv"),
            )
            .collect()
        )
        by_key: dict[tuple[int, int], dict[int, float]] = {}
        for r in agg:
            by_key.setdefault((r.sub, r.code), {})[r.pos] = r.mv
        books = [
            [
                [by_key[(s, c)][p] for p in sorted(by_key[(s, c)])]
                for c in sorted(cc for ss, cc in by_key if ss == s)
            ]
            for s in range(m)
        ]
    return books


def encode(
    vectors: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "v",
    sub_dim: int = 16,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Corpus → (id, sub, code, *extra_cols): the nearest codeword per
    subspace.  One row-local explode + one map-only joint assignment
    against the broadcast codebooks — the 100×-smaller table every
    later search touches.  ``extra_cols`` (e.g. the IVF cell) ride
    along row-locally instead of being joined back on the id."""
    m = len(books)
    exploded = _explode_subspaces(vectors, id_col, vec_col, m, sub_dim, extra_cols)
    return _assign_joint(exploded, books, id_col, extra_cols).select(
        id_col, *extra_cols, "sub", F.col("code")
    )


def adc_lut(
    spark: SparkSession,
    queries: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "v",
    sub_dim: int = 16,
) -> DataFrame:
    """(query_id, sub, code, d_i): floor-scaled int64 squared distance
    from each query subvector to each codeword.  n_queries · m · k rows
    — broadcast-sized by construction (the query batch is small; the
    codebook is constant)."""
    rows = [
        (s, cid, [float(x) for x in cv])
        for s, book in enumerate(books)
        for cid, cv in enumerate(book)
    ]
    cb = spark.createDataFrame(rows, "sub int, code int, cv array<double>")
    m = len(books)
    qsub = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("sub"),
                        _sub(vec_col, s, sub_dim).alias("qv"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("e"),
    ).select("query_id", "e.sub", "e.qv")
    return qsub.join(F.broadcast(cb), "sub").select(
        "query_id", "sub", "code", fixed_dist2_col("qv", "cv").alias("d_i")
    )


def pq_topk(
    codes: DataFrame,
    lut: DataFrame,
    topk: int = 3,
    id_col: str = "vec_id",
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """ADC search: corpus codes hash-join the broadcast LUT on
    (sub, code), one exact-int sum per (query, vector), window top-k
    by smallest approximate distance (unique neighbor-id tiebreak).
    The corpus side never shuffles more than the (query × corpus)
    partial-sum aggregate — additive over subspaces, no pairwise
    vector math anywhere.

    ``extra_keys``: additional equi-join columns present on BOTH
    sides — e.g. an IVF coarse-cell id, which turns this into IVF-PQ
    (each query scores only its own inverted-list cell)."""
    scored = (
        codes.join(
            F.broadcast(lut),
            ["sub", "code", *extra_keys],
        )
        .filter(F.col("query_id") != F.col(id_col))
        .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
        .agg(F.sum("d_i").alias("adc_i"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_i").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            "query_id",
            "neighbor_id",
            (F.col("adc_i").cast("double") / F.lit(_SCALE)).alias("adc_dist"),
            "rank",
        )
    )


# UDF closures in this module must ship by value (see package __init__)
import sys as _sys  # noqa: E402

from dicomdb_spark import register_for_udf_pickling as _reg  # noqa: E402

_reg(_sys.modules[__name__])
