"""Deterministic embedding clustering for semantic deduplication.

K-means with a fully specified, engine-portable arithmetic so a SQL
oracle can replay training bit-for-bit:

* seeds: the ``k`` lowest-id vectors (no RNG);
* assignment: argmin of the floor-scaled integer squared distance
  Σ_j floor((v_j − c_j)² · 1e12) with ties broken by lowest cluster id
  — every term is an IEEE-exact double op followed by an exact int64
  sum, so distances are identical across engines and partitionings;
* centroid update: per-dimension floor-scaled integer mean
  (Σ floor(v_j·1e12)) / n / 1e12 — exact int sum, one double division;
* empty clusters simply vanish (both engines produce only non-empty
  groups).

Scale shape per iteration: assignment is a map-only vectorized pandas
UDF against a broadcast centroid matrix (k·dims doubles — tiny at any
corpus size); the update is one posexplode + hash aggregate (k·dims
output rows, collected to the driver like any iterative ML loop).
Semantic near-dup pairs then come from an equi-join on the cluster id
— candidates never cross clusters, so cost follows cluster occupancy,
not n².
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dicomdb_spark.llm.similarity import _SCALE, dot_exact_vec, fixed_norm, fixed_sum


def assign_clusters(
    vectors: DataFrame,
    centroids: list,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Map-only cluster assignment against a broadcast centroid list,
    fused with the per-vector norm: ONE corpus scan and ONE Arrow hop
    returning (id_col, vec_col, cid, nrm).  The pair-scoring consumers
    (semantic dedup, trained-IVF search) take the norm per VECTOR from
    here instead of a second ArrowEvalPython pass or a per-PAIR
    re-derivation (guide §4.1, §2.3); the training loop ignores it.

    ``centroids`` MUST be the TAGGED list of ``(cid, vector)`` pairs
    that kmeans_fit / update_centroids emit — the tagged form
    PRESERVES original cluster labels when a cluster empties
    (duplicate seeds make exact-tie clusters empty in round 0;
    compacting a positional list silently renumbered every later cid
    and diverged from the oracle, which keeps labels — r12 adversarial
    embeddings sweep).  Raw vector lists are rejected: element
    type-sniffing misparsed a vector-as-tuple as (cid, vector)
    (ADVICE r12), so the tagged form is the only accepted input.

    cid is the argmin of the floor-scaled int squared distance; numpy
    argmin returns the FIRST minimum, which is the lowest cid — the
    documented tie-break (cids are emitted in ascending order, so
    first-minimum == lowest original cid).  nrm is
    :func:`~dicomdb_spark.llm.similarity.fixed_norm`.

    NULL vectors are dropped up front — unclusterable, and a scalar
    None crashes the numpy batch (r13 null-probe find); oracles state
    the identical ``IS NOT NULL`` filter.
    """
    import numpy as np

    vectors = vectors.filter(F.col(vec_col).isNotNull())

    if not all(
        isinstance(c, tuple) and len(c) == 2 and isinstance(c[0], int)
        for c in centroids
    ):
        raise TypeError(
            "assign_clusters expects tagged centroids [(cid, vector), ...] "
            "as produced by kmeans_fit/update_centroids; got a raw vector "
            "list — tag it with its cids explicitly"
        )
    cid_tags = np.asarray([c for c, _ in centroids], dtype=np.int32)
    C = np.asarray([v for _, v in centroids], dtype=np.float64)

    @F.pandas_udf("cid int, nrm double")
    def _assign(x: pd.Series) -> pd.DataFrame:
        A = np.vstack(x.to_numpy()).astype(np.float64)
        # (rows, k) exact int distances, one centroid at a time to keep
        # the temporary at batch×dims
        d = np.empty((A.shape[0], C.shape[0]), dtype=np.int64)
        for j in range(C.shape[0]):
            diff = A - C[j]
            d[:, j] = fixed_sum(diff, diff)
        cid = cid_tags[np.argmin(d, axis=1)].astype("int32")
        return pd.DataFrame({"cid": cid, "nrm": fixed_norm(A)})

    # coalesce(-1) is an identity (the UDF never returns null for the
    # null-filtered input): it makes cid statically non-nullable, so an
    # equi-join on cid cannot infer isnotnull(cid) and push it below
    # this projection — which re-evaluated the whole assignment UDF a
    # second time per join side (guide §4.4; observed 4 ArrowEvalPython
    # corpus passes in dedup_semantic_kmeans's before-plan).
    return (
        vectors.select(id_col, vec_col)
        .withColumn("__an", _assign(F.col(vec_col).cast("array<double>")))
        .select(
            id_col,
            vec_col,
            F.coalesce(F.col("__an.cid"), F.lit(-1)).alias("cid"),
            F.col("__an.nrm").alias("nrm"),
        )
    )


def update_centroids(
    assigned: DataFrame, vec_col: str = "v"
) -> list[tuple[int, list[float]]]:
    """One relational centroid update; returns the new cid-ordered
    TAGGED centroid list [(cid, vector), ...] — empty clusters are
    dropped (mirroring the oracle CTEs) but surviving clusters keep
    their original labels.  k·dims rows cross the driver — nothing
    else."""
    agg = (
        assigned.select("cid", F.posexplode(F.col(vec_col).cast("array<double>")))
        .groupBy("cid", "pos")
        .agg(
            F.sum(F.floor(F.col("col") * _SCALE).cast("long")).alias("s"),
            F.count("*").alias("n"),
        )
        .select(
            "cid",
            "pos",
            (F.col("s").cast("double") / F.col("n") / F.lit(_SCALE)).alias("m"),
        )
        .collect()
    )
    by_cid: dict[int, dict[int, float]] = {}
    for r in agg:
        by_cid.setdefault(r.cid, {})[r.pos] = r.m
    return [
        (cid, [by_cid[cid][p] for p in sorted(by_cid[cid])])
        for cid in sorted(by_cid)
    ]


def kmeans_fit(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    k: int = 8,
    iters: int = 2,
) -> list[tuple[int, list[float]]]:
    """Deterministic k-means: seed with the k lowest-id vectors, run
    ``iters`` assign/update rounds.  Returns a TAGGED centroid list
    [(cid, vector), ...] so labels survive empty-cluster drops.  The
    driver only ever holds k·dims doubles per round (the standard
    iterative-ML control loop)."""
    seeds = (
        vectors.filter(F.col(id_col) < k)
        .select(id_col, F.col(vec_col).cast("array<double>").alias("seed_v"))
        .collect()
    )
    centroids = [
        (i, list(map(float, r["seed_v"])))
        for i, r in enumerate(sorted(seeds, key=lambda r: r[id_col]))
    ]
    for _ in range(iters):
        centroids = update_centroids(
            assign_clusters(vectors, centroids, id_col, vec_col), vec_col
        )
    return centroids


def semantic_dedup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.99,
    min_parallelism: int | None = None,
) -> DataFrame:
    """Semantic near-duplicate pairs: k-means clusters as the candidate
    blocks, exact cosine ≥ threshold inside each block.

    Returns (id1 < id2, cid, cosine_sim).  The pair join is an
    equi-join on cid — within-cluster only, never corpus².

    ``min_parallelism``: repartition + persist the vectors before the
    iterative fit — each training round is a full pass, so caching the
    (tiny per-row) input across iters is the standard iterative-ML
    move; the repartition un-serializes single-row-group local files.
    """
    if min_parallelism is not None:
        vectors = vectors.repartition(min_parallelism).persist()
    centroids = kmeans_fit(vectors, id_col, vec_col, k=k, iters=iters)
    # norms come once per VECTOR from the assignment's Arrow hop; the
    # pair stage below then evaluates only the dot UDF per pair instead
    # of dot + 2 per-pair norms (guide §4.1 — before-plan: 3 pair-wide
    # UDFs evaluated twice)
    assigned = assign_clusters(vectors, centroids, id_col, vec_col)
    a = assigned.select(
        F.col(id_col).alias("id1"), F.col(vec_col).alias("__v1"), "cid",
        F.col("nrm").alias("__n1"),
    )
    b = assigned.select(
        F.col(id_col).alias("id2"), F.col(vec_col).alias("__v2"),
        F.col("cid").alias("__cid2"), F.col("nrm").alias("__n2"),
    )
    pairs = a.join(
        b, (F.col("cid") == F.col("__cid2")) & (F.col("id1") < F.col("id2"))
    ).withColumn(
        "cosine_sim",
        # nullif: zero-norm vectors → NULL cosine like DuckDB x/0
        dot_exact_vec(
            F.col("__v1").cast("array<double>"),
            F.col("__v2").cast("array<double>"),
        )
        / F.nullif(F.col("__n1") * F.col("__n2"), F.lit(0.0)),
    )
    return pairs.filter(F.col("cosine_sim") >= threshold).select(
        "id1", "id2", "cid", "cosine_sim"
    )


# UDF closures in this module must ship by value (see package __init__)
import sys as _sys  # noqa: E402

from dicomdb_spark import register_for_udf_pickling as _reg  # noqa: E402

_reg(_sys.modules[__name__])
