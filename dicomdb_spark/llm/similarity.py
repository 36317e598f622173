"""Approximate-nearest-neighbor search over embedding columns.

Three candidate generators over ``array<float>`` columns, one scoring
kernel under all of them:

* **brute-force top-k** (:func:`brute_force_topk`, :func:`mips_topk`)
  — the correctness baseline: queries × corpus join, exact cosine or
  inner product, window top-k.  The corpus side stays put; the
  (small) query side is broadcast, so the cost is one map-side pass
  over the corpus per batch of queries.
* **hyperplane-LSH buckets** (:func:`bucketed_norm_corpus`,
  :func:`bucket_pair_dots`) — the scale path for all-pairs /
  large-query workloads: sign-of-dot-product against the first
  ``n_planes`` corpus vectors gives each vector a bucket key;
  candidates only meet inside buckets (a group or equi-join on the
  key, never a cross join).
* **IVF cells** (:func:`seed_cell_norm_corpus`) — the max-dot seed
  centroid as an inverted-file cell id; candidates meet on the cell.

Determinism: every dot product, norm and squared distance in the
``llm`` kernels goes through :func:`fixed_sum` — each per-element
product floored at a fixed scale, then an exact int64 sum — so values
are bit-identical across partitionings, batch boundaries and engines
(the DuckDB oracles spell the same formula as
``registry._core._sql_dot`` / ``_sql_dist2`` / ``_sql_norm``).  Where a
squared distance is folded in Catalyst instead, it is
:func:`fixed_dist2_col`.  Ranking ties break by neighbor id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Fixed-point scale for portable exact sums: per-element products are
# floored at 1e-12 (floor of a double is bitwise-identical on every
# IEEE engine, unlike double→DECIMAL casts whose rounding rules differ
# between Spark and DuckDB), then summed as exact longs.  The 1e-12
# quantization is far below any meaningful similarity difference; what
# matters is that both engines compute the *identical* value.
_SCALE = 1e12


def fixed_sum(x, y):
    """Σ floor(x·y·1e12) over the last axis, as exact int64 — THE
    fixed-point kernel.  Broadcasts like ``x * y``.  The product order
    ``(x·y)·1e12`` is DuckDB's ``a.v[i] * b.v[i] * 1e12``; any other
    order is a different double.  Divide by ``_SCALE`` for the value;
    compare the ints directly for signs and argmins."""
    return np.floor(x * y * _SCALE).astype(np.int64).sum(axis=-1)


def fixed_norm(x):
    """sqrt(fixed_sum(x, x) / 1e12) per row — the exact L2 norm."""
    return np.sqrt(fixed_sum(x, x) / _SCALE)


def fixed_dist2_col(a, b) -> Column:
    """Σ floor((a−b)·(a−b)·1e12) of two ``array<double>`` columns as an
    exact long, folded in Catalyst (no Python boundary): ``fixed_sum(d,
    d)`` with ``d = a − b``, and the twin of ``_core._sql_dist2``."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.floor((x - y) * (x - y) * F.lit(_SCALE)).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _matrix(s: pd.Series):
    """An Arrow batch's array column as a (rows, dims) float64 matrix."""
    return np.vstack(s.to_numpy()).astype(np.float64)


def drop_null_vectors(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Exclude rows whose vector is NULL — broken upstream
    featurization produces them in real feeds, and a scalar None
    crashes every numpy batch path (np.vstack/astype).  Applied at
    every public DataFrame entry of this module; oracles state the
    identical ``embedding IS NOT NULL`` filter (r13 null-probe find).
    """
    return df.filter(F.col(vec_col).isNotNull())


def _rowwise(kernel, *cols: pd.Series) -> pd.Series:
    """``kernel`` over the matrices of ``cols``, NULL (NaN → Arrow
    null) on every row where any column is NULL — SQL dot(NULL, v) is
    NULL, and a scalar None breaks np.vstack (r13 null-probe find)."""
    valid = np.logical_and.reduce([c.notna().to_numpy() for c in cols])
    if valid.all():
        # fast path for the overwhelmingly common all-valid batch: no
        # NaN-Series allocation, no boolean fancy-index copies (the
        # masked path cost the brute-force scorer +45 % even when no
        # NULLs existed — r13 driver control run)
        return pd.Series(kernel(*map(_matrix, cols)), index=cols[0].index)
    out = pd.Series(np.nan, index=cols[0].index, dtype="float64")
    if valid.any():
        out[valid] = kernel(*(_matrix(c[valid]) for c in cols))
    return out


# UDFs are built lazily: pandas_udf decoration needs an active session,
# and this module must stay importable before one exists (the driver
# imports __spark_entry__ → registry → here at startup).  Each scores a
# whole Arrow batch in one C-level pass, not a Python loop per pair.


def dot_exact_vec(a: Column, b: Column) -> Column:
    """Exact fixed-point dot product (double out), NULL on NULL input."""

    @F.pandas_udf("double")
    def _dot(x: pd.Series, y: pd.Series) -> pd.Series:
        return _rowwise(lambda A, B: fixed_sum(A, B) / _SCALE, x, y)

    return _dot(a, b)


def norm_exact_vec(a: Column) -> Column:
    """Exact fixed-point L2 norm (double out), NULL on NULL input."""

    @F.pandas_udf("double")
    def _norm(x: pd.Series) -> pd.Series:
        return _rowwise(fixed_norm, x)

    return _norm(a)


def cosine_exact_vec(a: Column, b: Column) -> Column:
    """Exact fixed-point cosine: dot / (norm·norm), NULL on a zero norm."""
    ad = a.cast("array<double>")
    bd = b.cast("array<double>")
    # nullif: a zero-norm vector (empty doc → zero embedding) must
    # yield NULL cosine like DuckDB x/0, not an ANSI crash; both
    # engines then sort NULLs last in the top-k windows
    return dot_exact_vec(ad, bd) / F.nullif(
        norm_exact_vec(ad) * norm_exact_vec(bd), F.lit(0.0)
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Plan: broadcast(queries) ⋈ corpus (no shuffle of the corpus), then
    a window top-k partitioned by query — the single shuffle is on
    query_id, sized |queries|×|corpus| rows *after* per-partition
    ranking prunes nothing (AQE coalesces).  Self-matches excluded.
    (A pre-scoring corpus repartition was measured and REJECTED here:
    the whole-batch numpy scoring is cheap enough that shuffling the
    vectors costs more than the added parallelism returns — unlike the
    MinHash signature stage, see dedup.minhash_lsh_pairs.)
    """
    corpus = drop_null_vectors(corpus, vec_col)
    queries = drop_null_vectors(queries, vec_col)
    # norms once per vector (not per pair): |q|+|c| norm evaluations
    # instead of 2·|q|·|c|
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    ).withColumn("__qn", norm_exact_vec(F.col("__qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__cv"),
    ).withColumn("__cn", norm_exact_vec(F.col("__cv")))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine_sim",
            # nullif: zero-norm vectors → NULL cosine like DuckDB x/0
            dot_exact_vec(F.col("__qv"), F.col("__cv"))
            / F.nullif(F.col("__qn") * F.col("__cn"), F.lit(0.0)),
        )
        .drop("__qv", "__cv", "__qn", "__cn")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def mips_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k Maximum-Inner-Product Search (unnormalized dot) —
    the retrieval scoring used when embedding magnitude carries signal
    (recommendation scores, learned rerankers), vs cosine's
    angle-only ranking in :func:`brute_force_topk`.

    Same scale shape as the cosine baseline: broadcast(queries) ⋈
    corpus (the corpus never shuffles), whole-batch numpy dot, window
    top-k on (query_id).  For the sublinear path, MIPS reduces to
    cosine by the norm-augmentation trick (:func:`mips_augment`,
    Bachrach et al. RecSys 2014) — augment corpus vectors with
    sqrt(M² − ‖x‖²) and queries with 0, then any cosine index
    (LSH/IVF here) answers MIPS."""
    corpus = drop_null_vectors(corpus, vec_col)
    queries = drop_null_vectors(queries, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__cv"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("dot_score", dot_exact_vec(F.col("__qv"), F.col("__cv")))
        .drop("__qv", "__cv")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot_score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dot_score", "rank")
    )


def mips_augment(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """The MIPS→cosine reduction: corpus x → [x, sqrt(M²−‖x‖²)]
    (M = max corpus norm, one 1-row broadcast aggregate), query
    q → [q, 0].  Augmented-cosine(q̂, x̂) = dot(q, x) / (‖q‖·M):
    for a fixed query that is a positive constant times the inner
    product, so cosine ranking over the augmented vectors IS the MIPS
    ranking — any cosine ANN index becomes a MIPS index
    (tests/test_round5_ops.py proves rank equivalence).  Pure
    Catalyst fold/concat expressions — no UDF, no shuffle beyond the
    broadcast of one scalar."""
    v = F.col(vec_col).cast("array<double>")
    c = corpus.select(F.col(id_col), v.alias("__v")).withColumn(
        "__nsq", F.aggregate(F.col("__v"), F.lit(0.0), lambda a, x: a + x * x)
    )
    m2 = c.agg(F.max("__nsq").alias("__m2"))
    c_aug = c.crossJoin(F.broadcast(m2)).select(
        id_col,
        F.concat(
            F.col("__v"), F.array(F.sqrt(F.col("__m2") - F.col("__nsq")))
        ).alias("aug"),
    )
    q_aug = queries.select(
        F.col(id_col),
        F.concat(v, F.array(F.lit(0.0))).alias("aug"),
    )
    return c_aug, q_aug


def bucketed_norm_corpus(
    vectors: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, v, bucket, nrm) in ONE corpus scan and ONE Python hop:
    the hyperplane-LSH bucket and the exact norm of every non-NULL
    vector.

    The planes are the first ``n_planes`` corpus vectors (deterministic,
    data-derived, no RNG): a tiny constant matrix, collected once at
    plan-build time and closed over, so ONE map-only pandas UDF assigns
    all bits per vector (no cross join, no re-aggregation shuffle).
    Bit j is '1' when the fixed-point dot with plane j is ≥ 0.  The
    bucket alone is ``.select(id, "bucket")``.  Carrying v and nrm here
    spares the ANN queries an ``emb ⋈ buckets`` vec_id self-join and a
    second Arrow hop (guide §2.4 — remove shuffles outright; §4.1 — the
    vector column crosses the Arrow boundary once).
    """
    vectors = drop_null_vectors(vectors, vec_col)
    plane_rows = (
        vectors.filter(F.col(id_col) < n_planes)
        .select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
        .collect()
    )
    P = np.array(
        [r.v for r in sorted(plane_rows, key=lambda r: r[id_col])], dtype=np.float64
    )

    @F.pandas_udf("bucket string, nrm double")
    def _bn(x: pd.Series) -> pd.DataFrame:
        A = _matrix(x)
        # (rows, planes) fixed-point dots, one plane at a time to keep
        # the temporary at batch×dims; sign → bit chars
        dots = np.stack([fixed_sum(A, p) for p in P], axis=1)
        bits = np.where(dots >= 0, "1", "0")
        return pd.DataFrame(
            {"bucket": ["".join(row) for row in bits], "nrm": fixed_norm(A)}
        )

    # The bucket equi-join infers an isnotnull(bucket) constraint; on
    # a plain nullable UDF output the optimizer pushes that filter
    # below this projection and re-evaluates the UDF (guide §4.4 —
    # observed: two ArrowEvalPython per join side).  bucket is never
    # NULL (the UDF always emits a bit-string for a non-NULL vector),
    # so coalesce(bucket, '') makes the key statically non-null: the
    # inferred filter constant-folds away and the UDF runs once.
    # Kept DETERMINISTIC on purpose: asNondeterministic would also fix
    # the duplication but blocks pushing the query-side vec_id
    # pre-filters past the UDF (multiprobe/recall_eval select 10 query
    # vectors — that filter must reach the parquet scan).
    return (
        vectors.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
        )
        .withColumn("__bn", _bn(F.col("v")))
        .select(
            id_col,
            "v",
            F.coalesce(F.col("__bn.bucket"), F.lit("")).alias("bucket"),
            F.col("__bn.nrm").alias("nrm"),
        )
    )


def bucket_pair_dots(
    withb: DataFrame,
    id_col: str = "vec_id",
    per_query_limit: int | None = None,
) -> DataFrame:
    """All ordered same-bucket candidate pairs (id_a ≠ id_b) with the
    exact fixed-point dot: (bucket, query_id, neighbor_id, dot, qn, cn).

    Replaces the bucket self-join + per-pair scoring UDF of the LSH
    all-pairs queries.  That shape ships BOTH vectors across the Arrow
    boundary once per candidate pair — Σ df(bucket)² · dims · 8 bytes,
    QUADRATIC in bucket occupancy (measured 6+ GB of boundary bytes at
    the 20× replica, and the r13 driver saw a 4.79× wall step for a 2×
    data step) — and, worse, the planner broadcast the corpus side and
    ran the scoring UDF at the probe SCAN's parallelism.  Here each
    vector crosses the boundary ONCE per bucket (linear), the C(n,2)
    enumeration and the dot kernel run in blocked numpy inside one
    ``applyInPandas`` per bucket group, and only the 40-byte pair rows
    come back (guide §8: move heavy bytes once, decide on proxies;
    §4.2: whole-group native kernels).

    Bitwise-identical scores: the dot is :func:`fixed_sum` / 1e12,
    exactly as in :func:`dot_exact_vec`.
    qn/cn pass through from the fused bucket+norm scan so the caller's
    ``dot / nullif(qn·cn, 0)`` cosine (NULL on zero norms) is the same
    JVM expression as before.

    Skew note: one bucket = one group; a pathological hot bucket is a
    straggler task here where the join form spread its pairs over
    probe partitions — at real scale the mitigation is more planes
    (buckets grow as 2^planes), which is the existing knob.

    ``per_query_limit=k`` prunes to each query's top-k candidates
    INSIDE the kernel, making the Python→JVM output linear in the
    corpus (3 rows/query) instead of quadratic in bucket occupancy.
    The prune is EXACT, not partial: a vector lives in exactly one
    bucket, so the group holds every candidate of each of its queries,
    and the selection key replicates the consumer window's total order
    — cosine DESC with Spark double semantics (NaN greatest) and
    NULL (zero-norm denominator) last, ties by neighbor_id ASC — so
    the downstream ``row_number() ≤ k`` filter keeps exactly the same
    rows and re-ranks the survivors identically.
    """
    empty = pd.DataFrame(
        {
            "bucket": pd.Series(dtype="str"),
            "query_id": pd.Series(dtype="int64"),
            "neighbor_id": pd.Series(dtype="int64"),
            "dot": pd.Series(dtype="float64"),
            "qn": pd.Series(dtype="float64"),
            "cn": pd.Series(dtype="float64"),
        }
    )

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return empty
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        nrm = pdf["nrm"].to_numpy(dtype=np.float64)
        A = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
        d = A.shape[1]
        bucket = pdf["bucket"].iloc[0]
        # blocked pairwise fixed-point dots: bound the (chunk, n, d)
        # float64 temp at ~64 MB so a hot bucket cannot OOM the worker
        chunk = max(1, int((1 << 23) // max(n * d, 1)))
        qs, cs, dts = [], [], []
        for s in range(0, n, chunk):
            e = min(n, s + chunk)
            dots = fixed_sum(A[s:e, None, :], A[None, :, :]) / _SCALE
            qi = np.repeat(np.arange(s, e), n)
            ci = np.tile(np.arange(n), e - s)
            keep = ids[qi] != ids[ci]
            qs.append(qi[keep])
            cs.append(ci[keep])
            dts.append(dots.ravel()[keep])
        qi = np.concatenate(qs)
        ci = np.concatenate(cs)
        dot = np.concatenate(dts)
        if per_query_limit is not None:
            # in-kernel exact top-k per query over the window's total
            # order: ascending key = -cosine with NaN → -inf (Spark
            # sorts NaN as the GREATEST double, so it ranks first in
            # DESC) and zero-denominator (NULL cosine downstream) →
            # +inf (NULLS LAST); ties by neighbor id ASC, matching
            # row_number() OVER (ORDER BY cosine DESC, neighbor_id)
            den = nrm[qi] * nrm[ci]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dot / den
            key = -cos
            key[np.isnan(cos)] = -np.inf
            key[den == 0.0] = np.inf
            order = np.lexsort((ids[ci], key, ids[qi]))
            qsorted = ids[qi][order]
            starts = np.zeros(len(order), dtype=bool)
            starts[0] = True
            starts[1:] = qsorted[1:] != qsorted[:-1]
            rank = np.arange(len(order)) - np.maximum.accumulate(
                np.where(starts, np.arange(len(order)), 0)
            )
            sel = order[rank < per_query_limit]
            qi, ci, dot = qi[sel], ci[sel], dot[sel]
        return pd.DataFrame(
            {
                "bucket": bucket,
                "query_id": ids[qi],
                "neighbor_id": ids[ci],
                "dot": dot,
                "qn": nrm[qi],
                "cn": nrm[ci],
            }
        )

    return withb.groupBy("bucket").applyInPandas(
        _pairs,
        schema=(
            "bucket string, query_id long, neighbor_id long, "
            "dot double, qn double, cn double"
        ),
    )


def seed_cell_norm_corpus(
    vectors: DataFrame,
    n_cents: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """(id, v, cell, nrm) in ONE corpus scan and ONE Python hop — the
    IVF coarse quantizer fused with the per-vector norm.

    Replaces the crossJoin(broadcast(cents)) → per-(vec, cent) dot UDF
    → row_number window → join-back-on-vec_id pipeline of the IVF
    queries (guide §2.4 — that shape shuffled the corpus twice and ran
    three Arrow hops; §4.1 — the vector crosses the boundary once).

    Bitwise-identical outputs by construction:

    * cell = argmax of the floor-scaled int64 dot against the
      ``n_cents`` lowest-id corpus vectors, ties broken by LOWEST
      cent_id — np.argmax returns the first maximum and the centroid
      matrix is cent_id-ordered, which replays the old
      ``row_number() OVER (ORDER BY dp DESC, cent_id)`` pick;
    * a NULL vector keeps the old NULL-dp semantics (dp NULL for every
      centroid → all tie → lowest cent_id wins, nrm NULL) — the IVF
      oracles do NOT null-filter, so neither does this kernel (unlike
      :func:`bucketed_norm_corpus`, whose oracles do);
    * nrm is :func:`fixed_norm`, as in norm_exact_vec.

    coalesce(cell, first_cent_id) keeps the cell equi-join key
    statically non-null so the inferred isnotnull filter
    constant-folds instead of re-evaluating the UDF (guide §4.4).
    """
    cent_rows = (
        vectors.filter(F.col(id_col) < n_cents)
        .select(id_col, F.col(vec_col).cast("array<double>").alias("cv"))
        .collect()
    )
    cent_rows = sorted(cent_rows, key=lambda r: r[id_col])
    if not cent_rows:
        # no centroids → the old inner join on the (empty) assignment
        # produced an empty corpus; replay that exactly
        return vectors.select(
            id_col,
            vec_col,
            F.lit(None).cast("bigint").alias("cell"),
            F.lit(None).cast("double").alias("nrm"),
        ).where(F.lit(False))
    cid_tags = np.asarray([r[id_col] for r in cent_rows], dtype=np.int64)
    # a NULL centroid's dp is NULL on every row → it sorts below every
    # real dp and can only win an all-NULL tie, where the LOWEST
    # cent_id wins regardless: int64-min sentinel rows reproduce both.
    dim = next((len(r.cv) for r in cent_rows if r.cv is not None), 0)
    P = np.asarray(
        [
            r.cv if r.cv is not None else [0.0] * dim
            for r in cent_rows
        ],
        dtype=np.float64,
    )
    null_cent = np.asarray([r.cv is None for r in cent_rows], dtype=bool)
    first_cid = int(cid_tags[0]) if len(cid_tags) else -1

    @F.pandas_udf("cell bigint, nrm double")
    def _cn(x: pd.Series) -> pd.DataFrame:
        valid = x.notna().to_numpy()
        # all-NULL dp tie → lowest cent_id; nrm NULL (NaN → Arrow null)
        cells = np.full(len(x), first_cid, dtype=np.int64)
        nrm = np.full(len(x), np.nan, dtype=np.float64)
        if valid.any():
            A = _matrix(x[valid])
            d = np.stack(
                [
                    np.full(len(A), np.iinfo(np.int64).min) if null else fixed_sum(A, p)
                    for p, null in zip(P, null_cent)
                ],
                axis=1,
            )
            cells[valid] = cid_tags[np.argmax(d, axis=1)]
            nrm[valid] = fixed_norm(A)
        return pd.DataFrame({"cell": cells, "nrm": nrm})

    return (
        vectors.select(id_col, vec_col)
        .withColumn("__cn", _cn(F.col(vec_col).cast("array<double>")))
        .select(
            id_col,
            vec_col,
            F.coalesce(F.col("__cn.cell"), F.lit(first_cid)).alias("cell"),
            F.col("__cn.nrm").alias("nrm"),
        )
    )


# UDF closures in this module must ship by value (see package __init__):
# they call fixed_sum, which would otherwise pickle by reference
import sys as _sys  # noqa: E402

from dicomdb_spark import register_for_udf_pickling as _reg  # noqa: E402

_reg(_sys.modules[__name__])
