"""Retrieve-then-rerank plumbing for similarity search.

The standard two-stage serving shape for LLM retrieval pipelines:

1. **retrieve** — cheap, high-recall candidate generation (LSH bucket
   equi-join + exact cosine), keeping the top ``m`` ids per query with
   ``m`` ≫ ``k``.  Candidates carry ONLY (query_id, neighbor_id,
   cosine) — no payloads move yet.
2. **late materialization** — the candidate set (|Q|·m rows, tiny next
   to the corpus) is broadcast back against the document table to pick
   up both sides' text payloads.  At 100 TB this ordering is the whole
   game: the heavy text column is only ever joined AFTER pruning, and
   the corpus side never shuffles (two broadcast hash joins).
3. **rerank** — an expensive pairwise scorer over the surviving pairs,
   then a window top-``k`` per query.

The scorer is an injectable slot: production would drop a cross-encoder
model into a pandas UDF over (query_text, candidate_text) Arrow
batches; the engine's default is a deterministic, oracle-replayable
fusion — ``0.5·cosine + 0.5·token-Jaccard`` — entirely in JVM
expressions, so correctness of the *plumbing* is provable against
DuckDB while the model stays swappable.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dicomdb_spark.functions.text import tokens


def token_jaccard(a: Column, b: Column) -> Column:
    """Distinct-token Jaccard between two text columns — pure exprs.
    |A∩B| / (|A|+|B|−|A∩B|), 0 when both sides are empty."""
    da = F.array_distinct(F.transform(tokens(a), lambda t: F.lower(t)))
    db = F.array_distinct(F.transform(tokens(b), lambda t: F.lower(t)))
    inter = F.size(F.array_intersect(da, db))
    union = F.size(da) + F.size(db) - inter
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def fusion_score(q_text: Column, c_text: Column, cosine: Column) -> Column:
    """Default rerank scorer: embedding + lexical evidence fused."""
    return (F.lit(0.5) * cosine + F.lit(0.5) * token_jaccard(q_text, c_text)).alias(
        "rerank_score"
    )


def pandas_scorer(fn: Callable[[pd.Series, pd.Series, pd.Series], pd.Series]):
    """Wrap a batchwise model into the scorer slot: ``fn`` receives
    (query_text, candidate_text, cosine) as pandas Series per Arrow
    batch and returns a float Series.  This is where a real
    cross-encoder forward pass plugs in."""

    def scorer(q_text: Column, c_text: Column, cosine: Column) -> Column:
        # re-annotate here: pandas_udf infers the UDF type from THIS
        # signature, so the injected model function needs no pyspark-
        # specific type hints of its own
        @F.pandas_udf("double")
        def _score(q: pd.Series, c: pd.Series, s: pd.Series) -> pd.Series:
            return fn(q, c, s).astype("float64")

        return _score(q_text, c_text, cosine)

    return scorer


def rerank_topk(
    candidates: DataFrame,
    docs: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    scorer: Callable[[Column, Column, Column], Column] | None = None,
    broadcast_candidates: bool = False,
) -> DataFrame:
    """Stages 2+3: payload gather + rerank over a candidate set of
    (query_id, neighbor_id, cosine_sim) rows.

    ``broadcast_candidates``: the candidate set is k rows PER QUERY —
    bounded for an interactive batch but linear in the query-workload
    size, so an offline rerank of millions of queries would OOM a
    pinned build side.  Default False lets stats + AQE pick the
    strategy; pass True only when the query batch is known-small and
    you want the map-side payload gather guaranteed (the doc table
    then never shuffles), as ``similarity.brute_force_topk`` always
    does for its query batch.
    """
    score = scorer or fusion_score
    qd = docs.select(
        F.col(doc_id_col).alias("query_id"), F.col(text_col).alias("__qt")
    )
    cd = docs.select(
        F.col(doc_id_col).alias("neighbor_id"), F.col(text_col).alias("__ct")
    )
    # two passes over docs: with the hint each join streams the doc
    # table against a broadcast candidate set (payload gather never
    # shuffles the corpus); without it AQE measures the candidate side
    # at runtime and still broadcasts when it is genuinely small
    hint = F.broadcast if broadcast_candidates else (lambda d: d)
    with_q = qd.join(hint(candidates), "query_id")
    pairs = cd.join(hint(with_q), "neighbor_id")
    scored = pairs.withColumn(
        "rerank_score",
        score(F.col("__qt"), F.col("__ct"), F.col("cosine_sim")).cast("double"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rerank_score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rerank_score", "rank")
    )
