"""The ``neardup`` workload: one pass runs each near-dup registry
query in a seed-permuted order, building its DataFrame
and writing it to the ``noop`` sink.  Outputs are checked once per run,
outside the timed region, against the query's DuckDB oracle twin."""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time

import duckdb
import pandas as pd

from dicomdb_spark.llm.dedup import release_pair_caches
from dicomdb_spark.registry import ORACLES, QUERIES
from perfbench import gen

NEARDUP = (
    "dedup_exact dedup_minhash_lsh dedup_ngram_jaccard dedup_simhash_near "
    "ann_lsh_topk ann_bruteforce_topk text_stats"
).split()
NEARDUP_TABLES = ("documents", "embeddings")


def canonical_hash(df: pd.DataFrame) -> str:
    """Order-insensitive fingerprint of a result: columns and rows
    sorted, values compared by ``repr`` (the repo's oracle canon)."""
    from selfcheck import canon

    c = canon(df)
    h = hashlib.sha256("|".join(c.columns).encode())
    for row in c.itertuples(index=False):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


class QueryWorkload:
    def __init__(self, spark, work, seed: int, sizes: dict) -> None:
        self.spark = spark
        self.name = "neardup"
        self.seed = seed
        self.sizes = sizes
        self.data = work.sub("data")
        self.queries = list(NEARDUP)
        self.tables = NEARDUP_TABLES
        random.Random(seed).shuffle(self.queries)

    def generate(self) -> None:
        shutil.rmtree(self.data, ignore_errors=True)
        gen.write_neardup_tables(
            self.data,
            self.seed,
            self.sizes["docs"],
            self.sizes["vecs"],
            self.sizes["hot"],
        )

    def input_hashes(self) -> dict:
        return {"tables": gen.content_hash(self.data)}

    def run_query(self, name: str) -> tuple[float, float]:
        """(build_s, write_s) of one query into the noop sink."""
        t0 = time.perf_counter()
        df = QUERIES[name](self.spark, self.data)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        release_pair_caches()
        self.spark.catalog.clearCache()
        return t1 - t0, t2 - t1

    def warm_and_check(self, name: str) -> tuple[float, float, bool, dict]:
        """The query's first run: build it and collect its rows, timed
        as (build_s, collect_s); then, untimed, compare row count and
        canonical hash with the DuckDB oracle over the same files."""
        t0 = time.perf_counter()
        sdf = QUERIES[name](self.spark, self.data)
        t1 = time.perf_counter()
        rows = sdf.collect()
        t2 = time.perf_counter()
        release_pair_caches()
        self.spark.catalog.clearCache()
        s = pd.DataFrame([tuple(r) for r in rows], columns=sdf.columns)
        con = duckdb.connect()
        try:
            con.execute(f"SET threads TO {os.cpu_count() or 1}")
            for t in self.tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            res = con.execute(ORACLES[name])
            d = pd.DataFrame(res.fetchall(), columns=[c[0] for c in res.description])
        finally:
            con.close()
        got = (len(s), canonical_hash(s))
        want = (len(d), canonical_hash(d))
        info = {"rows": got[0], "oracle_rows": want[0], "check_s": time.perf_counter() - t2}
        return t1 - t0, t2 - t1, got == want, info
