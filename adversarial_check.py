#!/usr/bin/env python
"""Hostile-corpus oracle sweep (end-of-round gate).

Natural testdata masks engine-divergence bug classes behind uniform
row shapes: no NULLs, no empty or multi-byte text, no zero vectors, no
childless dimension rows.  This sweep writes each hostile corpus of
``dicomdb_spark.parity.CORPORA`` (documents, events, embeddings, tpch)
into a fresh temp sf-dir, then runs every registry query whose oracle
reads only that corpus's tables through BOTH engines — the engine via
the real ``io.load_table`` sf-dir path — and compares rows exactly
(``parity.canon_rows``).  What each corpus exposed is listed on its
writer.  The queries whose oracles span two corpora (ann_rerank_topk,
ml_knn_classify) are checked by tests/test_adversarial_corpus.py.

Usage: python adversarial_check.py [--corpus NAME ...] [QUERY ...]

Default: all four corpora, one Spark session.  QUERY names restrict
each corpus to those of its queries.  Exits non-zero on any mismatch
or error.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dicomdb_spark.parity import (  # noqa: E402
    CORPORA,
    canon_rows,
    hostile_session,
    oracle_con,
    release,
    tables_referenced,
)
from dicomdb_spark.registry._core import ORACLES, QUERIES  # noqa: E402


def _show_diff(s: list, d: list) -> None:
    for a, b in [(a, b) for a, b in zip(s, d) if a != b][:3]:
        print("   S:", a[:8], "\n   D:", b[:8], flush=True)
    only_s = [r[:8] for r in s if r not in d][:2]
    only_d = [r[:8] for r in d if r not in s][:2]
    if only_s:
        print("   only-S:", only_s, flush=True)
    if only_d:
        print("   only-D:", only_d, flush=True)


def sweep(spark, corpus: str, wanted: list[str]) -> int:
    """Run one corpus; returns the number of mismatches plus errors."""
    sf_dir = tempfile.mkdtemp(prefix=f"adversarial_{corpus}_")
    try:
        tables = set(CORPORA[corpus](sf_dir))
        con = oracle_con(sf_dir, tables)
        names = [
            n for n, sql in ORACLES.items()
            if (refs := tables_referenced(sql)) and refs <= tables
            and (not wanted or n in wanted)
        ]
        print(f"== {corpus}: {len(names)} queries", flush=True)
        ok, mismatched, errored = 0, [], []
        for n in names:
            try:
                sdf = QUERIES[n](spark, sf_dir)
                s = canon_rows([tuple(r) for r in sdf.collect()], sdf.columns)
                res = con.execute(ORACLES[n])
                d = canon_rows(res.fetchall(), [c[0] for c in res.description])
                if s == d:
                    ok += 1
                    print(f"{n}: MATCH ({len(s)})", flush=True)
                else:
                    mismatched.append(n)
                    print(f"{n}: MISMATCH spark={len(s)} duck={len(d)}", flush=True)
                    _show_diff(s, d)
            except Exception as e:  # keep sweeping; the summary reports it
                errored.append(n)
                print(f"{n}: ERROR {type(e).__name__} {str(e)[:150]}", flush=True)
            release(spark)
        con.close()
    finally:
        shutil.rmtree(sf_dir, ignore_errors=True)
    print(f"SUMMARY {corpus} ok={ok} mismatch={len(mismatched)} "
          f"error={len(errored)} total={len(names)} "
          f"unexpected={mismatched + errored}", flush=True)
    return len(mismatched) + len(errored)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--corpus", action="append", choices=list(CORPORA),
                    help="repeatable; default: all")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args(argv)
    spark = hostile_session("adversarial_sweep")
    bad = sum(sweep(spark, c, args.queries) for c in args.corpus or CORPORA)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
