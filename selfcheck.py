#!/usr/bin/env python
"""Full local replay of the driver's correctness gate.

Runs every ``queries()`` entry and its ``oracle_sql()`` twin at sf0.01
under a deliberately hostile session (non-UTC timezone), canonicalizes
both sides the way the driver does — a pandas ``sort_values`` over ALL
output columns, which also crashes on unhashable (array) cells, the
round-1 failure mode — and writes ``SELFCHECK_{tag}.json``.

Given QUERY names, checks only those (the fast loop while iterating),
prints the rows only one side has for each FAIL, and writes no JSON.
Either way the exit status is non-zero when any query FAILs or errors.

Usage: python selfcheck.py [--tag TAG] [--sf-dir DIR] [QUERY ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dicomdb_spark.parity import (  # noqa: E402
    SF_CORRECT,
    canon_frame as canon,
    hostile_session,
    oracle_con,
    release,
)


def check(spark, con, fn, oracle: str | None, name: str, sf_dir: str) -> dict:
    """One query against its oracle; prints one status line (plus the
    differing rows on a FAIL) and returns the snapshot entry."""
    import pandas as pd

    try:
        sdf = fn(spark, sf_dir)
        s = canon(pd.DataFrame([tuple(r) for r in sdf.collect()], columns=sdf.columns))
        if oracle is None:
            print(f"{name}: rows-only ({len(s)})", flush=True)
            return {"check": "rows_only", "rows": int(len(s)), "match": None}
        res = con.execute(oracle)
        d = canon(pd.DataFrame(res.fetchall(), columns=[c[0] for c in res.description]))
        match = bool(s.equals(d))
        if match:
            print(f"{name}: MATCH ({len(s)})", flush=True)
        else:
            print(f"{name}: FAIL spark={len(s)} oracle={len(d)}", flush=True)
            merged = s.merge(d, how="outer", indicator=True)
            print(merged[merged["_merge"] != "both"].head(6).to_string(), flush=True)
        return {"check": "oracle", "rows": int(len(s)), "match": match}
    except Exception as exc:  # must keep going; record the failure
        err = f"{type(exc).__name__}: {exc}"
        print(f"{name}: ERROR {err}"[:500], flush=True)
        return {"check": "error", "rows": -1, "match": False, "err": err[:400]}


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--tag", default="rX", help="names SELFCHECK_{TAG}.json")
    ap.add_argument("--sf-dir", default=SF_CORRECT)
    ap.add_argument("queries", nargs="*", help="check only these (no JSON)")
    args = ap.parse_args(argv)
    sf_dir = args.sf_dir

    spark = hostile_session("selfcheck")
    con = oracle_con(sf_dir)

    import __spark_entry__ as E

    qs, oracles = E.queries(), E.oracle_sql()
    names = args.queries or list(qs)
    detail: dict[str, dict] = {}
    for name in names:
        if name not in qs:
            print(f"{name}: NOT REGISTERED", flush=True)
            detail[name] = {"check": "error", "rows": -1, "match": False}
            continue
        detail[name] = check(spark, con, qs[name], oracles.get(name), name, sf_dir)
        release(spark)

    n_fail = sum(1 for v in detail.values() if v["match"] is False)
    verdict = "ALL MATCH" if n_fail == 0 else f"{n_fail} FAILURES"
    if args.queries:
        print(f"\n{len(names)} queries: {verdict}")
    else:
        oracle_checked = sum(1 for v in detail.values() if v["check"] == "oracle")
        out = {
            "sf": float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]),
            "queries": len(qs),
            "oracle_checked": oracle_checked,
            "all_match": n_fail == 0,
            "detail": detail,
        }
        path = f"SELFCHECK_{args.tag}.json"
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1)
        print(f"\n{path}: {len(qs)} queries, {oracle_checked} oracle-checked, {verdict}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
