#!/usr/bin/env python3
"""Derive each workload entry's expected output from its DuckDB oracle.

    python3 perfbench/derive_expected.py [--sf-dir DIR] [name ...]

Runs ``registry.oracles()[name]`` in DuckDB over the sf0.1 parquet
tables and writes row count, schema and order-insensitive hash to
``perfbench/expected.json``: every workload entry, or only the named
ones, merged with what is there.  Spark never
supplies an expected value.  Some oracles take most of a minute at
sf0.1, which is why this runs once, not in every benchmark run; rerun
it for an entry whose oracle SQL changed (the benchmark refuses a stale
expectation by comparing the oracle's digest).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.check import kind_of_duckdb, summarize  # noqa: E402
from perfbench.workloads import WORKLOADS, sf_dir  # noqa: E402

EXPECTED = os.path.join(HERE, "expected.json")


def oracle_digest(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()[:16]


def main() -> None:
    import duckdb

    from qpmodel_spark import catalog, registry

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=sf_dir())
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    names = args.names or sorted({n for w in WORKLOADS.values() for n in w.entries})
    oracles = registry.oracles()
    expected = {}
    if args.names and os.path.exists(EXPECTED):
        with open(EXPECTED) as fh:
            expected = json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '3GB'")
    for name in catalog.TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{catalog.table_path(args.sf_dir, name)}')")
    for name in names:
        sql = oracles.get(name)
        if sql is None:
            sys.exit(f"{name}: no oracle; the benchmark checks only oracled entries")
        t0 = time.perf_counter()
        rel = con.sql(sql)
        summary = summarize(rel.columns, [kind_of_duckdb(t) for t in rel.types], rel.fetchall())
        summary["oracle_sha"] = oracle_digest(sql)
        summary["sf_dir"] = os.path.basename(args.sf_dir.rstrip("/"))
        expected[name] = summary
        print(f"{name}: {summary['rows']} rows in {time.perf_counter() - t0:.1f}s", flush=True)
    with open(EXPECTED, "w") as fh:
        json.dump(dict(sorted(expected.items())), fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
