"""The DuckDB oracle comparison, shared by tier-1 (tests/test_queries.py) and
this command-line check.

For each declared query: run the Spark DataFrame and the DuckDB oracle SQL
on the same sf dir, then compare column names, type families, row count and
the order-insensitive multiset of values (floats compared bit-exactly).  The
command line runs on engine.session.build_session, the session the bench and
the tests use.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
Cores: $SPARK_GRAFT_CPUS (default: the cores this process may run on).
"""

from __future__ import annotations

import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

import duckdb  # noqa: E402

from engine.queries import QUERIES  # noqa: E402
from engine.tables import TABLES, path  # noqa: E402

TYPE_FAMILY = {
    "bigint": "int", "int": "int", "integer": "int", "smallint": "int", "tinyint": "int",
    "hugeint": "int",
    "double": "float", "float": "float", "real": "float",
    "string": "str", "varchar": "str",
    "date": "date", "timestamp": "ts", "timestamp_ntz": "ts",
    "boolean": "bool",
}


def _family(type_name: str) -> str:
    t = type_name.lower()
    return TYPE_FAMILY.get(t, t)


def _canon(rows):
    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else v.hex()
        return v

    return sorted(tuple(cell(c) for c in r) for r in rows)


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table of `sf_dir`."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path(sf_dir, t)}'")
    return con


def oracle_mismatch(sdf, rel) -> list[str]:
    """Compare the Spark DataFrame `sdf` with the DuckDB relation `rel`.
    Returns the problems found; empty when both have rows and agree on column
    names, type families, row count and exact values."""
    fields = sdf.schema.fields
    s_cols = [f.name for f in fields]
    s_types = [_family(f.dataType.simpleString()) for f in fields]
    d_types = [_family(str(t)) for t in rel.types]
    s_rows, d_rows = sdf.collect(), rel.fetchall()
    problems = []
    if not s_rows:
        problems.append("no rows")
    if s_cols != list(rel.columns):
        problems.append(f"colnames spark={s_cols} duck={list(rel.columns)}")
    if s_types != d_types:
        problems.append(f"coltypes spark={s_types} duck={d_types}")
    if len(s_rows) != len(d_rows):
        problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
    if not problems:
        cs, cd = _canon(s_rows), _canon(d_rows)
        diff = [(a, b) for a, b in zip(cs, cd) if a != b]
        if diff:
            problems.append(f"values differ in {len(diff)}/{len(cs)} rows; first: {diff[0]}")
    return problems


def main() -> int:
    from engine.session import build_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or list(QUERIES)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))

    con = connect(sf_dir)
    spark = build_session(cpus, sf_dir=sf_dir, app_name="oracle-check")
    failures = []
    for name in names:
        q = QUERIES[name]
        t0 = time.time()
        problems = oracle_mismatch(q.fn(spark, sf_dir), con.sql(q.oracle))
        print(f"{name:28s} {'FAIL' if problems else 'OK  '} {time.time() - t0:5.1f}s"
              + (f"  {problems}" if problems else ""), flush=True)
        if problems:
            failures.append(name)
    spark.stop()
    con.close()

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        return 1
    print(f"all {len(names)} queries match the oracle")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
