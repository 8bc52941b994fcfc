"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB over the same parquet
dir; compare row counts, column names, and order-insensitive values.
A gate whose two sides are both empty fails: it compares nothing.

Usage: python scripts/check_oracle.py [sf_dir] [name ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["documents", "events"]


def norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # canonicalize -0.0 and trailing float noise
        return f"{v:.6f}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(
        "|".join(norm_cell(r[i]) for i in idx) for r in rows
    )
    return out


def oracle_db(sf_dir: str):
    """A DuckDB connection with one view per gate input table."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def compare_gate(spark, con, fn, sf_dir: str, sql: str) -> tuple[int, list[str]]:
    """Run gate ``fn`` on Spark and its oracle ``sql`` on ``con``; returns
    (Spark row count, problems). No problems means the two row sets are
    equal and not both empty."""
    try:
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as e:
        return 0, [f"spark error {e}"]
    try:
        res = con.execute(sql)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
    except Exception as e:
        return len(srows), [f"duckdb error {e}"]
    problems = []
    if sorted(scols) != sorted(dcols):
        problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
    if len(srows) != len(drows):
        problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
    elif not srows:
        problems.append("vacuous: both sides empty")
    if not problems:
        a, b = rowset(scols, srows), rowset(dcols, drows)
        if a != b:
            diff = [
                (x, y) for x, y in zip(a, b) if x != y
            ][:3]
            problems.append(f"values differ, first diffs: {diff}")
    return len(srows), problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as se
    from myaku_spark.session import get_spark

    spark = get_spark()
    con = oracle_db(sf_dir)

    qs = se.queries()
    oracles = se.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_rows, problems = compare_gate(spark, con, fn, sf_dir, oracles[name])
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL {name}: {'; '.join(problems)}")
        else:
            print(f"OK   {name}: {n_rows} rows")
    print(f"\n{len(failures)} failures")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
