#!/usr/bin/env python
"""Local replica of the driver's t2 correctness gate.

Runs each __spark_entry__ query on Spark AND its oracle SQL on DuckDB
at sf0.01 (or $SPARK_GRAFT_SF_DIR), compares row count, column names,
and an order-insensitive value hash. Usage:

    python tools/check_oracle.py [query_name_or_pattern ...]

Arguments are exact query names or ``fnmatch`` patterns, e.g.
``python tools/check_oracle.py 'q_lake*' q_materialized_agg``; no
argument runs every query.
"""

from __future__ import annotations

import fnmatch
import hashlib
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, int):
        return str(v)
    return str(v)


def table_hash(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(norm_value(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x1e")
    return h.hexdigest()


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from replay_spark.session import get_spark_session

    patterns = sys.argv[1:]
    spark = get_spark_session(app_name="check_oracle")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unmatched = [
        p for p in patterns if not fnmatch.filter(queries, p)
    ]
    if unmatched:
        sys.exit(f"no query matches {unmatched}")
    failures = []
    for name, fn in queries.items():
        if patterns and not any(
            fnmatch.fnmatchcase(name, p) for p in patterns
        ):
            continue
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            print(f"FAIL  {name}: spark error: {exc}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"OK*   {name}: rows={len(srows)} (no oracle, rows-only)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as exc:
            print(f"FAIL  {name}: duckdb error: {exc}")
            failures.append(name)
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} vs {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} vs {sorted(ocols)}")
        if not problems:
            sh = table_hash(srows, scols)
            oh = table_hash(orows, ocols)
            if sh != oh:
                problems.append("value hash mismatch")
                # show a few diffs
                sset = {
                    tuple(
                        norm_value(r[i])
                        for i in sorted(range(len(scols)), key=lambda i: scols[i])
                    )
                    for r in srows
                }
                oset = {
                    tuple(
                        norm_value(r[i])
                        for i in sorted(range(len(ocols)), key=lambda i: ocols[i])
                    )
                    for r in orows
                }
                only_s = list(sset - oset)[:3]
                only_o = list(oset - sset)[:3]
                if only_s:
                    problems.append(f"spark-only: {only_s}")
                if only_o:
                    problems.append(f"oracle-only: {only_o}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failures.append(name)
        else:
            print(f"OK    {name}: rows={len(srows)} hash {sh[:16]} match")
    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
