#!/usr/bin/env python
"""Per-query cost profiler on the Spark event log.

Builds the same session as bench.py, with an uncompressed event log,
then for each named query runs it once cold and ``--runs`` times warm
(query function plus one action that reads every row, see
:func:`read_all`), each run under its own job group. After the
session stops it reads the log with ``perfbench/ledger.py`` and
reports, per run:

* wall seconds, of which ``build`` is the query function itself
  (plan construction plus any eager fit/predict actions inside it);
* Spark jobs, tasks, executor CPU and Python-worker seconds;
* driver seconds: wall time no job of the run covers.

``--plans-dir`` writes each query's ``explain("formatted")`` to
``<dir>/<query>_<tag>.txt``; ``--json`` writes the per-run rows.

Usage:
    python tools/profile_query.py q_e2e_eval q_ivf_ann --runs 2 \\
        --plans-dir plans/r15 --plan-tag before
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from ledger import GroupCost, driver_seconds, read_ledger  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))


def read_all(df) -> int:
    """Row count of ``df`` from an action that reads every column of
    every row: ``bit_xor(xxhash64(*cols))``. A plain ``count()`` lets
    Spark prune every column, and with it every per-row expression
    that computes one. ``xxhash64`` takes no maps, so a column holding
    one is hashed as its JSON text."""
    from pyspark.sql import functions as F

    cols = [
        F.col("`" + f.name.replace("`", "``") + "`") for f in df.schema.fields
    ]
    cols = [
        F.to_json(c) if "map<" in f.dataType.simpleString() else c
        for c, f in zip(cols, df.schema.fields)
    ]
    row = df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*cols))).first()
    return row[0]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=2, help="warm runs per query")
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--plan-tag", default="before")
    ap.add_argument("--json", default=None, help="write the per-run rows here")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from replay_spark.session import get_spark_session

    events = tempfile.mkdtemp(prefix="profile_query_events_")
    spark = get_spark_session(
        app_name="replay_spark_profile",
        shuffle_partitions=int(CPUS),
        extra_conf={
            "spark.driver.memory": os.environ.get("REPLAY_SPARK_DRIVER_MEM", "16g"),
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    queries = entrymod.queries()

    runs = []  # (query, tag, group, start, end, build_s, rows)
    try:
        for name in args.queries:
            fn = queries[name]
            for i in range(args.runs + 1):
                tag = "cold" if i == 0 else f"warm{i}"
                group = f"{name}:{tag}"
                spark.catalog.clearCache()
                sc.setJobGroup(group, group)
                try:
                    start = time.time()
                    df = fn(spark, SF_DIR)
                    build_s = time.time() - start
                    rows = read_all(df)
                    end = time.time()
                finally:
                    for key in ("spark.jobGroup.id", "spark.job.description"):
                        sc.setLocalProperty(key, None)
                runs.append((name, tag, group, start, end, build_s, rows))
            if args.plans_dir:
                os.makedirs(args.plans_dir, exist_ok=True)
                out = os.path.join(args.plans_dir, f"{name}_{args.plan_tag}.txt")
                with open(out, "w") as fh:
                    fh.write(
                        df._jdf.queryExecution().explainString(
                            spark._jvm.org.apache.spark.sql.execution.ExplainMode
                            .fromString("formatted")
                        )
                    )
                print(f"  plan -> {out}")
    finally:
        spark.stop()

    groups = read_ledger(events)
    shutil.rmtree(events, ignore_errors=True)
    report = []
    print(
        f"\n{'query':<28} {'run':<6} {'wall_s':>7} {'build_s':>7} {'jobs':>5} "
        f"{'tasks':>6} {'exec_cpu_s':>10} {'py_s':>6} {'driver_s':>8} {'rows':>9}"
    )
    for name, tag, group, start, end, build_s, rows in runs:
        cost = groups.get(group, GroupCost())
        row = {
            "query": name,
            "run": tag,
            "wall_s": end - start,
            "build_s": build_s,
            "jobs": cost.jobs,
            "tasks": cost.tasks,
            "executor_cpu_s": cost.executor_cpu_s,
            "python_worker_s": cost.python_worker_s,
            "driver_s": driver_seconds(cost, start, end),
            "rows": rows,
        }
        report.append(row)
        print(
            f"{name:<28} {tag:<6} {row['wall_s']:>7.2f} {build_s:>7.2f} "
            f"{cost.jobs:>5} {cost.tasks:>6} {cost.executor_cpu_s:>10.2f} "
            f"{cost.python_worker_s:>6.2f} {row['driver_s']:>8.2f} {rows:>9}"
        )
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
