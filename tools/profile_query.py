#!/usr/bin/env python
"""Per-query profiler for the optimization rounds (guide §1).

Builds the SAME session as bench.py (plus the UI so the REST API
can report job/stage metrics), then for each named query:

* runs it once cold + N warm (count() action, like the bench),
* reports per-run wall seconds and the Spark job/stage breakdown of
  the LAST warm run (job description, duration, task time, shuffle
  read/write bytes) via the UI REST API,
* optionally writes .explain("formatted") to --plans-dir/<q>_<tag>.txt.

Usage:
    python tools/profile_query.py q_e2e_eval q_ivf_ann --runs 2 \
        --plans-dir plans/r15 --plan-tag before
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))


def rest(url):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--plan-tag", default="before")
    ap.add_argument("--jobs", action="store_true",
                    help="print per-job REST breakdown of the last warm run")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from replay_spark.session import get_spark_session

    # the bench's session, plus the UI for the REST scraping below
    spark = get_spark_session(
        app_name="replay_spark_profile",
        shuffle_partitions=int(CPUS),
        extra_conf={
            "spark.driver.memory": os.environ.get(
                "REPLAY_SPARK_DRIVER_MEM", "16g"
            ),
            "spark.ui.enabled": "true",
            "spark.ui.port": "4045",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    base = "http://localhost:4045/api/v1/applications"
    app_id = spark.sparkContext.applicationId

    for name in args.queries:
        fn = queries[name]
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(f"{name}: cold")
        t0 = time.time()
        df = fn(spark, SF_DIR)
        build_cold = time.time() - t0
        n = df.count()
        cold = time.time() - t0
        warms = []
        first_job = None
        for i in range(args.runs):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"{name}: warm{i}")
            try:
                jobs_before = rest(f"{base}/{app_id}/jobs?status=succeeded")
                first_job = max((j["jobId"] for j in jobs_before), default=-1)
            except Exception:
                first_job = None
            t0 = time.time()
            build_t = time.time()
            df = fn(spark, SF_DIR)
            build_s = time.time() - build_t
            df.count()
            warms.append(time.time() - t0)
            last_build = build_s
        spark.sparkContext.setJobDescription(None)
        print(f"\n== {name}: cold {cold:.2f}s (build {build_cold:.2f}s) "
              f"warm {['%.2f' % w for w in warms]} "
              f"(last build {last_build:.2f}s) rows={n}")
        if args.jobs and first_job is not None:
            try:
                jobs = rest(f"{base}/{app_id}/jobs")
                sel = sorted(
                    (j for j in jobs if j["jobId"] > first_job),
                    key=lambda j: j["jobId"],
                )
                total = 0.0
                for j in sel:
                    dur = 0.0
                    if j.get("completionTime") and j.get("submissionTime"):
                        from datetime import datetime

                        fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
                        dur = (
                            datetime.strptime(j["completionTime"], fmt)
                            - datetime.strptime(j["submissionTime"], fmt)
                        ).total_seconds()
                    total += dur
                    print(
                        f"  job {j['jobId']:>4} {dur:6.3f}s "
                        f"stages={len(j.get('stageIds', []))} "
                        f"tasks={j.get('numTasks', 0):>4} "
                        f"{j.get('name', '')[:80]}"
                    )
                print(f"  -- {len(sel)} jobs, sum job wall {total:.2f}s")
            except Exception as exc:
                print(f"  (REST breakdown unavailable: {exc})")
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            out = os.path.join(
                args.plans_dir, f"{name}_{args.plan_tag}.txt"
            )
            with open(out, "w") as fh:
                fh.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode
                    .fromString("formatted")
                ))
            print(f"  plan -> {out}")

    spark.stop()


if __name__ == "__main__":
    main()
