"""Empirical probe: what order does Spark 4.1 call the Python
DataSourceStreamReader methods in, on FRESH start and on RESTART
from checkpoint (committed last batch)? Logs calls to /tmp/lf_calls.log.

Run: python tools/probe_lakefeed_protocol.py
"""
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

LOG = "/tmp/lf_calls.log"


def note(msg):
    with open(LOG, "a") as f:
        f.write(msg + "\n")


def main():
    from replay_spark.lake import LakeTable
    from replay_spark.session import get_spark_session
    import replay_spark.streaming.lakefeed as lf

    # instrument the reader class: every method logs
    orig = {}
    for m in ("initialOffset", "latestOffset", "partitions", "commit"):
        orig[m] = getattr(lf._LakeFeedReader, m)

    def wrap(name):
        fn = orig[name]

        def inner(self, *a, **k):
            r = fn(self, *a, **k)
            note(f"{name} args={a!r} -> {r if name != 'partitions' else len(r)}")
            return r

        return inner

    for m in orig:
        setattr(lf._LakeFeedReader, m, wrap(m))

    spark = get_spark_session(master="local[4]", shuffle_partitions=4)
    base = "/tmp/lf_probe"
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    if os.path.exists(LOG):
        os.remove(LOG)
    tpath = f"{base}/tbl"
    ckpt = f"{base}/ckpt"
    out = f"{base}/out"

    t = LakeTable(spark, tpath)
    for i in range(10):
        t.append(spark.range(i * 10, i * 10 + 10).selectExpr("id", "id*2 AS v"))

    lf.register_lakefeed(spark)
    note("=== FRESH START (startingVersion=-1, maxCommitsPerTrigger=2) ===")
    q = (
        spark.readStream.format("lakefeed")
        .option("path", tpath)
        .option("startingVersion", "-1")
        .option("maxCommitsPerTrigger", "2")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    deadline = time.time() + 60
    import glob
    while time.time() < deadline:
        n = sum(1 for _ in glob.glob(f"{out}/*.parquet"))
        # stop once we've caught up: count rows
        try:
            cnt = spark.read.parquet(out).count()
        except Exception:
            cnt = 0
        if cnt >= 100:
            break
        time.sleep(0.5)
    time.sleep(1.0)
    q.stop()
    note(f"fresh rows={spark.read.parquet(out).count()}")

    # add more commits while stream is DOWN, then restart
    for i in range(10, 16):
        t.append(spark.range(i * 10, i * 10 + 10).selectExpr("id", "id*2 AS v"))
    note("=== RESTART from checkpoint (6-commit backlog) ===")
    q = (
        spark.readStream.format("lakefeed")
        .option("path", tpath)
        .option("startingVersion", "-1")
        .option("maxCommitsPerTrigger", "2")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline:
        try:
            cnt = spark.read.parquet(out).count()
        except Exception:
            cnt = 0
        if cnt >= 160:
            break
        time.sleep(0.5)
    time.sleep(1.0)
    q.stop()
    df = spark.read.parquet(out)
    note(f"restart rows={df.count()} distinct={df.select('id').distinct().count()}")
    spark.stop()
    print(open(LOG).read())


if __name__ == "__main__":
    main()
