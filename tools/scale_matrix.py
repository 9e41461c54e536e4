import os, sys, time, json
TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(TOOLS)); sys.path.insert(0, TOOLS)
CPUS = int(os.environ.get("SM_CPUS", "32"))
from replay_spark.session import get_spark_session
spark = get_spark_session(app_name="scale", master=f"local[{CPUS}]", shuffle_partitions=CPUS,
                          extra_conf={"spark.driver.memory": "16g"})
spark.sparkContext.setLogLevel("ERROR")
from make_scale_replica import ensure_replica
sf1 = ensure_replica()
import glob
for tbl in sorted(glob.glob(os.path.join(sf1, "*.parquet"))):
    try:
        spark.read.parquet(tbl).foreach(lambda _r: None)
    except Exception:
        pass
import __spark_entry__ as entrymod
qs = entrymod.queries()
LEGS = ["q_lake_stream_source", "q_dedup_clusters", "q_contamination_report",
        "q_ivf_ann", "q_lake_stats", "q_materialized_agg", "q_ann_incremental",
        "q_minhash_candidates_md5", "q_ngram_jaccard_capped", "q_pq_ann",
        "q_ivfpq_ann", "q_textrank"]
out = {}
for name in LEGS:
    q = qs[name]
    spark.catalog.clearCache()
    t0 = time.time(); q(spark, sf1).count(); cold = round(time.time()-t0, 3)
    warms = []
    for _ in range(3):
        t0 = time.time(); q(spark, sf1).count(); warms.append(round(time.time()-t0, 3))
    out[name] = {"cold": cold, "min": min(warms), "med": sorted(warms)[1]}
    print(f"# cpus={CPUS} {name}: cold={cold} warms={warms}", flush=True)
print(json.dumps({"cpus": CPUS, "legs": out}))
