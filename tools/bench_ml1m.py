#!/usr/bin/env python
"""Model-path benchmark at the reference's own scale (BASELINE.md):
~1M interactions / 15k users — the ML-1M shape — built by 10x
user-shifted replication of the sf0.1 events table.

Prints one timing line per path, comparable to the reference's
02_models_comparison notebook numbers (fit 3.4-16.4s, predict
5-24s per model on local Spark).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))


def main():
    from pyspark.sql import functions as F

    import replay_spark.datasets as rsd
    from replay_spark.data import (
        Dataset,
        FeatureHint,
        FeatureInfo,
        FeatureSchema,
        FeatureType,
    )
    from replay_spark.metrics import NDCG
    from replay_spark.models import ALSWrap, ItemKNN, PopRec, SLIM, Word2VecRec

    from replay_spark.session import get_spark_session

    # the engine's session, Arrow driver transfer included: this bench
    # once built a bare session without it, so SLIM's 1M-row toPandas
    # collect ran on the pickled-row path (~4 s of its ~6 s warm fit)
    spark = get_spark_session(
        shuffle_partitions=int(CPUS),
        extra_conf={"spark.driver.memory": "16g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = rsd.load_interactions(spark, SF_DIR)
    replicas = [
        base.select(
            (F.col("query_id") + F.lit(i * 10_000_000)).alias("query_id"),
            "item_id",
            "timestamp",
            "rating",
        )
        for i in range(10)
    ]
    inter = replicas[0]
    for r in replicas[1:]:
        inter = inter.unionByName(r)
    inter = inter.cache()
    n = inter.count()
    users = inter.select("query_id").distinct().count()
    print(f"# corpus: {n} interactions, {users} users")

    schema = FeatureSchema(
        [
            FeatureInfo("query_id", FeatureType.CATEGORICAL, FeatureHint.QUERY_ID),
            FeatureInfo("item_id", FeatureType.CATEGORICAL, FeatureHint.ITEM_ID),
            FeatureInfo("timestamp", FeatureType.NUMERICAL, FeatureHint.TIMESTAMP),
            FeatureInfo("rating", FeatureType.NUMERICAL, FeatureHint.RATING),
        ]
    )
    ds = Dataset(schema, inter, check_consistency=False)

    def timed(label, fn):
        t0 = time.time()
        out = fn()
        print(f"{label}: {time.time() - t0:.1f}s")
        return out

    pop = PopRec()
    timed("PopRec fit", lambda: pop.fit(ds))
    recs = timed("PopRec predict k=10", lambda: pop.predict(ds, k=10))

    knn = ItemKNN(num_neighbours=10)
    timed("ItemKNN fit", lambda: knn.fit(ds))
    knn_recs = timed("ItemKNN predict k=10", lambda: knn.predict(ds, k=10))

    gt = inter.filter(F.col("rating") > 150).select("query_id", "item_id")
    timed(
        "NDCG@10 metric pass",
        lambda: NDCG(10)(knn_recs, gt),
    )

    # the remaining models BASELINE.md publishes times for (r12
    # verdict task #7): Implicit ALS, Word2Vec, SLIM — same corpus,
    # reference-notebook hyperparameters
    als = ALSWrap(rank=10, seed=42)
    timed("ALS fit", lambda: als.fit(ds))
    timed("ALS predict k=10", lambda: als.predict(ds, k=10))

    w2v = Word2VecRec(rank=100, window_size=1, seed=42)
    timed("Word2Vec fit", lambda: w2v.fit(ds))
    timed("Word2Vec predict k=10", lambda: w2v.predict(ds, k=10))

    slim = SLIM(beta=0.0048, lambda_=0.038, seed=42)
    timed("SLIM fit", lambda: slim.fit(ds))
    timed("SLIM predict k=10", lambda: slim.predict(ds, k=10))


if __name__ == "__main__":
    main()
