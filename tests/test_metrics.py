import pytest

from replay_spark.metrics import (
    MAP,
    MRR,
    NDCG,
    ConfidenceInterval,
    Coverage,
    Experiment,
    HitRate,
    Mean,
    Median,
    Novelty,
    OfflineMetrics,
    PerUser,
    Precision,
    Recall,
    RocAuc,
    Surprisal,
    Unexpectedness,
)


@pytest.fixture(scope="module")
def recs(spark):
    """Reference doctest frame (ndcg.py/experiment.py doctests):
    3 users x 5 ranked items each, rating = 5-rank."""
    rows = []
    preds = {1: [3, 7, 10, 11, 2], 2: [5, 8, 11, 7, 10], 3: [4, 9, 2, 5, 1]}
    for u, items in preds.items():
        for rank, i in enumerate(items):
            rows.append((u, i, float(len(items) - rank)))
    return spark.createDataFrame(rows, "query_id int, item_id int, rating double")


@pytest.fixture(scope="module")
def ground_truth(spark):
    # reference doctest groundtruth (ndcg.py:30-46)
    rows = [
        (1, 5), (1, 6), (1, 7), (1, 8), (1, 9), (1, 10),
        (2, 6), (2, 7), (2, 4), (2, 10), (2, 11),
        (3, 1), (3, 2), (3, 3), (3, 4), (3, 5),
    ]
    return spark.createDataFrame(rows, "query_id int, item_id int")


def test_per_user_default_returns_dataframe(recs, ground_truth):
    """PerUser() must NOT collect by default: the result is the
    per-user DataFrame (scale-safe); as_dict=True opts into the
    reference's driver-side dict."""
    from pyspark.sql import DataFrame

    out = NDCG(2, mode=PerUser())(recs, ground_truth)["NDCG-PerUser@2"]
    assert isinstance(out, DataFrame)
    assert sorted(out.columns) == ["query_id", "value"]
    vals = {r["query_id"]: r["value"] for r in out.collect()}
    assert vals[1] == pytest.approx(0.38685280723454163)
    assert vals[2] == pytest.approx(0.0)


def test_ndcg_golden(recs, ground_truth):
    """Reference golden: NDCG@2 == 0.3333333333333333 with per-user
    values {1: 0.38685, 2: 0.0, 3: 0.61315}."""
    out = NDCG(2)(recs, ground_truth)
    assert out["NDCG@2"] == pytest.approx(0.3333333333, abs=1e-9)
    per_user = NDCG(2, mode=PerUser(as_dict=True))(recs, ground_truth)["NDCG-PerUser@2"]
    assert per_user[1] == pytest.approx(0.38685280723454163)
    assert per_user[2] == pytest.approx(0.0)
    assert per_user[3] == pytest.approx(0.6131471927654584)
    med = NDCG(2, mode=Median())(recs, ground_truth)["NDCG-Median@2"]
    assert med == pytest.approx(0.38685280723454163)
    ci = NDCG(2, mode=ConfidenceInterval(0.95))(recs, ground_truth)[
        "NDCG-ConfidenceInterval@2"
    ]
    assert ci == pytest.approx(0.3508565839953337, rel=1e-4)


def test_map_golden(recs, ground_truth):
    out = MAP(2, mode=PerUser(as_dict=True))(recs, ground_truth)["MAP-PerUser@2"]
    assert out[1] == pytest.approx(0.25)
    assert out[2] == pytest.approx(0.0)
    assert out[3] == pytest.approx(0.5)


def test_hitrate_precision_recall(recs, ground_truth):
    hr = HitRate(2)(recs, ground_truth)["HitRate@2"]
    assert hr == pytest.approx(2 / 3)
    prec = Precision(2, mode=PerUser(as_dict=True))(recs, ground_truth)["Precision-PerUser@2"]
    assert prec == {1: 0.5, 2: 0.0, 3: 0.5}
    rec = Recall(2, mode=PerUser(as_dict=True))(recs, ground_truth)["Recall-PerUser@2"]
    assert rec[1] == pytest.approx(1 / 6)
    assert rec[3] == pytest.approx(1 / 5)


def test_mrr(recs, ground_truth):
    out = MRR(2, mode=PerUser(as_dict=True))(recs, ground_truth)["MRR-PerUser@2"]
    assert out[1] == pytest.approx(0.5)  # second item (7) is a hit
    assert out[2] == pytest.approx(0.0)
    assert out[3] == pytest.approx(1.0)


def test_rocauc(recs, ground_truth):
    out = RocAuc(2, mode=PerUser(as_dict=True))(recs, ground_truth)["RocAuc-PerUser@2"]
    # user1: pred [3,7]; 3 miss, 7 hit → fp_cur=1, fp_cum=1 → 1-1/(1*1)=0
    assert out[1] == pytest.approx(0.0)
    # user3: [1,2] both hits → fp_cum=0 → 1.0
    assert out[3] == pytest.approx(1.0)


def test_novelty(recs, spark):
    train = spark.createDataFrame([(1, 3), (2, 100), (3, 1)], "query_id int, item_id int")
    out = Novelty(2, mode=PerUser(as_dict=True))(recs, train)["Novelty-PerUser@2"]
    assert out[1] == pytest.approx(0.5)  # 3 seen, 7 new
    assert out[2] == pytest.approx(1.0)
    assert out[3] == pytest.approx(1.0)  # top-2 [4,9] disjoint from train {1}


def test_surprisal_golden(spark):
    """Reference golden (surprisal.py:73-80): Surprisal(2) == 0.6845351232142715."""
    recs = spark.createDataFrame(
        [
            (1, 3, 0.6), (1, 7, 0.5), (1, 10, 0.4), (1, 11, 0.3), (1, 2, 0.2),
            (2, 5, 0.6), (2, 8, 0.5), (2, 11, 0.4), (2, 7, 0.3), (2, 10, 0.2),
            (3, 4, 1.0), (3, 9, 0.5), (3, 2, 0.1),
        ],
        "query_id int, item_id int, rating double",
    )
    train = spark.createDataFrame(
        [
            (1, 5), (1, 6), (1, 7), (1, 8), (1, 9), (1, 10),
            (2, 6), (2, 7), (2, 4), (2, 10), (2, 11),
            (3, 1), (3, 2), (3, 3), (3, 4), (3, 5),
        ],
        "query_id int, item_id int",
    )
    out = Surprisal(2)(recs, train)["Surprisal@2"]
    assert out == pytest.approx(0.6845351232142715, abs=1e-10)


def test_coverage(recs, spark):
    train = spark.createDataFrame(
        [(1, i) for i in range(1, 12)], "query_id int, item_id int"
    )
    out = Coverage(2)(recs, train)["Coverage@2"]
    # top-2 per user: {3,7},{5,8},{1,2} → 6 distinct / 11 train items
    assert out == pytest.approx(6 / 11)
    # HLL++ opt-in is exact at driver-scale cardinalities
    approx = Coverage(2, approximate_rsd=0.005)(recs, train)["Coverage@2"]
    assert approx == pytest.approx(6 / 11)


def test_unexpectedness(recs):
    out = Unexpectedness(2)(recs, recs)["Unexpectedness@2"]
    assert out == pytest.approx(0.0)


def test_offline_metrics_and_experiment(recs, ground_truth, spark):
    train = spark.createDataFrame([(1, 3), (3, 1)], "query_id int, item_id int")
    om = OfflineMetrics([NDCG(2), HitRate(2), Coverage(2)])
    out = om(recs, ground_truth, train=train)
    assert set(out.keys()) == {"NDCG@2", "HitRate@2", "Coverage@2"}
    exp = Experiment([NDCG(2)], ground_truth)
    exp.add_result("model_a", recs)
    assert "NDCG@2" in exp.results.columns


def test_experiment_release_drops_ground_truth_cache(recs, spark):
    # a ground truth no other test caches: equal plans share one cache
    gt = spark.createDataFrame(
        [(1, 7), (2, 8), (3, 9), (3, 4)], "query_id int, item_id int"
    )
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    exp = Experiment([NDCG(2), HitRate(2)], gt)
    exp.add_result("model_a", recs)
    assert jsc.getPersistentRDDs().size() > before
    exp.release()
    assert jsc.getPersistentRDDs().size() == before
    exp.add_result("model_b", recs)  # rebuilds the grouping
    assert set(exp.results.index) == {"model_a", "model_b"}
    exp.release()


def test_sampled_ranking_evaluator(spark):
    """Deterministic md5 negatives (seen + self excluded), positive
    rank by score with item tie-break, NULL scores rank last, and
    the HR/NDCG fold."""
    from replay_spark.metrics import SampledRankingEvaluator

    test = spark.createDataFrame(
        [(1, 100), (2, 101)], "query_id long, item_id long"
    )
    items = spark.createDataFrame(
        [(i,) for i in range(100, 110)], "item_id long"
    )
    seen = spark.createDataFrame(
        [(1, 105), (1, 106), (2, 100)], "query_id long, item_id long"
    )
    ev = SampledRankingEvaluator(n_negatives=3, seed=7)
    cand = ev.candidates(test, items, seen=seen)
    got = {
        (r.query_id, r.item_id) for r in cand.collect()
    }
    # positives present; 3 negatives each; exclusions respected
    assert (1, 100) in got and (2, 101) in got
    per_q = cand.groupBy("query_id").count().collect()
    assert all(r["count"] == 4 for r in per_q)
    assert (1, 105) not in got and (1, 106) not in got  # seen
    assert (2, 100) not in got or (2, 101) in got       # seen for q2
    # determinism: second call identical
    assert got == {
        (r.query_id, r.item_id)
        for r in ev.candidates(test, items, seen=seen).collect()
    }

    # score: item 100 best for q1 (rank 1); for q2, make two
    # negatives outscore the positive -> rank 3
    def score(q, i):
        if q == 1:
            return 10.0 if i == 100 else 1.0
        return 5.0 if i == 101 else (9.0 if i % 2 == 0 else None)

    scored = cand.toPandas()
    scored["rating"] = [
        score(q, i) for q, i in zip(scored.query_id, scored.item_id)
    ]
    scored_df = spark.createDataFrame(scored)
    ranks = {r.query_id: r.rank for r in ev.evaluate(scored_df).collect()}
    assert ranks[1] == 1
    assert ranks[2] >= 2  # beaten by the 9.0 negatives
    m = SampledRankingEvaluator.metrics(ev.evaluate(scored_df), k=1)
    assert m["n"] == 2 and 0 <= m["hr"] <= 1 and 0 <= m["ndcg"] <= 1
    with pytest.raises(ValueError):
        SampledRankingEvaluator(n_negatives=0)


def test_sampled_eval_threshold_prefilter_is_lossless(spark):
    """The hash-threshold prefilter is a pure optimization: with a
    catalog large enough to engage it, the selected negatives are
    IDENTICAL to the unfiltered rank cut (the kept hashes are the
    globally smallest, which all fall below the threshold)."""
    from replay_spark.metrics import SampledRankingEvaluator

    test = spark.createDataFrame(
        [(1, 7), (2, 1900)], "query_id long, item_id long"
    )
    items = spark.createDataFrame(
        [(i,) for i in range(2000)], "item_id long"
    )
    with_thr = SampledRankingEvaluator(n_negatives=5, seed=3, oversample=8)
    assert 2000 > 4 * 5 * 8  # threshold engages
    no_thr = SampledRankingEvaluator(
        n_negatives=5, seed=3, oversample=2000
    )  # budget >= catalog -> prefilter skipped
    a = {(r.query_id, r.item_id) for r in with_thr.candidates(test, items).collect()}
    b = {(r.query_id, r.item_id) for r in no_thr.candidates(test, items).collect()}
    assert a == b
    assert len(a) == 2 * 6  # 5 negatives + the positive per query


def test_experiment_sampled_protocol_matches_full(spark):
    """With n_negatives covering the WHOLE catalog the sampled
    protocol degenerates to full-catalog ranking, so
    SampledHitRate@k / SampledNDCG@k must EQUAL HitRate@k / NDCG@k
    computed from the same scores — and both land in one Experiment
    results row."""
    from replay_spark.metrics import SampledRankingEvaluator

    n_items = 10
    users = [1, 2, 3]
    gt_rows = [(1, 4), (2, 7), (3, 0)]  # one positive per user
    items = spark.createDataFrame(
        [(i,) for i in range(n_items)], "item_id long"
    )

    def score(u, i):
        # unique within each user -> no tie-break ambiguity
        return float((u * 31 + i * 17) % 101) + i * 1e-3

    rec_rows = [
        (u, i, score(u, i)) for u in users for i in range(n_items)
    ]
    recs = spark.createDataFrame(
        rec_rows, "query_id long, item_id long, rating double"
    )
    gt = spark.createDataFrame(gt_rows, "query_id long, item_id long")
    ev = SampledRankingEvaluator(n_negatives=n_items - 1, seed=3)
    exp = Experiment(
        [HitRate(3), NDCG(3)],
        gt,
        sampled_evaluator=ev,
        sampled_ks=(3,),
    )
    exp.add_result("m", recs)
    cand = ev.candidates(gt, items)
    scored = cand.join(recs, on=["query_id", "item_id"], how="left")
    exp.add_sampled_result("m", scored)
    row = exp.results.loc["m"]
    assert row["SampledHitRate@3"] == pytest.approx(row["HitRate@3"])
    assert row["SampledNDCG@3"] == pytest.approx(row["NDCG@3"])
    # guard: evaluator not configured -> clear error
    exp2 = Experiment([HitRate(3)], gt)
    with pytest.raises(ValueError, match="sampled_evaluator"):
        exp2.add_sampled_result("m", scored)
