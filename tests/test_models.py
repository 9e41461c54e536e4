import pytest

from replay_spark.data import (
    Dataset,
    FeatureHint,
    FeatureInfo,
    FeatureSchema,
    FeatureType,
)
from replay_spark.models import (
    ALSWrap,
    AssociationRulesItemRec,
    ItemKNN,
    KLUCB,
    PopRec,
    QueryPopRec,
    RandomRec,
    ThompsonSampling,
    UCB,
    Wilson,
    Word2VecRec,
)


@pytest.fixture(scope="module")
def schema():
    return FeatureSchema(
        [
            FeatureInfo("query_id", FeatureType.CATEGORICAL, FeatureHint.QUERY_ID),
            FeatureInfo("item_id", FeatureType.CATEGORICAL, FeatureHint.ITEM_ID),
            FeatureInfo("timestamp", FeatureType.NUMERICAL, FeatureHint.TIMESTAMP),
            FeatureInfo("rating", FeatureType.NUMERICAL, FeatureHint.RATING),
        ]
    )


@pytest.fixture(scope="module")
def dataset(spark, interactions, schema):
    return Dataset(schema, interactions)


@pytest.fixture(scope="module")
def binary_dataset(spark, schema):
    import datetime

    rows = [
        (0, 0, datetime.datetime(2019, 8, 22), 1.0),
        (0, 1, datetime.datetime(2019, 8, 23), 0.0),
        (1, 0, datetime.datetime(2019, 8, 24), 1.0),
        (1, 1, datetime.datetime(2019, 8, 25), 1.0),
        (2, 1, datetime.datetime(2019, 8, 26), 0.0),
        (2, 2, datetime.datetime(2019, 8, 26), 1.0),
    ]
    df = spark.createDataFrame(
        rows, "query_id int, item_id int, timestamp timestamp, rating double"
    )
    return Dataset(FeatureSchema(
        [
            FeatureInfo("query_id", FeatureType.CATEGORICAL, FeatureHint.QUERY_ID),
            FeatureInfo("item_id", FeatureType.CATEGORICAL, FeatureHint.ITEM_ID),
            FeatureInfo("timestamp", FeatureType.NUMERICAL, FeatureHint.TIMESTAMP),
            FeatureInfo("rating", FeatureType.NUMERICAL, FeatureHint.RATING),
        ]
    ), df)


def test_pop_rec_golden(dataset):
    """Reference golden (tests/models/test_pop_rec.py:37-41):
    k=1 recs for users [0,1,2] are items [1, 2, 0]... adapted to our
    7-row conftest log: item popularity 0:2/3, 1:3/3, 2:1/3, 3:1/3."""
    model = PopRec()
    recs = model.fit_predict(dataset, k=1)
    got = {r.query_id: r.item_id for r in recs.collect()}
    # popularity: 1→1.0, 0→2/3, {2,3}→1/3 with item-DESC tie-break in the
    # candidate ranking (reference base_rec.py:1240), so item 3 outranks 2
    # user 0 saw 0,1,2 → 3; user 1 saw 0,1 → 3 (2 falls outside rank cap);
    # user 2 saw 1,3 → 0
    assert got == {0: 3, 1: 3, 2: 0}


def test_pop_rec_use_rating(dataset):
    model = PopRec(use_rating=True)
    recs = model.fit_predict(dataset, k=1)
    assert recs.count() == 3


def test_pop_rec_predict_pairs(spark, dataset):
    model = PopRec().fit(dataset)
    pairs = spark.createDataFrame([(0, 1), (2, 0)], "query_id int, item_id int")
    out = model.predict_pairs(pairs).collect()
    got = {(r.query_id, r.item_id): r.rating for r in out}
    assert got[(0, 1)] == pytest.approx(1.0)
    assert got[(2, 0)] == pytest.approx(2 / 3)


def test_query_pop_rec(dataset):
    model = QueryPopRec()
    recs = model.fit_predict(dataset, k=2, filter_seen_items=False)
    assert recs.count() > 0
    row = recs.filter("query_id = 2").first()
    assert row.rating == pytest.approx(0.5)


def test_wilson(binary_dataset):
    model = Wilson()
    recs = model.fit_predict(binary_dataset, k=1)
    assert recs.count() == 3
    pops = {r.item_id: r.rating for r in model.item_popularity.collect()}
    # item 0: 2/2 positive -> highest bound
    assert pops[0] > pops[1]


def test_ucb_and_refit(binary_dataset):
    model = UCB(coef=2.0)
    model.fit(binary_dataset)
    pops1 = {r.item_id: r.rating for r in model.item_popularity.collect()}
    assert pops1[0] > pops1[1]
    model.refit(binary_dataset)
    assert model.full_count == 12
    recs = model.predict(binary_dataset, k=1)
    assert recs.count() == 3


def test_thompson(spark, binary_dataset, schema):
    import datetime

    model = ThompsonSampling(seed=42)
    recs = model.fit_predict(binary_dataset, k=1)
    assert recs.count() == 3
    # an item's draw depends on the seed and the item only, not on
    # how the input is partitioned (30 items, so the scored items
    # span several Arrow batches once the input is split)
    ts = datetime.datetime(2019, 8, 22)
    interactions = spark.createDataFrame(
        [
            (q, i, ts, float((7 * q + i) % 3 == 0))
            for q in range(20)
            for i in range(30)
        ],
        "query_id int, item_id int, timestamp timestamp, rating double",
    )

    def popularity(df):
        fitted = ThompsonSampling(seed=42).fit(Dataset(schema, df))
        return sorted(map(tuple, fitted.item_popularity.collect()))

    assert popularity(interactions.repartition(7)) == popularity(interactions)


def test_klucb(binary_dataset):
    import math

    model = KLUCB()
    model.fit(binary_dataset)
    pops = {r.item_id: r.rating for r in model.item_popularity.collect()}
    assert all(0 <= v <= 1.0 + 1e-9 for v in pops.values())
    # reference kl_ucb.py:157-161 degenerate branch: an all-positive
    # arm solves the UNSCALED ln(1/q) = ln(N) + c·ln(ln(N)), i.e.
    # q = e^-rhs — reproduced exactly (parity over intuition; the
    # doctest-pinned p̂=0 branch mirrors it as 1 - e^-rhs)
    n = 6  # binary_dataset rows
    rhs = math.log(n)
    assert pops[0] == pytest.approx(math.exp(-rhs), abs=1e-9)


def test_random_rec(dataset):
    model = RandomRec(seed=42)
    recs = model.fit_predict(dataset, k=2)
    assert recs.count() > 0
    # deterministic under fixed seed
    recs2 = RandomRec(seed=42).fit_predict(dataset, k=2)
    assert sorted(map(tuple, recs.collect())) == sorted(map(tuple, recs2.collect()))
    # and independent of the order the candidate items arrive in (no
    # dataset, so each query draws only k of the 4 items)
    fwd = model.predict(None, k=2, queries=[0, 1, 2], items=[0, 1, 2, 3])
    rev = model.predict(None, k=2, queries=[0, 1, 2], items=[3, 2, 1, 0])
    assert sorted(map(tuple, fwd.collect())) == sorted(map(tuple, rev.collect()))


def test_item_knn(dataset):
    model = ItemKNN(num_neighbours=2)
    recs = model.fit_predict(dataset, k=1)
    got = {r.query_id: r.item_id for r in recs.collect()}
    assert 0 in got and 1 in got and 2 in got
    sim = model.similarity.collect()
    assert all(r.item_idx_one != r.item_idx_two for r in sim)


def test_item_knn_bm25(dataset):
    model = ItemKNN(num_neighbours=2, weighting="bm25")
    model.fit(dataset)
    assert model.similarity.count() > 0


def test_association_rules(dataset):
    model = AssociationRulesItemRec(min_item_count=1, min_pair_count=1)
    model.fit(dataset)
    sim = model.similarity
    cols = set(sim.columns)
    assert {"item_idx_one", "item_idx_two", "confidence", "lift", "confidence_gain"} <= cols
    # items 0 and 1 co-occur in sessions of users 0 and 1
    row = sim.filter("item_idx_one = 0 and item_idx_two = 1").first()
    assert row is not None
    assert row.confidence == pytest.approx(1.0)  # both sessions with 0 contain 1


def test_als(dataset):
    model = ALSWrap(rank=4, seed=42)
    recs = model.fit_predict(dataset, k=1)
    assert recs.count() == 3
    pairs = recs.select("query_id", "item_id")
    scored = model.predict_pairs(pairs, dataset)
    assert scored.count() == 3


def test_word2vec(dataset):
    model = Word2VecRec(rank=4, min_count=0, seed=42)
    recs = model.fit_predict(dataset, k=1)
    assert recs.count() == 3


def test_save_load(tmp_path, dataset, spark):
    model = PopRec().fit(dataset)
    model.save(str(tmp_path / "pop"))
    loaded = PopRec.load(str(tmp_path / "pop"), spark)
    recs1 = model.predict(dataset, k=1).collect()
    recs2 = loaded.predict(dataset, k=1).collect()
    assert sorted(map(tuple, recs1)) == sorted(map(tuple, recs2))


def test_association_rules_session_cap(dataset):
    """max_session_length caps pair generation; None keeps parity."""
    capped = AssociationRulesItemRec(
        min_item_count=1, min_pair_count=1, max_session_length=1
    )
    capped.fit(dataset)
    # one item per session -> no pairs survive
    assert capped.similarity.count() == 0
    uncapped = AssociationRulesItemRec(min_item_count=1, min_pair_count=1)
    uncapped.fit(dataset)
    assert uncapped.similarity.count() > 0


def test_sampling_collect_cap(dataset):
    """Sampling predict refuses to collect more items than the cap."""
    import pytest as _pytest

    from replay_spark.models import RandomRec

    model = RandomRec(seed=1)
    model.fit(dataset)
    model.sample = True
    model.max_items_to_collect = 1
    with _pytest.raises(ValueError, match="max_items_to_collect"):
        model.predict(dataset, k=1).collect()


def test_set_params(dataset):
    model = PopRec()
    model.set_params(use_rating=True, cold_weight=0.7)
    assert model.use_rating is True and model.cold_weight == 0.7
    # refit after set_params works and cached state was dropped
    model.fit(dataset)
    assert model.item_popularity.count() > 0


def test_item_knn_salted_matches_unsalted(dataset):
    """salt_buckets spreads the user self-join without changing results."""
    plain = ItemKNN(num_neighbours=3)
    plain.fit(dataset)
    salted = ItemKNN(num_neighbours=3, salt_buckets=4)
    salted.fit(dataset)

    def rows(model):
        return sorted(
            (r.item_idx_one, r.item_idx_two, round(r.similarity, 9))
            for r in model.similarity.collect()
        )

    assert rows(plain) == rows(salted)


def test_association_rules_reference_doctest(spark):
    """Exact golden from the reference doctest
    (association_rules.py:36-92): pair (2,1) scores confidence 0.5
    and lift 1.5 on the 4-row toy log."""
    inter = spark.createDataFrame(
        [(1, 1, 2.0), (1, 2, 1.0), (2, 2, 4.0), (3, 3, 1.0)],
        "query_id long, item_id long, rating double",
    )
    schema = FeatureSchema(
        [
            FeatureInfo("query_id", FeatureType.CATEGORICAL, FeatureHint.QUERY_ID),
            FeatureInfo("item_id", FeatureType.CATEGORICAL, FeatureHint.ITEM_ID),
            FeatureInfo("rating", FeatureType.NUMERICAL, FeatureHint.RATING),
        ]
    )
    ds = Dataset(schema, inter, check_consistency=False)
    model = AssociationRulesItemRec(
        min_item_count=1, min_pair_count=0, session_column="query_id"
    )
    model.fit(ds)
    pairs = spark.createDataFrame([(2, 1)], "query_id long, item_id long")

    model.similarity_metric = "confidence"
    row = model.predict_pairs(pairs, ds).first()
    assert row["rating"] == pytest.approx(0.5)

    model.similarity_metric = "lift"
    row = model.predict_pairs(pairs, ds).first()
    assert row["rating"] == pytest.approx(1.5)


def _toy_binary_dataset(spark, rows):
    inter = spark.createDataFrame(
        rows, "query_id long, item_id long, rating double"
    )
    schema = FeatureSchema(
        [
            FeatureInfo("query_id", FeatureType.CATEGORICAL, FeatureHint.QUERY_ID),
            FeatureInfo("item_id", FeatureType.CATEGORICAL, FeatureHint.ITEM_ID),
            FeatureInfo("rating", FeatureType.NUMERICAL, FeatureHint.RATING),
        ]
    )
    return Dataset(schema, inter, check_consistency=False)


def test_ucb_reference_doctest(spark):
    """Exact goldens from the reference doctest (ucb.py:60-75):
    cold item 3 gets the optimistic fill 2.665109, seen items score
    mean + sqrt(2 ln N / n)."""
    from replay_spark.models import UCB

    ds = _toy_binary_dataset(
        spark, [(1, 1, 1.0), (2, 2, 0.0), (3, 1, 0.0), (3, 2, 0.0)]
    )
    model = UCB()
    model.fit(ds)
    recs = model.predict(ds, k=2, queries=[1, 2, 3, 4], items=[1, 2, 3])
    got = {
        (r["query_id"], r["item_id"]): round(r["rating"], 6)
        for r in recs.collect()
    }
    expected = {
        (1, 3): 2.665109, (1, 2): 1.17741,
        (2, 3): 2.665109, (2, 1): 1.67741,
        (3, 3): 2.665109,
        (4, 3): 2.665109, (4, 1): 1.67741,
    }
    for pair, val in expected.items():
        assert pair in got and abs(got[pair] - val) < 1e-5, (pair, got.get(pair))


def test_wilson_reference_doctest(spark):
    """Exact goldens from the reference doctest (wilson.py:60-66)."""
    from replay_spark.models import Wilson

    ds = _toy_binary_dataset(spark, [(1, 1, 1.0), (2, 2, 1.0)])
    recs = Wilson().fit_predict(ds, k=1)
    got = {
        (r["query_id"], r["item_id"]): round(r["rating"], 6)
        for r in recs.collect()
    }
    assert got == {(1, 2): 0.206549, (2, 1): 0.206549}


def test_klucb_reference_doctest(spark):
    """Exact goldens from the reference doctest (kl_ucb.py:55-70)."""
    from replay_spark.models import KLUCB

    ds = _toy_binary_dataset(
        spark, [(1, 1, 1.0), (2, 2, 0.0), (3, 1, 0.0), (3, 2, 0.0)]
    )
    model = KLUCB()
    model.fit(ds)
    recs = model.predict(ds, k=2, queries=[1, 2, 3, 4], items=[1, 2, 3])
    got = {
        (r["query_id"], r["item_id"]): round(r["rating"], 6)
        for r in recs.collect()
    }
    expected = {
        (1, 3): 1.0, (1, 2): 0.75,
        (2, 3): 1.0, (2, 1): 0.933013,
        (3, 3): 1.0,
        (4, 3): 1.0, (4, 1): 0.933013,
    }
    for pair, val in expected.items():
        assert pair in got and abs(got[pair] - val) < 1e-5, (pair, got.get(pair))


def test_query_pop_rec_reference_doctest(spark):
    """Exact goldens from the reference doctest
    (query_pop_rec.py:40-50)."""
    from replay_spark.models import QueryPopRec

    ds = _toy_binary_dataset(spark, [(1, 1, 2.0), (1, 2, 1.0), (3, 3, 1.0)])
    model = QueryPopRec()
    recs = model.fit_predict(ds, 1, filter_seen_items=False)
    assert model.query_item_popularity.count() == 3
    got = {
        (r["query_id"], r["item_id"]): round(r["rating"], 6)
        for r in recs.collect()
    }
    assert got == {(1, 1): 0.666667, (3, 3): 1.0}


def test_universe_counts_lazy_and_saved(spark, dataset):
    """fit() must not run the universe countDistinct action eagerly:
    the memo appears only on first queries_count/items_count access,
    the values match a direct computation, and _save_scalars still
    carries both (forced for saved artifacts)."""
    from pyspark.sql import functions as F

    model = ItemKNN(num_neighbours=2).fit(dataset)
    assert not hasattr(model, "_num_queries")
    assert not hasattr(model, "_num_items")
    row = dataset.interactions.agg(
        F.countDistinct("query_id").alias("q"),
        F.countDistinct("item_id").alias("i"),
    ).first()
    assert model.queries_count == row["q"]
    assert model.items_count == row["i"]
    assert hasattr(model, "_num_queries")

    fresh = ItemKNN(num_neighbours=2).fit(dataset)
    scalars = fresh._save_scalars()
    assert scalars["_num_queries"] == row["q"]
    assert scalars["_num_items"] == row["i"]


POP_REC_JOB_BOUND = 4


def test_pop_rec_job_count(spark_work, dataset):
    """Tripwire: PopRec fit reads the popularity, the divisor and its
    scalars in one aggregation and one action, and predict ranks
    ``item_popularity`` as is and filters each query's seen items in
    the same stage. A separate query count, a broadcast divisor, a
    universe join or a per-query window and join chain in predict
    pushes it over the bound."""
    model = PopRec()
    _, fit_jobs, _ = spark_work(lambda: model.fit(dataset))
    assert fit_jobs <= POP_REC_JOB_BOUND, fit_jobs
    recs, predict_jobs, _ = spark_work(lambda: model.predict(dataset, k=2))
    assert predict_jobs <= POP_REC_JOB_BOUND, predict_jobs
    assert recs.count() == 5
    recs.unpersist()


# the bounded catalog collect and the result cache (a count before the
# collect made it 3)
SAMPLING_PREDICT_ACTION_BOUND = 2


def test_sampling_predict_collects_catalog_once(spark_work, dataset):
    """Tripwire: sampling predict reads its catalog with one bounded
    collect, not a count and then a collect over the same plan."""
    from replay_spark.models import RandomRec

    model = RandomRec(seed=1).fit(dataset)
    recs, _, actions = spark_work(lambda: model.predict(dataset, k=2))
    assert actions <= SAMPLING_PREDICT_ACTION_BOUND, actions
    assert recs.count() > 0
    recs.unpersist()


# six users, eight items; popularity ties at 2/6 (items 2, 3) and at
# 1/6 (items 4-7), so the k-th score is often a tie
_NP_LOG = [
    (0, 0), (0, 1), (0, 2),
    (1, 0), (1, 1), (1, 3),
    (2, 1), (2, 4),
    (3, 2), (3, 3), (3, 5),
    (4, 0), (4, 6),
    (5, 1), (5, 7),
]


def _nulls_first(value):
    """Sort key that orders None first, as Spark orders nulls ascending."""
    return (value is not None, value)


def _np_reference(k, queries=None, items=None, add_cold_items=True,
                  filter_seen=True, with_dataset=True, log=_NP_LOG,
                  feature_queries=(), feature_items=()):
    """Python replica of the non-personalized predict: rank the catalog
    by (rating desc, item desc), take the first k + |seen| entries,
    drop the seen ones, keep the k best by (rating desc, item asc).

    popularity = distinct non-null users / distinct queries, where the
    queries are the log's and ``feature_queries``, a null id counted
    once. A null item id is scored like a cold item and is nobody's
    seen item; ``feature_items`` join the universe as cold items.
    """
    users = {q for q, _ in log} | set(feature_queries)
    item_users = {}
    for q, i in log:
        item_users.setdefault(i, set()).update({q} - {None})
    pop = {i: len(us) / len(users) for i, us in item_users.items()}
    fill = min(pop.values()) * 0.5
    if items is None:
        items = {i for _, i in log} | set(feature_items)
    warm = [i for i in items if i is not None and i in pop]
    catalog = [
        (i, pop[i] if i in warm else fill)
        for i in items
        if add_cold_items or i in warm
    ]
    ranked = sorted(
        catalog, key=lambda kv: (kv[1], _nulls_first(kv[0])), reverse=True
    )
    if queries is None:
        queries = {q for q, _ in log}
    seen = {}
    if filter_seen and with_dataset:
        for q, i in log:
            if q is not None and i is not None:
                seen.setdefault(q, set()).add(i)
    rows = []
    for q in queries:
        s = seen.get(q, set())
        cand = [kv for kv in ranked[: k + len(s)] if kv[0] not in s]
        best = sorted(cand, key=lambda kv: (-kv[1], _nulls_first(kv[0])))[:k]
        rows.extend((q, i, r) for i, r in best)
    return sorted(rows, key=lambda row: tuple(map(_nulls_first, row)))


def _rows(recs):
    """Collected ``[query, item, rating]`` rows in ``_np_reference`` order."""
    return sorted(
        ((r[0], r[1], r[2]) for r in recs.collect()),
        key=lambda row: tuple(map(_nulls_first, row)),
    )


@pytest.mark.parametrize("conf", ["shipped", "aqe_off_37"])
def test_non_personalized_predict_matches_pandas(spark, schema, conf):
    """The seen-aware stage returns exactly the pandas reference's rows
    over ties at the k-th score, an explicit cold query, an explicit
    item list with a cold item, add_cold_items=False, k above the
    catalog size, filter_seen_items=False, dataset=None and the
    above-1M-items branch — under the shipped conf and with AQE off
    on 37 shuffle partitions."""
    import datetime

    overrides = (
        {}
        if conf == "shipped"
        else {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": "37",
        }
    )
    saved = {key: spark.conf.get(key) for key in overrides}
    for key, value in overrides.items():
        spark.conf.set(key, value)
    try:
        ts = datetime.datetime(2019, 8, 22)
        df = spark.createDataFrame(
            [(q, i, ts, 1.0) for q, i in _NP_LOG],
            "query_id int, item_id int, timestamp timestamp, rating double",
        )
        ds = Dataset(schema, df)
        warm = PopRec().fit(ds)
        known_only = PopRec(add_cold_items=False).fit(ds)
        # a catalog above 1M items takes the distributed-rank branch
        ranked = PopRec().fit(ds)
        ranked._num_items = 1_000_001
        cases = [
            (warm, dict(k=2), {}),
            (warm, dict(k=4), {}),
            (warm, dict(k=3, queries=[0, 2, 99]), dict(queries=[0, 2, 99])),
            (warm, dict(k=3, items=[0, 2, 3, 5, 50]), dict(items=[0, 2, 3, 5, 50])),
            (
                known_only,
                dict(k=3, items=[0, 2, 3, 5, 50]),
                dict(items=[0, 2, 3, 5, 50], add_cold_items=False),
            ),
            (warm, dict(k=20), {}),
            (warm, dict(k=3, filter_seen_items=False), dict(filter_seen=False)),
            (ranked, dict(k=4), {}),
            (ranked, dict(k=3, queries=[0, 2, 99]), dict(queries=[0, 2, 99])),
        ]
        for model, args, ref in cases:
            recs = model.predict(ds, **args)
            got = _rows(recs)
            assert got == _np_reference(args["k"], **ref), (args, got)
            recs.unpersist()
        got = _rows(warm.predict(None, k=2, queries=[0, 99]))
        assert got == _np_reference(2, queries=[0, 99], with_dataset=False)
    finally:
        for key, value in saved.items():
            spark.conf.set(key, value)


def test_non_personalized_predict_releases_its_caches(spark, schema):
    """Above 1M items the catalog is numbered through a persisted
    intermediate; predict hands it to its own unpersist, so a predict
    and the unpersist of its recs leave no cache behind."""
    import datetime

    ts = datetime.datetime(2019, 8, 22)
    df = spark.createDataFrame(
        [(q, i, ts, 1.0) for q, i in _NP_LOG],
        "query_id int, item_id int, timestamp timestamp, rating double",
    )
    ds = Dataset(schema, df)
    model = PopRec().fit(ds)
    # a predict below 1M items materializes the fit's own caches
    model.predict(ds, k=3).unpersist()
    model._num_items = 1_000_001
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    recs = model.predict(ds, k=3)
    assert recs.count() > 0
    recs.unpersist()
    assert jsc.getPersistentRDDs().size() <= before


def _np_dataset(spark, schema, log, feature_queries=(), feature_items=()):
    import datetime

    ts = datetime.datetime(2019, 8, 22)
    df = spark.createDataFrame(
        [(q, i, ts, 1.0) for q, i in log],
        "query_id int, item_id int, timestamp timestamp, rating double",
    )
    query_features = item_features = None
    if feature_queries:
        query_features = spark.createDataFrame(
            [(q, 0.5) for q in feature_queries], "query_id int, age double"
        )
    if feature_items:
        item_features = spark.createDataFrame(
            [(i, 0.5) for i in feature_items], "item_id int, price double"
        )
    return Dataset(
        schema,
        df,
        query_features=query_features,
        item_features=item_features,
        check_consistency=False,
    )


def _predict_both_ways(model, ds, **args):
    """Rows of ``model.predict`` as fitted, and with the catalog taken
    through the join of ``item_popularity`` onto the fit item universe."""
    fast = _rows(model.predict(ds, **args))
    kept, model._popularity_items = getattr(model, "_popularity_items", None), None
    try:
        joined = _rows(model.predict(ds, **args))
    finally:
        model._popularity_items = kept
    return fast, joined


# null query ids (one of them the only user of item 8) and null item
# ids (one of them the only item of query 6)
_NULL_LOG = _NP_LOG + [(None, 1), (None, 8), (2, None), (6, None)]


@pytest.mark.parametrize(
    "case",
    ["plain", "nulls", "nulls_known_only", "query_features", "item_features"],
)
def test_predict_over_fit_universe_reads_popularity(spark, spark_work, schema, case):
    """Over the fit item universe predict ranks ``item_popularity`` as
    is; its rows are the universe join's and the reference's: with
    null query and item ids in the log (the null item is scored with
    the fill), with add_cold_items=False, with query_features that add
    queries to the divisor, and with item_features whose feature-only
    items take the fill (there the join runs). Each fit is one action."""
    log = _NULL_LOG if case.startswith("nulls") else _NP_LOG
    add_cold_items = case != "nulls_known_only"
    features = {
        "query_features": dict(feature_queries=[10, 11, None]),
        "item_features": dict(feature_items=[50, 51]),
    }.get(case, {})
    ds = _np_dataset(spark, schema, log, **features)
    model = PopRec(add_cold_items=add_cold_items)
    assert spark_work(lambda: model.fit(ds)).actions == 1
    assert (model._popularity_items is model.fit_items) == (case != "item_features")
    queries = {q for q, _ in log} | set(features.get("feature_queries", ()))
    assert model.queries_count == len(queries)
    for k in (2, 4, 20):
        fast, joined = _predict_both_ways(model, ds, k=k)
        assert fast == joined, (k, fast, joined)
        expected = _np_reference(
            k, log=log, add_cold_items=add_cold_items, **features
        )
        assert fast == expected, (k, fast)


def test_sampling_predict_over_fit_universe_reads_popularity(spark, schema):
    """Sampling predict draws from the same catalog either way."""
    ds = _np_dataset(spark, schema, _NP_LOG)
    for distribution in ("uniform", "popular_based"):
        model = RandomRec(distribution, seed=7).fit(ds)
        fast, joined = _predict_both_ways(model, ds, k=3)
        assert fast == joined and len(fast) == 18


def test_ucb_refit_keeps_the_fit_universe(spark, schema):
    """After a refit that adds items, predict still recommends from the
    fit universe: the same rows as the universe join, and none of the
    new items."""
    first = _np_dataset(spark, schema, _NP_LOG)
    model = UCB().fit(first)
    model.refit(_np_dataset(spark, schema, [(0, 20), (1, 21), (2, 0)]))
    assert model.full_count == len(_NP_LOG) + 3
    assert {r.item_id for r in model.item_popularity.collect()} >= {20, 21}
    fast, joined = _predict_both_ways(model, first, k=3)
    assert fast == joined
    explicit = _rows(model.predict(first, k=3, items=list(range(8))))
    assert fast == explicit
    assert not {i for _, i, _ in fast} & {20, 21}


def test_poprec_save_load_predicts_the_same(spark, schema, tmp_path):
    """A loaded PopRec has no fit universe cache of its own; its predict
    joins the saved universe and returns the fitted model's rows."""
    ds = _np_dataset(spark, schema, _NULL_LOG)
    model = PopRec().fit(ds)
    model.save(str(tmp_path / "pop"))
    loaded = PopRec.load(str(tmp_path / "pop"))
    assert getattr(loaded, "_popularity_items", None) is None
    expected = _np_reference(3, log=_NULL_LOG)
    assert _rows(model.predict(ds, k=3)) == expected
    assert _rows(loaded.predict(ds, k=3)) == expected


_FAMILY = {
    "PopRec": PopRec,
    "PopRec_rating": lambda: PopRec(use_rating=True),
    "Wilson": Wilson,
    "UCB": UCB,
    "KLUCB": KLUCB,
    "ThompsonSampling": lambda: ThompsonSampling(seed=3),
    "RandomRec_uniform": RandomRec,
    "RandomRec_popular": lambda: RandomRec("popular_based", alpha=1.0),
    "RandomRec_relevance": lambda: RandomRec("relevance"),
}


@pytest.mark.parametrize("name", sorted(_FAMILY))
def test_non_personalized_fit_runs_one_action(spark_work, binary_dataset, name):
    """Tripwire: a non-personalized fit caches its per-item table and
    reads every scalar (fill, totals, item count, the 0/1 rating check)
    in one SQL action. A separate check, count or fill pull is a
    second."""
    model = _FAMILY[name]()
    _, _, actions = spark_work(lambda: model.fit(binary_dataset))
    assert actions == 1, actions
    if isinstance(model, UCB):
        _, _, actions = spark_work(lambda: model.refit(binary_dataset))
        assert actions == 1, actions


def test_bandit_rating_check_rides_the_fit(dataset, binary_dataset):
    """A rating outside 0/1 fails every bandit fit after its one
    action, and a refit with such a batch leaves UCB as it was."""
    for model in (Wilson(), UCB(), KLUCB(), ThompsonSampling(seed=1)):
        with pytest.raises(ValueError, match="0 or 1"):
            model.fit(dataset)
    model = UCB().fit(binary_dataset)
    before = sorted(map(tuple, model.item_popularity.collect()))
    with pytest.raises(ValueError, match="0 or 1"):
        model.refit(dataset)
    assert model.full_count == 6
    assert sorted(map(tuple, model.item_popularity.collect())) == before


# 7 users x 12 items, binary ratings; many ties in every bandit score
_BANDIT_LOG = [
    (q, i, float((q + 2 * i) % 3 != 0))
    for q in range(7)
    for i in range(12)
    if (q * 5 + i * 3) % 7 < 3
]
# predict rows (rounded to 9 places) of the generic join-chain predict
# this stage replaced, for predict(k=3) and for
# predict(k=2, queries=[0, 4, 9], items=[0, 1, 2, 5, 11])
_BANDIT_ROWS = {
    "Wilson": (
        [(0, 2, 0.207659601), (0, 4, 0.438502968), (0, 6, 0.438502968),
         (1, 4, 0.438502968), (1, 5, 0.438502968), (1, 7, 0.438502968),
         (2, 3, 0.207659601), (2, 5, 0.438502968), (2, 7, 0.438502968),
         (3, 3, 0.207659601), (3, 4, 0.438502968), (3, 6, 0.438502968),
         (4, 4, 0.438502968), (4, 6, 0.438502968), (4, 7, 0.438502968),
         (5, 2, 0.207659601), (5, 5, 0.438502968), (5, 7, 0.438502968),
         (6, 3, 0.207659601), (6, 5, 0.438502968), (6, 6, 0.438502968)],
        [(0, 1, 0.061491945), (0, 2, 0.207659601), (4, 2, 0.207659601),
         (4, 11, 0.061491945), (9, 2, 0.207659601), (9, 5, 0.438502968)],
    ),
    "UCB": (
        [(0, 2, 2.212309777), (0, 4, 2.545643111), (0, 6, 2.545643111),
         (1, 4, 2.545643111), (1, 5, 2.545643111), (1, 7, 2.545643111),
         (2, 3, 2.212309777), (2, 5, 2.545643111), (2, 7, 2.545643111),
         (3, 3, 2.212309777), (3, 4, 2.545643111), (3, 6, 2.545643111),
         (4, 4, 2.545643111), (4, 6, 2.545643111), (4, 7, 2.545643111),
         (5, 2, 2.212309777), (5, 5, 2.545643111), (5, 7, 2.545643111),
         (6, 3, 2.212309777), (6, 5, 2.545643111), (6, 6, 2.545643111)],
        [(0, 1, 1.878976444), (0, 2, 2.212309777), (4, 2, 2.212309777),
         (4, 11, 1.878976444), (9, 2, 2.212309777), (9, 5, 2.545643111)],
    ),
    "ThompsonSampling": (
        [(0, 2, 0.80803616), (0, 4, 0.953823105), (0, 9, 0.850413948),
         (1, 4, 0.953823105), (1, 5, 0.937658901), (1, 7, 0.917967355),
         (2, 5, 0.937658901), (2, 7, 0.917967355), (2, 8, 0.768870198),
         (3, 4, 0.953823105), (3, 6, 0.801980234), (3, 8, 0.768870198),
         (4, 4, 0.953823105), (4, 7, 0.917967355), (4, 9, 0.850413948),
         (5, 5, 0.937658901), (5, 7, 0.917967355), (5, 9, 0.850413948),
         (6, 5, 0.937658901), (6, 6, 0.801980234), (6, 8, 0.768870198)],
        [(0, 1, 0.724235255), (0, 2, 0.80803616), (4, 2, 0.80803616),
         (4, 11, 0.458383687), (9, 2, 0.80803616), (9, 5, 0.937658901)],
    ),
}


@pytest.mark.parametrize(
    "model",
    [Wilson(), UCB(coef=2.0), ThompsonSampling(seed=3)],
    ids=lambda m: type(m).__name__,
)
def test_bandit_predict_rows_unchanged(spark, schema, model):
    """Wilson, UCB and Thompson predicts return the rows the generic
    join-chain predict returned: ties at the k-th score, an explicit
    cold query and an explicit item list with a cold item."""
    import datetime

    ts = datetime.datetime(2019, 8, 22)
    df = spark.createDataFrame(
        [(q, i, ts, r) for q, i, r in _BANDIT_LOG],
        "query_id int, item_id int, timestamp timestamp, rating double",
    )
    ds = Dataset(schema, df)

    def rows(recs):
        return sorted(
            (r.query_id, r.item_id, round(r.rating, 9)) for r in recs.collect()
        )

    default, explicit = _BANDIT_ROWS[type(model).__name__]
    assert rows(model.fit_predict(ds, k=3)) == default
    assert (
        rows(model.predict(ds, k=2, queries=[0, 4, 9], items=[0, 1, 2, 5, 11]))
        == explicit
    )
