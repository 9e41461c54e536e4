import datetime as dt
import tempfile

import pytest
from pyspark.sql import functions as F

from replay_spark.preprocessing.converter import CSRConverter
from replay_spark.streaming import (
    StreamingSessionizer,
    StreamingUCB,
    streaming_exact_dedup,
)
from replay_spark.models.optimization import optimize
from replay_spark.utils.spark_utils import sample_top_k_recs


@pytest.fixture(scope="module")
def event_stream_dir(spark, tmp_path_factory):
    """A file-source stream: parquet events dropped into a dir."""
    path = str(tmp_path_factory.mktemp("stream"))
    rows = [
        (0, dt.datetime(2024, 1, 1, 0, 0), "hello world", 1.0),
        (0, dt.datetime(2024, 1, 1, 0, 10), "hello world", 1.0),
        (0, dt.datetime(2024, 1, 1, 2, 0), "new content", 0.0),
        (1, dt.datetime(2024, 1, 1, 1, 0), "hello world", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, text string, rating double"
    )
    df.coalesce(1).write.mode("overwrite").parquet(path)
    return path


def _run_stream_to_memory(spark, stream_df, name, output_mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_streaming_sessionizer(spark, event_stream_dir):
    schema = "user_id long, ts timestamp, text string, rating double"
    stream = spark.readStream.schema(schema).parquet(event_stream_dir)
    sessions = StreamingSessionizer(gap="30 minutes", watermark="1 second").transform(
        stream
    )
    out = _run_stream_to_memory(spark, sessions, "sess_out", "append")
    rows = {(r.user_id, r.num_events) for r in out.collect()}
    # append mode emits sessions the watermark (max ts - 1s) has closed:
    # user 0's 0:00+0:10 pair and user 1's 1:00 singleton; user 0's 2:00
    # session is still open in state — correct streaming semantics
    assert rows == {(0, 2), (1, 1)}


def test_streaming_ucb(spark, event_stream_dir):
    schema = "user_id long, ts timestamp, text string, rating double"
    stream = spark.readStream.schema(schema).parquet(event_stream_dir)
    ucb = StreamingUCB(item_column="user_id")
    agg = ucb.aggregate(stream)
    out = _run_stream_to_memory(spark, agg, "ucb_out", "complete")
    scores = ucb.scores(out, full_count=4).collect()
    got = {r.user_id: r.rating for r in scores}
    assert got[1] > got[0]  # 1/1 positive vs 2/3


def test_streaming_dedup(spark, event_stream_dir):
    schema = "user_id long, ts timestamp, text string, rating double"
    stream = spark.readStream.schema(schema).parquet(event_stream_dir)
    deduped = streaming_exact_dedup(stream, text_column="text", time_column=None)
    out = _run_stream_to_memory(spark, deduped, "dedup_out", "append")
    assert out.select("text").distinct().count() == out.count() == 2


def test_sample_top_k_recs(spark):
    rows = [(q, i, float(i + 1)) for q in range(3) for i in range(10)]
    pairs = spark.createDataFrame(rows, "query_id long, item_id long, rating double")
    out = sample_top_k_recs(pairs, k=3, seed=42)
    counts = {r.query_id: r["count"] for r in out.groupBy("query_id").count().collect()}
    assert counts == {0: 3, 1: 3, 2: 3}
    out2 = sample_top_k_recs(pairs, k=3, seed=42)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, out2.collect()))
    # the draw must not depend on the order rows reach their group
    out3 = sample_top_k_recs(pairs.repartition(7, "item_id"), k=3, seed=42)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, out3.collect()))


def test_csr_converter(spark, interactions):
    result = CSRConverter().transform(interactions)
    if isinstance(result, dict):
        assert result["shape"] == (3, 4)
        assert len(result["values"]) == 7
    else:
        assert result.shape == (3, 4)
        assert result.nnz == 7


def test_optimize_random_search(spark, interactions):
    from replay_spark.data import (
        Dataset,
        FeatureHint,
        FeatureInfo,
        FeatureSchema,
        FeatureType,
    )
    from replay_spark.metrics import HitRate
    from replay_spark.models import ItemKNN

    schema = FeatureSchema(
        [
            FeatureInfo("query_id", FeatureType.CATEGORICAL, FeatureHint.QUERY_ID),
            FeatureInfo("item_id", FeatureType.CATEGORICAL, FeatureHint.ITEM_ID),
            FeatureInfo("timestamp", FeatureType.NUMERICAL, FeatureHint.TIMESTAMP),
            FeatureInfo("rating", FeatureType.NUMERICAL, FeatureHint.RATING),
        ]
    )
    ds = Dataset(schema, interactions)
    with pytest.warns(RuntimeWarning, match="optuna is not installed"):
        result = optimize(
            model_factory=lambda **p: ItemKNN(**p),
            train_dataset=ds,
            test_dataset=ds,
            param_borders={"num_neighbours": [1, 5], "shrink": [0.0, 1.0]},
            criterion=HitRate(2),
            k=2,
            budget=2,
            seed=7,
        )
    assert result["best_params"] is not None
    assert len(result["trials"]) == 2


def test_optimize_fallback_parity_reference_space():
    """Seeded vendored-TPE search over a reference-shaped ItemKNN space
    (optuna_mixin.py:168-240 semantics: int / float ranges +
    categorical list, one objective call per budget unit): correct
    types and bounds, deterministic under a fixed seed, and the
    fallback WARNS that TPE was not used."""
    from types import SimpleNamespace

    space = {
        "num_neighbours": [1, 10],
        "shrink": [0.0, 2.0],
        "weighting": [None, "tf_idf", "bm25"],
    }

    class _Stub:
        def __init__(self, **p):
            self.p = p

        def fit_predict(self, ds, k):
            return self.p

    def run():
        with pytest.warns(RuntimeWarning, match="optuna is not installed"):
            return optimize(
                model_factory=lambda **p: _Stub(**p),
                train_dataset=SimpleNamespace(interactions=None),
                test_dataset=SimpleNamespace(interactions=None),
                param_borders=space,
                criterion=lambda recs, gt: (
                    recs["num_neighbours"] * 0.1 + recs["shrink"]
                ),
                budget=6,
                seed=123,
            )

    r1, r2 = run(), run()
    assert len(r1["trials"]) == 6
    for t in r1["trials"]:
        p = t["params"]
        assert isinstance(p["num_neighbours"], int)
        assert 1 <= p["num_neighbours"] <= 10
        assert isinstance(p["shrink"], float) and 0.0 <= p["shrink"] <= 2.0
        assert p["weighting"] in (None, "tf_idf", "bm25")
    # deterministic: same seed -> identical trial sequence and winner
    assert r1["trials"] == r2["trials"]
    assert r1["best_params"] == r2["best_params"]
    best = max(r1["trials"], key=lambda t: t["value"])
    assert r1["best_value"] == best["value"]


def test_tpe_sampler_beats_random_search():
    """Convergence property protecting the optuna-less path from
    silent degradation (reference behavior shape:
    optuna_mixin.py:168-240, TPESampler): on a seeded 1-D quadratic
    over [-100, 100] at equal budget, the vendored Parzen sampler
    must beat pure random search on regret. All seeds fixed, so the
    assertions are exact, not statistical."""
    import random

    from replay_spark.models.optimization import _TPESampler, _sample

    space = {"x": [-100.0, 100.0]}
    budget, seeds = 30, range(12)

    def f(x):  # maximum value 0 at x = 3
        return -((x - 3.0) ** 2)

    tpe_regret, rand_regret, tpe_wins = [], [], 0
    for seed in seeds:
        sampler = _TPESampler(space, seed)
        trials = []
        for _ in range(budget):
            p = sampler.suggest(trials, higher_is_better=True)
            trials.append({"params": p, "value": f(p["x"])})
        best_tpe = max(t["value"] for t in trials)

        rng = random.Random(seed)
        best_rand = max(f(_sample(space, rng)["x"]) for _ in range(budget))

        tpe_regret.append(-best_tpe)
        rand_regret.append(-best_rand)
        tpe_wins += best_tpe > best_rand

    n = len(tpe_regret)
    assert tpe_wins >= 10  # measured: 12/12
    assert sum(tpe_regret) / n < sum(rand_regret) / n / 2  # measured 0.35 vs 8.6
    assert sum(tpe_regret) / n < 1.0  # converges near the optimum


def test_dataframe_bucketizer(spark, tmp_path):
    """Bucketed table round-trip: a self-join on the bucket key plans
    without an exchange on the bucketed side."""
    from replay_spark.utils.dataframe_bucketizer import DataframeBucketizer

    df = spark.createDataFrame(
        [(i % 7, float(i)) for i in range(100)], "query_id int, v double"
    )
    buck = DataframeBucketizer(
        bucketing_key="query_id", partition_num=4, table_name="t_bucketized"
    )
    out = buck.transform(df)
    assert out.count() == 100
    agg = out.groupBy("query_id").count()
    plan = agg.queryExecution if False else agg._jdf.queryExecution().executedPlan().toString()
    # bucketed scan lets the aggregation skip its shuffle
    assert "Exchange hashpartitioning(query_id" not in plan
    spark.sql("DROP TABLE IF EXISTS t_bucketized")


def test_splitters_partition_input(spark):
    """Every splitter yields train∪test == input with no overlap."""
    from replay_spark.splitters import (
        ColdUserRandomSplitter,
        KFolds,
        LastNSplitter,
        NewUsersSplitter,
        RandomNextNSplitter,
        RandomSplitter,
        RatioSplitter,
        TimeSplitter,
        TwoStageSplitter,
    )

    rows = [
        (q, i, 1577836800 + 86400 * t + q, 1.0)
        for q in range(6)
        for t, i in enumerate(range(q, q + 5))
    ]
    df = spark.createDataFrame(
        rows, "query_id long, item_id long, timestamp long, rating double"
    )
    n = df.count()
    splitters = [
        RatioSplitter(0.3),
        TimeSplitter(0.25),
        LastNSplitter(2),
        RandomSplitter(0.4, seed=7),
        ColdUserRandomSplitter(0.3, seed=7),
        NewUsersSplitter(0.3),
        RandomNextNSplitter(N=2, seed=7),
        TwoStageSplitter(2, 1, seed=7),
    ]
    for sp in splitters:
        train, test = sp.split(df)
        name = type(sp).__name__
        tr, te = train.count(), test.count()
        if isinstance(sp, (NewUsersSplitter, RandomNextNSplitter)):
            # these DROP rows by contract (old users' post-cut rows /
            # rows beyond the per-user cut+N window)
            assert 0 < tr + te <= n, f"{name}: {tr}+{te} > {n}"
        else:
            # cold-drop defaults are off -> exact partition
            assert tr + te == n, f"{name}: {tr}+{te} != {n}"
        overlap = train.join(
            test, on=["query_id", "item_id", "timestamp"], how="inner"
        ).count()
        assert overlap == 0, f"{name}: {overlap} overlapping rows"
    folds = list(KFolds(n_folds=3, seed=7).split(df))
    assert sum(t.count() for _, t in folds) == n


def test_streaming_sessionizer_matches_batch(spark, sf_dir):
    """Parity gate: the stateful streaming sessionizer and the batch
    Sessionizer (composite mode) must assign identical session ids to
    the same events slice."""
    import __spark_entry__ as entry
    from replay_spark.datasets import load_interactions
    from replay_spark.preprocessing import Sessionizer

    streamed = entry.queries()["q_streaming_sessionize"](spark, sf_dir)
    got = sorted(
        (r["query_id"], r["ts_s"], r["session_id"]) for r in streamed.collect()
    )
    batch = Sessionizer(
        user_column="query_id", time_column="timestamp", session_gap=1800
    ).transform(load_interactions(spark, sf_dir))
    want = sorted(
        (r["query_id"], r["ts_s"], r["session_id"])
        for r in batch.select(
            "query_id",
            F.unix_timestamp("timestamp").alias("ts_s"),
            "session_id",
        ).collect()
    )
    assert got == want


def test_streaming_stateful_sessionizer(spark, event_stream_dir):
    """applyInPandasWithState custom state: per-event composite
    session ids matching the batch Sessionizer's grouping."""
    from replay_spark.streaming import StreamingStatefulSessionizer

    schema = "user_id long, ts timestamp, text string, rating double"
    stream = spark.readStream.schema(schema).parquet(event_stream_dir)
    tagged = StreamingStatefulSessionizer(session_gap=1800).transform(stream)
    out = _run_stream_to_memory(spark, tagged, "stateful_sess_out", "append")
    got = {
        (r.user_id, r.ts.minute + 60 * r.ts.hour): r.session_id
        for r in out.collect()
    }
    # user 0: events at 0:00 and 0:10 share a session; 2:00 starts a new one
    assert got == {
        (0, 0): "0_1",
        (0, 10): "0_1",
        (0, 120): "0_2",
        (1, 60): "1_1",
    }


def test_tpe_sampler_concentrates():
    """The vendored Parzen/TPE fallback exploits: on a smooth 1-D
    objective the post-startup trials concentrate near the optimum
    (vs the uniform startup draws), and categoricals tilt toward the
    winning choice. Deterministic under the fixed seed."""
    from types import SimpleNamespace

    from replay_spark.models.optimization import optimize

    space = {"x": [0.0, 2.0], "flag": ["good", "bad"]}

    def crit(recs, gt):
        x, flag = recs["x"], recs["flag"]
        return -((x - 1.234) ** 2) + (0.5 if flag == "good" else 0.0)

    with pytest.warns(RuntimeWarning, match="optuna is not installed"):
        r = optimize(
            model_factory=lambda **p: SimpleNamespace(
                fit_predict=lambda ds, k: p
            ),
            train_dataset=SimpleNamespace(interactions=None),
            test_dataset=SimpleNamespace(interactions=None),
            param_borders=space,
            criterion=crit,
            budget=30,
            seed=7,
        )
    xs = [t["params"]["x"] for t in r["trials"]]
    startup, refined = xs[:5], xs[15:]
    mean_gap = lambda vals: sum(abs(v - 1.234) for v in vals) / len(vals)
    assert mean_gap(refined) < mean_gap(startup)
    assert abs(r["best_params"]["x"] - 1.234) < 0.3
    assert r["best_params"]["flag"] == "good"
    flags = [t["params"]["flag"] for t in r["trials"][15:]]
    assert flags.count("good") > flags.count("bad")


def test_save_load_from_replay(spark, tmp_path):
    """Generic persistence entry points dispatch on the recorded
    class name for both the splitter (.replay/init_args.json) and
    model (meta.json) formats — reference utils/common.py:62-83."""
    from replay_spark.splitters import TimeSplitter
    from replay_spark.utils import load_from_replay, save_to_replay

    sp = TimeSplitter(0.25)
    p = str(tmp_path / "splitter")
    save_to_replay(sp, p)
    sp2 = load_from_replay(p)
    assert isinstance(sp2, TimeSplitter)
    assert sp2.time_threshold == 0.25

    import pyspark.sql.functions as F

    from replay_spark.data import (
        Dataset,
        FeatureHint,
        FeatureInfo,
        FeatureSchema,
        FeatureType,
    )
    from replay_spark.models import PopRec

    inter = spark.createDataFrame(
        [(0, 0, 1.0, 1.0), (0, 1, 2.0, 1.0), (1, 0, 3.0, 1.0)],
        "query_id long, item_id long, timestamp double, rating double",
    )
    schema = FeatureSchema(
        [
            FeatureInfo("query_id", FeatureType.CATEGORICAL, FeatureHint.QUERY_ID),
            FeatureInfo("item_id", FeatureType.CATEGORICAL, FeatureHint.ITEM_ID),
            FeatureInfo("timestamp", FeatureType.NUMERICAL, FeatureHint.TIMESTAMP),
            FeatureInfo("rating", FeatureType.NUMERICAL, FeatureHint.RATING),
        ]
    )
    model = PopRec().fit(Dataset(schema, inter, check_consistency=False))
    mp = str(tmp_path / "model")
    save_to_replay(model, mp)
    m2 = load_from_replay(mp, spark)
    assert isinstance(m2, PopRec)

    with pytest.raises(FileNotFoundError):
        load_from_replay(str(tmp_path / "nothing"))


def test_streaming_source_cap(spark, tmp_path_factory):
    """applyInPandasWithState admission counter: first cap arrivals
    per source win, state carries across micro-batches."""
    import datetime as dt

    from replay_spark.streaming import StreamingSourceCapFilter

    path = str(tmp_path_factory.mktemp("capstream"))
    schema = "doc_id long, source string, text string"
    # two files -> two micro-batches with availableNow file source
    spark.createDataFrame(
        [(3, "hot", "a"), (1, "hot", "b"), (2, "hot", "c"), (10, "cold", "d")],
        schema,
    ).coalesce(1).write.mode("overwrite").parquet(path + "/f1")
    spark.createDataFrame(
        [(4, "hot", "e"), (11, "cold", "f")], schema
    ).coalesce(1).write.mode("overwrite").parquet(path + "/f2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path + "/*")
    )
    capped = StreamingSourceCapFilter(cap=2).transform(stream)
    out = _run_stream_to_memory(spark, capped, "srccap_out", "append")
    got = {(r.source, r.doc_id) for r in out.collect()}
    hot = {d for s, d in got if s == "hot"}
    cold = {d for s, d in got if s == "cold"}
    assert len(hot) == 2 and len(cold) == 2
    # within whichever micro-batch delivered the 3-doc hot file, the
    # two smallest ids of that batch won
    assert hot in ({1, 2}, {1, 4}, {2, 4}) and 3 not in hot or hot == {1, 2}
    with pytest.raises(ValueError):
        StreamingSourceCapFilter(cap=0)


def test_streaming_cms_matches_batch(spark, tmp_path):
    import pyspark.sql.functions as F

    from replay_spark.preprocessing.text import CountMinSketch
    from replay_spark.streaming import StreamingCountMinSketch

    words = ["alpha"] * 30 + ["beta"] * 10 + [f"t{i}" for i in range(50)]
    src = str(tmp_path / "toks")
    spark.createDataFrame([(w,) for w in words], "token string").repartition(
        4
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    scms = StreamingCountMinSketch(depth=3, width=64)
    sq = (
        scms.aggregate(stream)
        .writeStream.format("memory")
        .queryName("t_stream_cms")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination(120)
    stream_sketch = spark.table("t_stream_cms")
    batch = spark.read.parquet(src)
    batch_sketch = CountMinSketch(depth=3, width=64).fit(batch)
    # identical register tables
    assert sorted(map(tuple, stream_sketch.collect())) == sorted(
        map(tuple, batch_sketch.collect())
    )
    est = {
        r["token"]: r["cms_count"]
        for r in scms.estimate(stream_sketch, batch.distinct()).collect()
    }
    assert est["alpha"] >= 30 and est["beta"] >= 10


def test_streaming_hll_matches_batch(spark, tmp_path):
    from replay_spark.preprocessing.text import HyperLogLog
    from replay_spark.streaming import StreamingHyperLogLog

    words = [f"w{i % 300}" for i in range(900)]
    src = str(tmp_path / "hlltoks")
    spark.createDataFrame([(w,) for w in words], "token string").repartition(
        3
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    shll = StreamingHyperLogLog(b=7)
    sq = (
        shll.aggregate(stream)
        .writeStream.format("memory")
        .queryName("t_stream_hll")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination(120)
    stream_regs = spark.table("t_stream_hll")
    batch_regs = HyperLogLog(b=7).fit(spark.read.parquet(src))
    assert sorted(map(tuple, stream_regs.collect())) == sorted(
        map(tuple, batch_regs.collect())
    )
    est = shll.estimate(stream_regs).collect()[0]["est"]
    assert abs(est - 300) / 300 < 0.25


def test_streaming_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream inner interval join == the batch range join of
    the same definition; state-bounding watermarks don't change the
    bounded answer."""
    import datetime as dt

    from replay_spark.streaming import StreamingIntervalJoiner

    t0 = dt.datetime(2024, 1, 1, 0, 0)

    def m(minute):
        return t0 + dt.timedelta(minutes=minute)

    clicks = [(1, m(0), 10), (1, m(90), 11), (2, m(5), 20)]
    buys = [(1, m(30), 100), (1, m(100), 101), (2, m(200), 200),
            (3, m(10), 300)]
    cdir, bdir = str(tmp_path / "c"), str(tmp_path / "b")
    cdf = spark.createDataFrame(
        clicks, "user_id long, ts timestamp, cv long"
    )
    bdf = spark.createDataFrame(
        buys, "user_id long, ts_r timestamp, bv long"
    )
    cdf.write.parquet(cdir)
    bdf.write.parquet(bdir)
    joiner = StreamingIntervalJoiner(
        "user_id", max_delay="1 hour", watermark_delay="10 minutes"
    )
    # batch parity path
    batch = joiner.transform(
        spark.read.parquet(cdir), spark.read.parquet(bdir)
    )
    want = sorted(
        (r.user_id, r.cv, r.bv) for r in batch.collect()
    )
    # click@0 matches buy@30; click@90 matches buy@100; user 2's buy
    # is 195 min late; user 3 has no click
    assert want == [(1, 10, 100), (1, 11, 101)]
    sq = (
        joiner.transform(
            spark.readStream.schema(cdf.schema).parquet(cdir),
            spark.readStream.schema(bdf.schema).parquet(bdir),
        )
        .writeStream.format("memory")
        .queryName("t_stream_ijoin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination(120)
    got = sorted(
        (r.user_id, r.cv, r.bv)
        for r in spark.table("t_stream_ijoin").collect()
    )
    assert got == want
    with pytest.raises(ValueError, match="differ"):
        StreamingIntervalJoiner("k", left_time="ts", right_time="ts")
    with pytest.raises(ValueError, match="join key"):
        StreamingIntervalJoiner([])


def test_streaming_windowed_aggregator_batch(spark):
    """Batch semantics of the shared definition: tumbling windows
    align to the epoch, sliding windows emit one row per covering
    window, value aggs optional."""
    import datetime as dt

    from pyspark.sql import functions as F

    from replay_spark.streaming import StreamingWindowedAggregator

    rows = [
        ("a", dt.datetime(2024, 1, 1, 0, 10), 5),
        ("a", dt.datetime(2024, 1, 1, 0, 50), 7),
        ("a", dt.datetime(2024, 1, 1, 1, 5), 1),
        ("b", dt.datetime(2024, 1, 1, 0, 20), 2),
    ]
    df = spark.createDataFrame(
        rows, "k string, timestamp timestamp, v long"
    )
    agg = StreamingWindowedAggregator(
        window_duration="1 hour", key_columns=["k"], value_column="v"
    )
    got = {
        (r.k, r.window_start.hour): (r.n_events, r.sum_value, r.min_value, r.max_value)
        for r in agg.transform(df).collect()
    }
    assert got[("a", 0)] == (2, 12, 5, 7)
    assert got[("a", 1)] == (1, 1, 1, 1)
    assert got[("b", 0)] == (1, 2, 2, 2)
    # sliding: 1h window / 30min slide -> each event in 2 windows
    slide = StreamingWindowedAggregator(
        window_duration="1 hour",
        slide_duration="30 minutes",
        key_columns=["k"],
    )
    n = (
        slide.transform(df)
        .agg(F.sum("n_events").alias("s"))
        .collect()[0]
        .s
    )
    assert n == 2 * len(rows)


def test_optimize_rejects_optuna_specific_kwargs():
    """The Optuna-substitution boundary fails loudly: optuna-only
    knobs (sampler/pruner/storage/timeout/...) raise TypeError with
    the supported-kwargs list instead of being silently ignored."""
    from types import SimpleNamespace

    from replay_spark.models.optimization import optimize

    with pytest.raises(TypeError, match="optuna-specific kwargs.*pruner"):
        optimize(
            model_factory=lambda **p: SimpleNamespace(),
            train_dataset=SimpleNamespace(interactions=None),
            test_dataset=SimpleNamespace(interactions=None),
            param_borders={"x": [0.0, 1.0]},
            criterion=lambda recs, gt: 0.0,
            pruner=object(),
        )


def test_median_pruner_and_study_resume(tmp_path):
    """Optuna-delta surface: MedianPruner early-stops bad trials
    (seeded, reproducible), Study JSON save/resume continues the
    search with the stored trials as TPE history."""
    from replay_spark.models.optimization import (
        MedianPruner,
        Study,
        TrialPruned,
        optimize_objective,
    )

    steps_run = {}

    def make_objective(log):
        def obj(params, trial):
            x = params["x"]
            n = 0
            for step in range(5):
                trial.report(x * (step + 1) / 5.0, step)
                n += 1
                if trial.should_prune():
                    log[len(log)] = n
                    raise TrialPruned()
            log[len(log)] = n
            return x
        return obj

    pruner = MedianPruner(n_startup_trials=3)
    s1 = optimize_objective(
        make_objective(steps_run), {"x": [0.0, 1.0]},
        budget=12, seed=7, pruner=pruner,
    )
    states = [t["state"] for t in s1.trials]
    assert "pruned" in states and "complete" in states
    # pruned trials stopped early; completed ran all 5 steps
    for i, t in enumerate(s1.trials):
        assert steps_run[i] == (5 if t["state"] == "complete" else steps_run[i])
        if t["state"] == "pruned":
            assert steps_run[i] < 5
            assert t["value"] == pytest.approx(
                t["intermediate"][max(t["intermediate"])]
            )
    # best comes from completed trials only
    assert s1.best_value == max(
        t["value"] for t in s1.trials if t["state"] == "complete"
    )
    # seeded reproducibility: identical rerun
    s2 = optimize_objective(
        make_objective({}), {"x": [0.0, 1.0]},
        budget=12, seed=7, pruner=MedianPruner(n_startup_trials=3),
    )
    assert [(t["state"], t["params"], t["value"]) for t in s1.trials] == [
        (t["state"], t["params"], t["value"]) for t in s2.trials
    ]

    # save → load → resume: history carries, budget counts new trials
    path = str(tmp_path / "study.json")
    s1.save(path)
    r1 = optimize_objective(
        make_objective({}), {"x": [0.0, 1.0]},
        budget=4, seed=7, pruner=MedianPruner(n_startup_trials=3),
        study=Study.load(path),
    )
    r2 = optimize_objective(
        make_objective({}), {"x": [0.0, 1.0]},
        budget=4, seed=7, pruner=MedianPruner(n_startup_trials=3),
        study=Study.load(path),
    )
    assert len(r1.trials) == 16
    assert [t["params"] for t in r1.trials] == [t["params"] for t in r2.trials]
    # resume never degrades the best (it keeps old trials)
    assert r1.best_value >= s1.best_value
    # intermediate keys survive the JSON round trip as ints
    assert all(
        isinstance(k, int)
        for t in r1.trials
        for k in t["intermediate"]
    )

    with pytest.raises(ValueError):
        MedianPruner(n_startup_trials=-1)


def test_streaming_drift_monitor_guard():
    """The monitor refuses an unfitted DriftReport (the reference
    must be frozen before the stream starts)."""
    import pytest as _p

    from replay_spark.analytics import DriftReport
    from replay_spark.streaming import StreamingDriftMonitor

    with _p.raises(ValueError, match="fit the DriftReport"):
        StreamingDriftMonitor(DriftReport(numeric_columns=["x"]))


def test_grid_sampler_exhaustive_and_resume(tmp_path):
    from replay_spark.models.optimization import (
        GridSampler,
        Study,
        optimize_objective,
    )

    seen = []

    def obj(params, _trial):
        seen.append((params["x"], params["cat"]))
        return -((params["x"] - 3) ** 2)

    grid = GridSampler({"x": [1, 2, 3, 4], "cat": ["a", "b"]})
    study = optimize_objective(
        obj, {"x": [0, 10], "cat": ["a", "b", "c"]},
        budget=100, sampler=grid,
    )
    # exhausts exactly the 8 grid points, best at x=3
    assert len(study.trials) == 8
    assert sorted(set(seen)) == sorted(
        (x, c) for x in (1, 2, 3, 4) for c in ("a", "b")
    )
    assert study.best_params["x"] == 3
    # resume skips already-tried points
    path = str(tmp_path / "study.json")
    study.save(path)
    resumed = Study.load(path)
    seen.clear()
    study2 = optimize_objective(
        obj, {"x": [0, 10], "cat": ["a", "b", "c"]},
        budget=100, sampler=GridSampler({"x": [1, 2, 3, 4, 5], "cat": ["a", "b"]}),
        study=resumed,
    )
    assert sorted(seen) == [(5, "a"), (5, "b")]
    assert len(study2.trials) == 10


def test_random_sampler_seeded():
    from replay_spark.models.optimization import (
        RandomSampler,
        optimize_objective,
    )

    def obj(params, _t):
        return params["x"]

    a = optimize_objective(
        obj, {"x": [0.0, 1.0]}, budget=6, seed=7,
        sampler=RandomSampler(),
    )
    b = optimize_objective(
        obj, {"x": [0.0, 1.0]}, budget=6, seed=7,
        sampler=RandomSampler(),
    )
    assert [t["value"] for t in a.trials] == [t["value"] for t in b.trials]


def test_cmaes_converges_on_sphere():
    from replay_spark.models.optimization import (
        CmaEsSampler,
        optimize_objective,
    )

    def obj(params, _t):
        return (params["x"] - 0.7) ** 2 + (params["y"] + 0.3) ** 2

    study = optimize_objective(
        obj,
        {"x": [-2.0, 2.0], "y": [-2.0, 2.0]},
        budget=120,
        higher_is_better=False,
        seed=3,
        sampler=CmaEsSampler(seed=3),
    )
    assert study.best_value < 0.01
    assert abs(study.best_params["x"] - 0.7) < 0.15
    assert abs(study.best_params["y"] + 0.3) < 0.15


def test_cmaes_rejects_categorical():
    import pytest

    from replay_spark.models.optimization import (
        CmaEsSampler,
        optimize_objective,
    )

    with pytest.raises(ValueError, match="categorical"):
        optimize_objective(
            lambda p, t: 0.0,
            {"x": [0.0, 1.0], "mode": ["a", "b", "c"]},
            budget=2,
            sampler=CmaEsSampler(),
        )


def test_multi_objective_pareto_front(tmp_path):
    from replay_spark.models.optimization import (
        MOStudy,
        optimize_objective_multi,
    )

    # classic Schaffer N.1: minimize (x^2, (x-2)^2); the Pareto set
    # is x in [0, 2]
    def obj(params):
        x = params["x"]
        return x * x, (x - 2) ** 2

    study = optimize_objective_multi(
        obj, {"x": [-5.0, 5.0]}, directions=("min", "min"),
        budget=60, seed=11,
    )
    front = study.best_trials
    assert front
    for t in front:
        assert -0.5 <= t["params"]["x"] <= 2.5
    # the front is mutually nondominated
    from replay_spark.models.optimization import _dominates

    signs = [-1, -1]
    for a in front:
        for b in front:
            assert not _dominates(a["values"], b["values"], signs)
    # at least one point near each end of the true front
    xs = sorted(t["params"]["x"] for t in front)
    assert xs[0] < 1.0 and xs[-1] > 1.0
    # save / resume round trip
    path = str(tmp_path / "mo.json")
    study.save(path)
    loaded = MOStudy.load(path)
    assert loaded.directions == ("min", "min")
    more = optimize_objective_multi(
        obj, {"x": [-5.0, 5.0]}, directions=("min", "min"),
        budget=5, seed=11, study=loaded,
    )
    assert len(more.trials) == 65
