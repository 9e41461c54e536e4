"""``spark_utils.fixpoint``: the one round loop behind connected
components, k-core, PageRank, the interaction filter, the CatPopRec
category closure and the BPE merge rounds."""

import pytest
from pyspark.sql import functions as F

from replay_spark.graph import ConnectedComponents, KCoreDecomposition
from replay_spark.models import CatPopRec
from replay_spark.preprocessing import InteractionEntriesFilter
from replay_spark.utils.spark_utils import fixpoint, observed_rows
from replay_spark.web import LinkGraphRank

# Spark jobs of each loop on the small fixtures below: one more
# per-round action (a count, an isEmpty, a broadcast aggregate) puts
# the loop over its bound.
KCORE_JOB_BOUND = 20
PAGERANK_JOB_BOUND = 28
CAT_TREE_JOB_BOUND = 19
COMPONENTS_JOB_BOUND = 27
INTERACTION_FILTER_JOB_BOUND = 6


def _persistent_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _drop_largest(df, seen):
    """A round that drops the largest id and counts what is left."""
    top = df.agg(F.max("id")).first()[0]
    return df.filter(F.col("id") < top).observe(
        "left", F.count(F.lit(1)).alias("rows")
    )


def test_fixpoint_stops_when_done(spark):
    history = []

    def step(df, seen):
        history.append(seen)
        return _drop_largest(df, seen)

    out, rounds, seen = fixpoint(
        spark.range(10),
        step,
        max_rounds=20,
        name="DropLargest",
        done=lambda seen: observed_rows(seen, "left") <= 6,
    )
    assert rounds == 4
    assert seen == {"left": {"rows": 6}}
    assert out.count() == 6
    # the first round sees nothing; each later one its predecessor's
    assert history == [{}, {"left": {"rows": 9}}, {"left": {"rows": 8}},
                       {"left": {"rows": 7}}]


def test_fixpoint_stops_when_step_returns_none(spark):
    def step(df, seen):
        if observed_rows(seen, "left") == 8:
            return None
        return _drop_largest(df, seen)

    out, rounds, _ = fixpoint(spark.range(10), step, 20, "DropLargest")
    assert rounds == 2
    assert out.count() == 8


def test_fixpoint_releases_every_spent_round(spark):
    """After four rounds only the last one's blocks remain beyond what
    was stored before, and the caller's input is never released."""
    state = spark.range(100).localCheckpoint(eager=True)
    before = _persistent_rdds(spark)
    out, rounds, _ = fixpoint(state, _drop_largest, 4, "DropLargest")
    assert rounds == 4
    assert len(_persistent_rdds(spark) - before) == 1
    assert before <= _persistent_rdds(spark)
    assert state.count() == 100
    assert out.count() == 96


def test_fixpoint_warns_naming_the_operator(spark):
    with pytest.warns(RuntimeWarning, match="DropLargest did not converge"):
        _, rounds, _ = fixpoint(
            spark.range(10), _drop_largest, 2, "DropLargest",
            done=lambda seen: False,
        )
    assert rounds == 2


def test_kcore_of_a_path_is_empty(spark):
    """A path's 2-core is empty: peeling takes an edge off each end per
    round, and the fourth round's semi-join reads an empty survivor
    set, so AQE prunes the branch that counts its input. A missing
    observe is a branch that did not run."""
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "src long, dst long"
    )
    kc = KCoreDecomposition()
    assert kc.core(path, 2).collect() == []
    assert kc.rounds_ == 4


def _chains(spark):
    """A 4-cycle with a 3-edge tail: its 2-core needs three peeling
    rounds and a fourth that confirms it."""
    return spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0), (0, 4), (4, 5), (5, 6)],
        "src long, dst long",
    )


def test_kcore_warns_when_it_runs_out_of_rounds(spark):
    with pytest.warns(RuntimeWarning, match="KCoreDecomposition"):
        KCoreDecomposition(max_iterations=1).core(_chains(spark), 2).collect()


def _cat_tree(spark):
    """Three levels: 102 -> {100, 101} -> leaves 0..4."""
    return spark.createDataFrame(
        [(100, 0), (100, 1), (101, 2), (101, 3), (101, 4), (102, 100),
         (102, 101)],
        "parent_cat long, category long",
    )


def test_cat_pop_rec_warns_when_it_runs_out_of_rounds(spark):
    with pytest.warns(RuntimeWarning, match="CatPopRec"):
        CatPopRec(cat_tree=_cat_tree(spark), max_iter=1)


def test_kcore_job_count(spark, spark_work):
    """Tripwire: the canonical edges are stored once, and each peeling
    round is one observed checkpoint with no count of its own."""
    kc = KCoreDecomposition()
    rows, jobs, _ = spark_work(lambda: kc.core(_chains(spark), 2).collect())
    assert sorted(r["node"] for r in rows) == [0, 1, 2, 3]
    assert kc.rounds_ == 4
    assert jobs <= KCORE_JOB_BOUND, jobs


def test_pagerank_job_count(spark, spark_work):
    """Tripwire: the node count and each round's dangling mass come
    from the rounds' own observes, not from broadcast aggregates."""
    edges = spark.createDataFrame(
        [(i, (3 * i + 1) % 10) for i in range(8)], "src long, dst long"
    )
    rows, jobs, _ = spark_work(
        lambda: LinkGraphRank(iterations=3).rank(edges).collect()
    )
    assert len(rows) == 9
    assert sum(r["rank"] for r in rows) == pytest.approx(1.0)
    assert jobs <= PAGERANK_JOB_BOUND, jobs


def test_cat_tree_job_count(spark, spark_work):
    """Tripwire: each closure round is one observed checkpoint; it
    neither counts itself nor re-runs the rounds before it."""
    model, jobs, _ = spark_work(lambda: CatPopRec(cat_tree=_cat_tree(spark)))
    leaves = {
        (r["category"], r["leaf_cat"])
        for r in model.leaf_cat_mapping.collect()
    }
    assert (102, 4) in leaves and (100, 1) in leaves
    assert jobs <= CAT_TREE_JOB_BOUND, jobs


def test_distributed_components_job_count(spark, spark_work):
    """Tripwire: each propagation round carries its label-change count
    as an observe of the checkpoint that stores it."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)] + [(10, 11), (11, 12)],
        "src long, dst long",
    )
    rows, jobs, _ = spark_work(
        lambda: ConnectedComponents(driver_threshold=0)
        .components(edges)
        .collect()
    )
    component = {r["node"]: r["component"] for r in rows}
    assert component == {**{i: 0 for i in range(7)}, 10: 10, 11: 10, 12: 10}
    assert jobs <= COMPONENTS_JOB_BOUND, jobs


def test_interaction_entries_filter_job_count(spark, spark_work):
    """Tripwire: a round is the user pass and then the item pass, stored
    by one observed checkpoint with no count of its own."""
    rows = [(u, i) for u in range(6) for i in range(u + 2)]
    log = spark.createDataFrame(rows, "user_id int, item_id int")
    out, jobs, _ = spark_work(
        lambda: InteractionEntriesFilter(
            min_inter_per_user=3, min_inter_per_item=2
        ).transform(log)
    )
    assert out.count() > 0
    assert jobs <= INTERACTION_FILTER_JOB_BOUND, jobs
