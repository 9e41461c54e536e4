import datetime as dt

import pytest

from replay_spark.preprocessing import (
    ConsecutiveDuplicatesFilter,
    EntityDaysFilter,
    GlobalDaysFilter,
    InteractionEntriesFilter,
    LowRatingFilter,
    MinCountFilter,
    NumInteractionsFilter,
    QuantileItemsFilter,
    TimePeriodFilter,
    filter_cold,
)


@pytest.fixture(scope="module")
def time_log(spark):
    # mirrors the reference doctest fixture (filters.py:358-366)
    rows = [
        ("u1", "i1", 1.0, dt.datetime(2020, 1, 1, 23, 59, 59)),
        ("u2", "i2", 0.5, dt.datetime(2020, 2, 1, 0, 0, 0)),
        ("u2", "i3", 3.0, dt.datetime(2020, 2, 1, 0, 0, 1)),
        ("u3", "i1", 1.0, dt.datetime(2020, 1, 1, 0, 4, 15)),
        ("u3", "i2", 0.0, dt.datetime(2020, 1, 2, 0, 4, 14)),
        ("u3", "i3", 1.0, dt.datetime(2020, 1, 5, 23, 59, 59)),
    ]
    return spark.createDataFrame(
        rows, "user_id string, item_id string, rating double, timestamp timestamp"
    )


def test_interaction_entries_filter(spark):
    rows = list(
        zip(
            [1, 1, 1, 2, 2, 2, 3, 3, 3, 3],
            [3, 7, 10, 5, 8, 11, 4, 9, 2, 5],
            [1.0, 2.0, 3.0, 3.0, 2.0, 1.0, 3.0, 12.0, 1.0, 4.0],
        )
    )
    df = spark.createDataFrame(rows, "user_id int, item_id int, rating double")
    out = InteractionEntriesFilter(min_inter_per_user=4).transform(df)
    assert sorted(r.user_id for r in out.collect()) == [3, 3, 3, 3]


def test_interaction_entries_filter_keeps_caller_cache(spark):
    """The filter releases only the passes it cached itself: a cached
    input is still cached after ``transform``."""
    rows = [(u, i) for u in range(4) for i in range(u + 2)]
    log = spark.createDataFrame(rows, "user_id int, item_id int").cache()
    log.count()
    out = InteractionEntriesFilter(
        min_inter_per_user=3, min_inter_per_item=2
    ).transform(log)
    assert out.count() > 0
    assert log.is_cached and log.storageLevel.useMemory
    log.unpersist()


def test_interaction_entries_filter_reads_each_pass_from_cache(spark):
    """Each round is stored before the next one reads it, so the result
    is stored rows, not a plan that re-runs the window chain of every
    round from the input."""
    rows = [(u, i) for u in range(6) for i in range(u + 2)]
    log = spark.createDataFrame(rows, "user_id int, item_id int")
    out = InteractionEntriesFilter(
        min_inter_per_user=3, min_inter_per_item=2
    ).transform(log)
    assert out.count() > 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan or "InMemoryTableScan" in plan, plan
    assert "Window" not in plan, plan


def test_min_count_filter(spark):
    df = spark.createDataFrame([(1,), (1,), (2,)], "user_id int")
    out = MinCountFilter(2, "user_id").transform(df)
    assert [r.user_id for r in out.collect()] == [1, 1]


def test_low_rating_filter(time_log):
    out = LowRatingFilter(1.0).transform(time_log)
    assert out.count() == 4


def test_num_interactions_first_last(time_log):
    first = NumInteractionsFilter(1, True, item_column="item_id").transform(time_log)
    got = {(r.user_id, r.item_id) for r in first.collect()}
    assert got == {("u1", "i1"), ("u2", "i2"), ("u3", "i1")}
    last = NumInteractionsFilter(1, False).transform(time_log)
    got = {(r.user_id, r.item_id) for r in last.collect()}
    assert got == {("u1", "i1"), ("u2", "i3"), ("u3", "i3")}


def test_entity_days_filter(time_log):
    out = EntityDaysFilter(1, True, entity_column="user_id").transform(time_log)
    got = {(r.user_id, r.item_id) for r in out.collect()}
    # u3's first day excludes i3 (4 days later); i2 at +1day-4min is inside
    assert got == {("u1", "i1"), ("u2", "i2"), ("u2", "i3"), ("u3", "i1"), ("u3", "i2")}


def test_global_days_filter(time_log):
    first = GlobalDaysFilter(1).transform(time_log)
    got = {(r.user_id, r.item_id) for r in first.collect()}
    assert got == {("u1", "i1"), ("u3", "i1"), ("u3", "i2")}
    last = GlobalDaysFilter(1, first=False).transform(time_log)
    got = {(r.user_id, r.item_id) for r in last.collect()}
    assert got == {("u2", "i2"), ("u2", "i3")}


def test_time_period_filter(time_log):
    out = TimePeriodFilter(
        start_date="2020-01-01 14:00:00", end_date=dt.datetime(2020, 1, 3)
    ).transform(time_log)
    got = {(r.user_id, r.item_id) for r in out.collect()}
    assert got == {("u1", "i1"), ("u3", "i2")}


def test_quantile_items_filter(spark):
    # reference doctest (filters.py:860-885): one row of item 2 is dropped
    rows = list(zip([0, 0, 1, 2, 2, 2, 2], [0, 2, 1, 1, 2, 2, 2]))
    df = spark.createDataFrame(rows, "user_id long, item_id long")
    out = QuantileItemsFilter(query_column="user_id").transform(df)
    assert out.count() == 6
    assert out.filter("item_id = 2").count() == 3
    # the dropped row belongs to the most active user (user 2)
    assert out.filter("item_id = 2 and user_id = 2").count() == 2


def test_consecutive_duplicates_filter(spark):
    rows = [
        ("u0", "i0", dt.datetime(2024, 1, 1)),
        ("u1", "i1", dt.datetime(2024, 1, 2)),
        ("u1", "i1", dt.datetime(2024, 1, 3)),
        ("u0", "i2", dt.datetime(2024, 1, 4)),
        ("u0", "i0", dt.datetime(2024, 1, 5)),
        ("u0", "i1", dt.datetime(2024, 1, 6)),
        ("u1", "i2", dt.datetime(2024, 1, 7)),
        ("u0", "i1", dt.datetime(2024, 1, 8)),
    ]
    df = spark.createDataFrame(rows, "user_id string, item_id string, timestamp timestamp")
    out = ConsecutiveDuplicatesFilter(query_column="user_id").transform(df)
    got = sorted((r.user_id, r.item_id, r.timestamp) for r in out.collect())
    assert len(got) == 6
    assert ("u1", "i1", dt.datetime(2024, 1, 3)) not in got
    assert ("u0", "i1", dt.datetime(2024, 1, 8)) not in got


def test_filter_cold(spark, time_log):
    ref = spark.createDataFrame([("i1",), ("i2",)], "item_id string")
    out = filter_cold(time_log, ref, mode="items", item_column="item_id")
    assert out.count() == 4
    with pytest.raises(ValueError):
        filter_cold(time_log, ref, mode="nope")
    with pytest.raises(KeyError):
        filter_cold(time_log, ref, mode="users", query_column="missing")


def test_quantile_items_filter_midpoint_interpolation(spark):
    """Golden for the midpoint quantile (reference filters.py:972-993
    uses pandas quantile(alpha, 'midpoint') on the item-count
    distribution; we compute the same midpoint distributedly).

    Counts [1, 2, 4, 6] at alpha=0.5: rank h=(4-1)*0.5=1.5 is
    fractional, so the threshold is the midpoint of the 2nd and 3rd
    order statistics = (2+4)/2 = 3. 'lower' interpolation would give
    2 and 'higher' 4 — only midpoint puts item c (count 4) in the
    short tail with max_long_tail=2, dropping int(0.5*(4-2))=1 row.
    """
    rows = (
        [(9, "a")]
        + [(9, "b"), (1, "b")]
        + [(9, "c"), (1, "c"), (2, "c"), (3, "c")]
        + [(9, "d"), (1, "d"), (2, "d"), (3, "d"), (4, "d"), (5, "d")]
    )
    df = spark.createDataFrame(rows, "user_id long, item_id string")
    out = QuantileItemsFilter(
        alpha_quantile=0.5, items_proportion=0.5, query_column="user_id"
    ).transform(df)
    got = {
        r["item_id"]: r["count"]
        for r in out.groupBy("item_id").count().collect()
    }
    # c: 4 -> 3 (one dropped), d: 6 -> 4 (int(0.5*(6-2))=2 dropped)
    assert got == {"a": 1, "b": 2, "c": 3, "d": 4}
    # the dropped rows belong to the most active user (user 9: 4 rows)
    assert out.filter("item_id = 'c' and user_id = 9").count() == 0
