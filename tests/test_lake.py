"""Lakehouse tier: commit log, time travel, file-granular delete,
compaction, MERGE algebra, SCD2."""

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from replay_spark.lake import (
    ConcurrentWriteError,
    LakeTable,
    apply_scd2,
    merge_into,
)


@pytest.fixture()
def table(spark):
    path = tempfile.mkdtemp(prefix="rs_lake_")
    t = LakeTable(spark, path)
    yield t
    t.drop()


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


def test_append_time_travel(table, spark):
    v0 = table.append(_df(spark, 0, 5).coalesce(1))
    v1 = table.append(_df(spark, 5, 8).coalesce(1))
    assert (v0, v1) == (0, 1)
    assert table.read(version=0).count() == 5
    assert table.read().count() == 8
    assert table.latest_version() == 1
    hist = {r.version: r.operation for r in table.history().collect()}
    assert hist == {0: "append", 1: "append"}


def test_overwrite_and_empty_read(table, spark):
    table.append(_df(spark, 0, 5))
    table.overwrite(_df(spark, 100, 102))
    assert sorted(r.k for r in table.read().collect()) == [100, 101]
    # overwriting with an empty frame still reads (schema from log)
    table.overwrite(_df(spark, 0, 0))
    assert table.read().count() == 0
    assert table.read().columns == ["k", "v"]


def test_delete_rewrites_only_affected_files(table, spark):
    table.append(_df(spark, 0, 5).coalesce(1))     # file A: k in 0..4
    table.append(_df(spark, 100, 105).coalesce(1)) # file B: k in 100..104
    v = table.delete(F.col("k") == 2)
    assert sorted(r.k for r in table.read().collect()) == [
        0, 1, 3, 4, 100, 101, 102, 103, 104
    ]
    # only file A was rewritten: the delete commit removed exactly 1 file
    hist = {r.version: (r.operation, r.n_removed) for r in table.history().collect()}
    assert hist[v] == ("delete", 1)
    # no match -> no new version
    assert table.delete(F.col("k") == 99999) == v
    # pre-delete snapshot still intact
    assert table.read(version=1).count() == 10


def test_compact_preserves_rows_and_history(table, spark):
    for lo in (0, 5, 10):
        table.append(_df(spark, lo, lo + 5).coalesce(2))
    pre = table.latest_version()
    n_live_before = len(table.snapshot_files())
    assert n_live_before == 6
    table.compact(target_file_bytes=1 << 30)
    assert len(table.snapshot_files()) == 1
    assert table.read().count() == 15
    assert sorted(r.k for r in table.read().collect()) == list(range(15))
    # time travel to before the compaction sees the original layout
    assert len(table.snapshot_files(version=pre)) == 6
    assert table.read(version=pre).count() == 15


def test_commit_conflict(table, spark):
    df = _df(spark, 0, 3)
    table.append(df)
    # writer A snapshots at v0 and prepares to commit v1 ...
    stale_expected = table.latest_version() + 1
    # ... but writer B lands v1 first
    nxt = os.path.join(table._log_dir, f"{1:010d}.json")
    with open(nxt, "w") as f:
        f.write(
            '{"version": 1, "operation": "append", "add": [], "remove": []}'
        )
    with pytest.raises(ConcurrentWriteError):
        table._commit("overwrite", [], [], df.schema, stale_expected)
    # a blind append just retries past the conflict to the next slot
    v = table.append(_df(spark, 3, 5))
    assert v == 2
    assert table.read().count() == 5


def test_lake_merge_file_granularity(table, spark):
    table.append(_df(spark, 0, 5).coalesce(1))
    table.append(_df(spark, 100, 105).coalesce(1))
    src = spark.createDataFrame([(2, -1), (200, -2)], "k long, v long")
    v = table.merge(src, on=["k"])
    got = {r.k: r.v for r in table.read().collect()}
    assert got[2] == -1 and got[200] == -2 and got[3] == 30
    assert len(got) == 11
    hist = {r.version: r.n_removed for r in table.history().collect()}
    assert hist[v] == 1  # only the file containing k=2 was rewritten


def test_lake_merge_into_table_without_live_files(spark, tmp_path):
    """A partitioned table whose every row was deleted keeps its
    schema but no data file; a merge with matched clauses finds no
    match and inserts the source, as the insert-only merge does."""
    t = LakeTable(spark, str(tmp_path / "m0"), auto_checkpoint_every=None)
    t.append(
        spark.createDataFrame([(1, "p", 10)], "id long, b string, v long"),
        partition_by=["b"],
    )
    t.delete("id = 1")
    assert t.snapshot_files() == []
    t.merge(
        spark.createDataFrame(
            [(1, "p", 11), (2, "q", 12)], "id long, b string, v long"
        ),
        on=["id"],
    )
    assert sorted(tuple(r) for r in t.read().collect()) == [
        (1, "p", 11), (2, "q", 12),
    ]


def test_lake_merge_large_source_shuffled_semi_join(table, spark):
    """A backfill-sized source (keys > broadcast_key_limit) must take
    the shuffled semi-join path and still merge correctly."""
    table.append(_df(spark, 0, 50).coalesce(1))
    table.append(_df(spark, 100, 150).coalesce(1))
    src = spark.range(0, 30).select(
        F.col("id").alias("k"), F.lit(-7).alias("v")
    )
    v = table.merge(src, on=["k"], broadcast_key_limit=10)
    got = {r.k: r.v for r in table.read().collect()}
    assert all(got[k] == -7 for k in range(30))
    assert got[40] == 400 and got[100] == 1000
    assert len(got) == 100
    hist = {r.version: r.n_removed for r in table.history().collect()}
    assert hist[v] == 1  # only the 0..49 file was rewritten


def test_merge_into_algebra(spark):
    tgt = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    src = spark.createDataFrame([(2, "B"), (4, "D")], "k long, v string")
    up_ins = {r.k: r.v for r in merge_into(tgt, src, ["k"]).collect()}
    assert up_ins == {1: "a", 2: "B", 3: "c", 4: "D"}
    up_ign = {
        r.k: r.v
        for r in merge_into(tgt, src, ["k"], when_not_matched="ignore").collect()
    }
    assert up_ign == {1: "a", 2: "B", 3: "c"}
    del_ins = {
        r.k: r.v
        for r in merge_into(tgt, src, ["k"], when_matched="delete").collect()
    }
    assert del_ins == {1: "a", 3: "c", 4: "D"}
    with pytest.raises(ValueError):
        merge_into(tgt, src, ["k"], when_matched="upsert")


def test_apply_scd2(spark):
    dim = spark.createDataFrame(
        [(1, "x", 10, None, True), (1, "old", 5, 10, False), (2, "y", 10, None, True)],
        "k long, attr string, valid_from long, valid_to long, is_current boolean",
    )
    upd = spark.createDataFrame([(1, "X", 20), (3, "z", 20)], "k long, attr string, ts long")
    out = apply_scd2(dim, upd, ["k"], "ts").collect()
    rows = {(r.k, r.attr): (r.valid_from, r.valid_to, r.is_current) for r in out}
    assert rows[(1, "x")] == (10, 20, False)      # closed out
    assert rows[(1, "old")] == (5, 10, False)     # history untouched
    assert rows[(1, "X")] == (20, None, True)     # new current
    assert rows[(2, "y")] == (10, None, True)     # unaffected key
    assert rows[(3, "z")] == (20, None, True)     # brand-new key
    assert len(rows) == 5


def test_changes_feed(table, spark):
    """CDF semantics: appends are pure inserts, deletes diff only
    rewritten files, compaction contributes nothing."""
    table.append(_df(spark, 0, 5).coalesce(1))            # v0
    table.append(_df(spark, 100, 103).coalesce(1))        # v1
    table.delete(F.col("k") == 1)                         # v2
    table.compact(target_file_bytes=1 << 30)              # v3
    ch = table.changes(0).collect()
    got = sorted((r.k, r._change_type, r._commit_version) for r in ch)
    want = sorted(
        [(k, "insert", 1) for k in (100, 101, 102)]
        + [(1, "delete", 2)]
    )
    assert got == want
    # full-history feed includes v0's inserts; compaction never shows
    all_ch = table.changes(-1).collect()
    assert sum(1 for r in all_ch if r._commit_version == 0) == 5
    assert not [r for r in all_ch if r._commit_version == 3]


def test_schema_evolution(table, spark):
    """Additive evolution: merge_schema appends a new column, old
    rows read it as null; un-flagged mismatched appends are
    rejected."""
    import pytest

    from pyspark.sql import functions as F

    table.append(_df(spark, 0, 3))
    wider = _df(spark, 3, 5).withColumn("tag", F.lit("new"))
    with pytest.raises(ValueError, match="merge_schema"):
        table.append(wider)
    table.append(wider, merge_schema=True)
    rows = {r.k: r.tag for r in table.read().collect()}
    assert rows[0] is None and rows[4] == "new"
    assert len(rows) == 5
    # time travel to v0 still reads the ORIGINAL two-column schema
    assert table.read(version=0).columns == ["k", "v"]


def test_restore_and_vacuum(table, spark):
    """RESTORE re-points the live set at an old snapshot as a NEW
    commit (history intact, change feed sees the delta); vacuum
    deletes only files no committed version references."""
    import os

    df0 = spark.range(0, 50).selectExpr("id AS k", "id * 2 AS v")
    table.append(df0)                       # v0
    table.append(
        spark.range(100, 120).selectExpr("id AS k", "id * 2 AS v")
    )                                       # v1
    table.delete(F.col("k") < 10)           # v2
    assert table.read().count() == 60
    v = table.restore(0)                    # v3: back to the 50 rows
    assert v == 3
    assert table.read().count() == 50
    assert {r.k for r in table.read().collect()} == set(range(50))
    # history preserved: v2 still readable
    assert table.read(version=2).count() == 60
    hist = {r.version: r.operation for r in table.history().collect()}
    assert hist[3] == "restore"
    # restore to the current version is a no-op
    assert table.restore(3) == 3

    # vacuum: plant an orphan (crashed-writer debris) + check that
    # files referenced by ANY commit survive
    orphan_dir = os.path.join(table.path, "data", "deadbeef")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-junk.parquet")
    open(orphan, "wb").write(b"junk")
    gone = table.vacuum(dry_run=True)
    assert gone == [os.path.relpath(orphan, table.path)]
    assert os.path.exists(orphan)  # dry run deletes nothing
    assert table.vacuum() == gone
    assert not os.path.exists(orphan)
    # every version still reads after vacuum
    for ver, want in ((0, 50), (1, 70), (2, 60), (3, 50)):
        assert table.read(version=ver).count() == want


def test_streaming_sink_exactly_once(table, spark, tmp_path):
    """foreachBatch lake ingestion: every micro-batch is one commit,
    a replayed batch id is skipped (idempotent), and the table holds
    exactly the stream's rows."""
    src = str(tmp_path / "stream_src")
    spark.range(0, 100).selectExpr(
        "id AS k", "id * 2 AS v"
    ).repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema
    sq = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
        .writeStream.foreachBatch(table.streaming_sink("t_sink"))
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination(120)
    assert table.read().count() == 100
    n_versions = table.latest_version() + 1
    assert n_versions >= 2  # maxFilesPerTrigger=2 over 4 files
    assert table.last_committed_batch("t_sink") == n_versions - 1
    # replaying an already-committed batch is a no-op
    dup = spark.range(500, 510).selectExpr("id AS k", "id * 2 AS v")
    assert table.append_batch(dup, "t_sink", 0) is None
    assert table.read().count() == 100
    # a NEW batch id commits; a different app_id has its own ledger
    assert table.append_batch(dup, "t_sink", 99) is not None
    assert table.read().count() == 110
    assert table.last_committed_batch("other") is None


def test_refresh_aggregate_matches_full_recompute(table, spark):
    """IVM: snapshot agg + change feed == recomputed agg, including
    a group whose count drops to zero (it must vanish)."""
    from replay_spark.lake import refresh_aggregate

    df = spark.range(0, 100).select(
        (F.col("id") % 5).alias("g"),
        F.col("id").alias("v"),
    )
    table.append(df)  # v0
    base = table.read(version=0).groupBy("g").agg(
        F.count("*").alias("n_rows"),
        F.sum("v").alias("sum_v"),
    )
    # v1 deletes ALL of group 4 plus the evens of group 0
    table.delete((F.col("g") == 4) | ((F.col("g") == 0) & (F.col("v") % 2 == 0)))
    # v2 appends new rows into groups 1 and 4
    table.append(
        spark.range(200, 210).select(
            (F.col("id") % 2 + 1).alias("g"), F.col("id").alias("v")
        )
    )
    refreshed = refresh_aggregate(
        base, table.changes(0), ["g"], "n_rows", {"sum_v": "v"}
    )
    full = table.read().groupBy("g").agg(
        F.count("*").alias("n_rows"), F.sum("v").alias("sum_v")
    )
    got = {r.g: (r.n_rows, r.sum_v) for r in refreshed.collect()}
    want = {r.g: (r.n_rows, r.sum_v) for r in full.collect()}
    assert got == want
    # group 4 was fully deleted then re-inserted by the append;
    # a group deleted and NOT re-inserted must disappear entirely
    table.delete(F.col("g") == 4)
    refreshed2 = refresh_aggregate(
        base, table.changes(0), ["g"], "n_rows", {"sum_v": "v"}
    )
    assert 4 not in {r.g for r in refreshed2.collect()}
    assert {r.g: (r.n_rows, r.sum_v) for r in refreshed2.collect()} == {
        r.g: (r.n_rows, r.sum_v) for r in table.read().groupBy("g").agg(
            F.count("*").alias("n_rows"), F.sum("v").alias("sum_v")
        ).collect()
    }


def test_optimize_zorder_and_pruned_read(table, spark):
    """OPTIMIZE ZORDER: rows unchanged, box queries skip files via
    footer stats, and the pruned answer equals the full scan."""
    df = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
        F.col("id").alias("payload"),
    )
    table.append(df.repartition(8))
    table.optimize(zorder_by=["x", "y"], target_file_bytes=8 * 1024)
    hist = {r.version: r.operation for r in table.history().collect()}
    assert hist[1] == "optimize"
    assert table.read().count() == 4096
    pruned, kept, total = table.read_where({"x": (0, 7), "y": (0, 7)})
    assert total > 4 and kept < total  # clustering actually skips
    want = df.filter(
        (F.col("x") <= 7) & (F.col("y") <= 7)
    ).agg(F.sum("payload").alias("s")).collect()[0].s
    got = pruned.agg(F.sum("payload").alias("s")).collect()[0].s
    assert got == want
    # optimize with no zorder degrades to plain compaction
    table.optimize(target_file_bytes=1 << 30)
    assert len(table.snapshot_files()) == 1


def test_changes_on_empty_table_raises_clear_error(table, spark):
    """changes() on a table with no commits at all must raise a
    clear FileNotFoundError, not an IndexError from the empty-feed
    schema fallback."""
    with pytest.raises(FileNotFoundError, match="no commits"):
        table.changes(0)


def test_read_where_after_schema_evolution(table, spark):
    """Stats-pruned reads on an evolved table: when the pruned file
    subset consists solely of pre-evolution files, the evolved
    column must still resolve (as null) — both for the residual
    filter and the caller's projection."""
    table.append(_df(spark, 0, 100).coalesce(1))  # v0: (k, v)
    wider = _df(spark, 1000, 1100).withColumn("tag", F.lit("new"))
    table.append(wider.coalesce(1), merge_schema=True)  # v1: (k, v, tag)
    # bounds keep ONLY the v0 file (k < 100) — pre-evolution schema
    pruned, kept, total = table.read_where({"k": (0, 99)})
    assert kept < total
    assert set(pruned.columns) == {"k", "v", "tag"}
    rows = pruned.collect()
    assert len(rows) == 100
    assert all(r.tag is None for r in rows)
    # a box that spans both files merges schemas
    both, _, _ = table.read_where({"k": (50, 1050)})
    got = {r.k: r.tag for r in both.collect()}
    assert got[50] is None and got[1050] == "new"


def test_prune_files_conservative_without_stats(spark, tmp_path):
    """A file with NO footer statistics for the bounded column must
    be KEPT (absence of evidence never skips data), and a file with
    zero stat-bearing columns must still count in the manifest."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from replay_spark.utils.layout import (
        collect_file_stats,
        prune_files,
        read_pruned,
    )

    d = tmp_path / "mixed"
    d.mkdir()
    # normal file with stats: k in [0, 9]
    pq.write_table(
        pa.table({"k": list(range(10))}), str(d / "a.parquet")
    )
    # stats disabled: k in [100, 109] but the footer says nothing
    pq.write_table(
        pa.table({"k": list(range(100, 110))}),
        str(d / "b.parquet"),
        write_statistics=False,
    )
    man = collect_file_stats(spark, str(d), ["k"])
    assert man.select("file").distinct().count() == 2
    kept = {r.file for r in prune_files(man, {"k": (100, 200)}).collect()}
    assert any(f.endswith("b.parquet") for f in kept)       # no stats -> kept
    assert not any(f.endswith("a.parquet") for f in kept)   # stats -> pruned
    df, n_kept, total = read_pruned(spark, str(d), {"k": (100, 200)})
    assert (n_kept, total) == (1, 2)
    assert sorted(r.k for r in df.collect()) == list(range(100, 110))


def test_timestamp_stats_pruning(spark, tmp_path):
    """Engine-written timestamps are int64 micros (not INT96), so
    footer min/max exist and time-interval pruning works."""
    import datetime

    from replay_spark.utils.layout import read_pruned

    d = str(tmp_path / "ts_parts")
    jan = spark.createDataFrame(
        [(i, datetime.datetime(2024, 1, 1 + i)) for i in range(5)],
        "k long, ts timestamp",
    )
    jun = spark.createDataFrame(
        [(i, datetime.datetime(2024, 6, 1 + i)) for i in range(5)],
        "k long, ts timestamp",
    )
    jan.coalesce(1).write.parquet(d)
    jun.coalesce(1).write.mode("append").parquet(d)
    df, kept, total = read_pruned(
        spark,
        d,
        {"ts": (datetime.datetime(2024, 5, 1), datetime.datetime(2024, 7, 1))},
    )
    assert kept < total
    assert df.count() == 5
    assert all(r.ts.month == 6 for r in df.collect())


def test_materialized_aggregate_refresh_matches_full(table, spark, tmp_path):
    """MaterializedAggregate: the incrementally-maintained view
    equals a full recompute after appends AND deletes; replayed
    refreshes are skipped (exactly-once per base version)."""
    from replay_spark.lake import MaterializedAggregate

    view = MaterializedAggregate(
        table,
        str(tmp_path / "view"),
        group_columns=["g"],
        sum_columns={"sum_v": "v"},
    )
    df0 = spark.range(0, 40).selectExpr(
        "id AS k", "id % 4 AS g", "id * 3 AS v"
    )
    table.append(df0)                                      # base v0
    assert view.refresh() is not None
    assert view.refresh() is None                          # current -> skip

    def full():
        return {
            (r.g, r.n_rows, r.sum_v)
            for r in table.read()
            .groupBy("g")
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.sum("v").alias("sum_v"),
            )
            .collect()
        }

    def view_rows():
        return {
            (r.g, r.n_rows, r.sum_v) for r in view.read().collect()
        }

    assert view_rows() == full()
    table.append(
        spark.range(100, 120).selectExpr("id AS k", "id % 4 AS g", "id * 3 AS v")
    )                                                      # base v1
    table.delete(F.col("g") == 2)                          # base v2
    assert view.refresh() is not None
    assert view_rows() == full()
    assert 2 not in {r.g for r in view.read().collect()}
    # the view is itself versioned: the pre-delete state time-travels
    assert view.view.latest_version() == 1
    v0_groups = {r.g for r in view.view.read(version=0).collect()}
    assert v0_groups == {0, 1, 2, 3}


def test_materialized_aggregate_streaming_sink(table, spark, tmp_path):
    """foreachBatch adapter: base ingestion + view refresh per
    micro-batch, both idempotent on replay."""
    from replay_spark.lake import MaterializedAggregate

    view = MaterializedAggregate(
        table, str(tmp_path / "v2"), group_columns=["g"]
    )
    sink = view.streaming_sink("app-x")
    b0 = spark.range(0, 10).selectExpr("id AS k", "id % 2 AS g")
    sink(b0, 0)
    sink(b0, 0)  # replay: base skips, view already at base version
    assert table.read().count() == 10
    got = {(r.g, r.n_rows) for r in view.read().collect()}
    assert got == {(0, 5), (1, 5)}
    sink(spark.range(10, 16).selectExpr("id AS k", "id % 2 AS g"), 1)
    got = {(r.g, r.n_rows) for r in view.read().collect()}
    assert got == {(0, 8), (1, 8)}


def test_checkpoint_accelerated_log(table, spark):
    """Checkpoints: after checkpoint(), snapshot/read/txn lookups
    fold checkpoint + tail only (verified by counting commit-file
    reads), every answer is unchanged, and pre-checkpoint time
    travel still works from the raw log."""
    import replay_spark.lake as lakemod

    for i in range(6):
        table.append(
            spark.range(i * 10, i * 10 + 10).selectExpr(
                "id AS k", "id * 2 AS v"
            ).coalesce(1)
        )
    table.delete(F.col("k") < 5)                     # v6
    table.append_batch(
        spark.range(100, 105).selectExpr("id AS k", "id * 2 AS v"),
        "appZ",
        7,
    )                                                # v7 (txn)
    before = {r.k for r in table.read().collect()}
    ck = table.checkpoint()
    assert ck == 7
    # duplicate checkpoint at the same version is IDEMPOTENT
    # (deterministic fold -> semantically identical payload;
    # auto-checkpoints would otherwise break explicit calls) — and
    # the comparison is SEMANTIC, so byte-different serializations
    # of the same state (a concurrent writer folding from a
    # different base) are accepted, not mistaken for corruption
    assert table.checkpoint() == ck
    ck_path = os.path.join(
        table._log_dir, f"_checkpoint_{ck:010d}.json"
    )
    good = open(ck_path).read()
    with open(ck_path, "w") as fh:
        fh.write(good + " ")  # same JSON, different bytes
    assert table.checkpoint() == ck
    with open(ck_path, "w") as fh:
        fh.write(good)
    # tail commits after the checkpoint
    table.append(
        spark.range(200, 203).selectExpr("id AS k", "id * 2 AS v")
    )                                                # v8

    reads = []
    orig = lakemod._fs_read

    def counting_read(path):
        reads.append(path)
        return orig(path)

    lakemod._fs_read = counting_read
    try:
        t2 = lakemod.LakeTable(spark, table.path)
        after = {r.k for r in t2.read().collect()}
        commit_reads = [
            p for p in reads
            if p.endswith(".json")
            and not os.path.basename(p).startswith("_checkpoint")
        ]
        # only the tail (v8) behind the checkpoint is opened
        assert len(commit_reads) == 1, commit_reads
        assert os.path.basename(commit_reads[0]) == f"{8:010d}.json"
    finally:
        lakemod._fs_read = orig
    assert after == before | {200, 201, 202}
    # txn high-water mark survives through the checkpoint
    assert table.last_committed_batch("appZ") == 7
    assert table.append_batch(
        spark.range(0, 1).selectExpr("id AS k", "id AS v"), "appZ", 7
    ) is None
    # pre-checkpoint time travel folds the raw log
    assert table.read(version=2).count() == 30
    # checkpoint on an empty table is a clear error
    import tempfile

    empty = lakemod.LakeTable(spark, tempfile.mkdtemp(prefix="rs_ck_"))
    with pytest.raises(FileNotFoundError):
        empty.checkpoint()


def test_partitioned_append_and_log_pruning(table, spark):
    """partition_by: files land hive-partitioned with their partition
    values recorded in the commit; read_where prunes them from log
    metadata alone, the answer equals the full-scan filter, and the
    partition columns stay physical (rewrites compose)."""
    df = spark.range(0, 400).selectExpr(
        "id AS k", "id % 4 AS bucket", "id * 2 AS v"
    )
    table.append(df, partition_by=["bucket"])
    # files are per-partition and carry pvals in the log
    parts = table._fold_state(None).parts
    assert parts and all("bucket" in p for p in parts.values())
    assert {p["bucket"] for p in parts.values()} == {"0", "1", "2", "3"}
    # read(): self-contained files, partition column physical
    assert table.read().columns == ["k", "bucket", "v"]
    assert table.read().count() == 400
    # log-level pruning: bucket bound keeps only matching files
    pruned, kept, total = table.read_where({"bucket": (1, 2)})
    assert total == len(parts)
    assert 0 < kept < total
    want = df.filter("bucket BETWEEN 1 AND 2").agg(
        F.sum("v").alias("s")
    ).collect()[0].s
    assert pruned.agg(F.sum("v").alias("s")).collect()[0].s == want
    # a bound excluding every partition: zero scans, empty frame,
    # schema intact
    none_df, kept0, _ = table.read_where({"bucket": (9, 9)})
    assert kept0 == 0 and none_df.count() == 0
    assert none_df.columns == ["k", "bucket", "v"]
    # combined partition + stats bound
    both, kept2, _ = table.read_where({"bucket": (0, 0), "k": (0, 50)})
    assert kept2 <= kept
    assert both.count() == df.filter(
        "bucket = 0 AND k <= 50"
    ).count()


def test_partitioned_table_delete_and_checkpoint(table, spark):
    """Rewrites on a partitioned table stay correct (rewritten files
    lose their log pvals but keep the physical column — conservative
    keep), and checkpoints carry the partition metadata."""
    df = spark.range(0, 100).selectExpr("id AS k", "id % 2 AS bucket")
    table.append(df, partition_by=["bucket"])
    table.delete(F.col("k") < 10)
    assert table.read().count() == 90
    # pruning still exact after the rewrite
    pruned, kept, total = table.read_where({"bucket": (1, 1)})
    assert pruned.count() == 45
    table.checkpoint()
    table.append(
        spark.range(100, 110).selectExpr("id AS k", "id % 2 AS bucket"),
        partition_by=["bucket"],
    )
    parts = table._fold_state(None).parts
    assert parts  # survived the checkpoint + tail merge
    pruned2, _, _ = table.read_where({"bucket": (0, 0)})
    assert pruned2.count() == 45 + 5


def test_date_typed_stats_pruning(spark, tmp_path):
    """date32 columns: pyarrow footer stats arrive as datetime.date —
    they must be promoted into min_ts/max_ts (r9 ADVICE: all-NULL
    typed stats silently pruned EVERY file, returning an empty frame
    instead of the full-scan answer)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from replay_spark.utils.layout import read_pruned

    d = tmp_path / "dates"
    d.mkdir()
    pq.write_table(
        pa.table(
            {"d": pa.array(
                [datetime.date(2024, 1, 1 + i) for i in range(5)],
                type=pa.date32(),
            ), "k": list(range(5))}
        ),
        str(d / "jan.parquet"),
    )
    pq.write_table(
        pa.table(
            {"d": pa.array(
                [datetime.date(2024, 6, 1 + i) for i in range(5)],
                type=pa.date32(),
            ), "k": list(range(5))}
        ),
        str(d / "jun.parquet"),
    )
    df, kept, total = read_pruned(
        spark,
        str(d),
        {"d": (datetime.date(2024, 5, 1), datetime.date(2024, 7, 1))},
    )
    assert (kept, total) == (1, 2)
    assert df.count() == 5
    assert all(r.d.month == 6 for r in df.collect())
    # datetime bounds against the date-typed stats also prune exactly
    df2, kept2, _ = read_pruned(
        spark,
        str(d),
        {"d": (datetime.datetime(2024, 1, 1), datetime.datetime(2024, 2, 1))},
    )
    assert kept2 == 1 and df2.count() == 5


def test_prune_files_null_typed_stats_kept(spark, tmp_path):
    """A stats row whose typed min/max are all NULL (value landed in
    no typed slot) must KEEP the file — the NULL comparison may never
    exclude (false-negatives-impossible contract)."""
    from replay_spark.utils.layout import collect_file_stats, prune_files

    d = tmp_path / "nulls"
    d.mkdir()
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"k": list(range(10))}), str(d / "a.parquet"))
    man = collect_file_stats(spark, str(d), ["k"])
    # simulate the failure shape: stats row exists, typed slots NULL
    nulled = man.select(
        "file", "n_rows", "n_row_groups", "column", "null_count",
        *[
            F.lit(None).cast(man.schema[c].dataType).alias(c)
            for c in [
                "min_long", "max_long", "min_double", "max_double",
                "min_str", "max_str", "min_ts", "max_ts",
            ]
        ],
    )
    kept = prune_files(nulled, {"k": (1000, 2000)}).count()
    assert kept == 1


def test_latest_checkpoint_tolerates_malformed_name(table, spark):
    """One malformed _checkpoint_*.json must not break metadata reads
    (r9 ADVICE: unguarded int() parse raised ValueError forever)."""
    import os

    table.append(_df(spark, 0, 5).coalesce(1))
    table.checkpoint()
    bad = os.path.join(table._log_dir, "_checkpoint_garbage.json")
    with open(bad, "w") as f:
        f.write("{}")
    # every metadata read still works and still uses the good one
    assert table.read().count() == table.read(
        version=table.latest_version()
    ).count()


def test_vacuum_retention_window(table, spark):
    """Delta-style retention vacuum: files only reachable from
    versions BELOW the horizon are deleted; every version >= horizon
    still reads EXACTLY; pre-horizon time travel raises a clear
    error; the horizon only ratchets upward."""
    import os

    table.append(_df(spark, 0, 50).coalesce(1))      # v0
    table.delete(F.col("k") < 10)                    # v1 (rewrites)
    table.append(_df(spark, 100, 120).coalesce(1))   # v2
    table.delete(F.col("k") >= 115)                  # v3 (rewrites)
    want = {
        v: sorted(r.k for r in table.read(version=v).collect())
        for v in range(4)
    }
    files_before = {
        f
        for dirpath, _d, names in os.walk(os.path.join(table.path, "data"))
        for f in names
        if f.endswith(".parquet")
    }
    gone = table.vacuum(horizon_version=2)
    assert gone, "v0/v1-only files should be deleted"
    # (a) every retained version reads exactly as before
    for v in (2, 3):
        got = sorted(r.k for r in table.read(version=v).collect())
        assert got == want[v]
    assert sorted(r.k for r in table.read().collect()) == want[3]
    # (b) pre-horizon time travel raises a clear error
    for v in (0, 1):
        with pytest.raises(ValueError, match="no longer possible"):
            table.read(version=v)
        with pytest.raises(ValueError, match="no longer possible"):
            table.read_where({"k": (0, 5)}, version=v)
    with pytest.raises(ValueError, match="no longer possible"):
        table.changes(0, 1)
    # CDF inside the retained window still works
    assert table.changes(2, 3).count() > 0
    assert table.earliest_readable_version() == 2
    # horizon can only ratchet upward
    with pytest.raises(ValueError, match="ratchet"):
        table.vacuum(horizon_version=1)
    # files actually left disk
    files_after = {
        f
        for dirpath, _d, names in os.walk(os.path.join(table.path, "data"))
        for f in names
        if f.endswith(".parquet")
    }
    assert files_after < files_before
    # retain_last spelling: keep latest only
    table.vacuum(retain_last=1)
    assert table.earliest_readable_version() == 3
    assert sorted(r.k for r in table.read().collect()) == want[3]


def test_vacuum_respects_checkpointed_live_sets(table, spark):
    """A file whose add-commit precedes a checkpoint but that is
    still live must SURVIVE a retention vacuum whose fold starts at
    that checkpoint (live(h) comes through the checkpoint)."""
    table.append(_df(spark, 0, 10).coalesce(1))      # v0 — stays live
    table.append(_df(spark, 10, 20).coalesce(1))     # v1
    table.checkpoint()                               # ckpt @ v1
    table.delete(F.col("k") >= 15)                   # v2 rewrite of v1's file
    gone = table.vacuum(horizon_version=2)
    # only v1's pre-rewrite file is vacuumable; v0's is live at v2
    assert table.read().count() == 15
    assert sorted(r.k for r in table.read().collect()) == list(range(15))
    assert gone  # the rewritten-away file went
    # orphan-only vacuum still conservative after a checkpoint
    assert table.vacuum() == []


def test_vacuum_keeps_files_added_and_removed_inside_window(table, spark):
    """A file added AND removed within the retained window is in
    some retained live set — it must survive."""
    table.append(_df(spark, 0, 10).coalesce(1))      # v0
    table.append(_df(spark, 10, 20).coalesce(1))     # v1 (in-window add)
    table.delete(F.col("k") >= 10)                   # v2 removes v1's file
    gone = table.vacuum(horizon_version=1)
    assert gone == []  # nothing reachable only below v1
    assert table.read(version=1).count() == 20  # still exact


def test_bloom_skip_index_point_reads(table, spark):
    """Bloom sidecars prune point predicates that min/max stats
    can't (every file spans the key domain); results stay EXACT and
    files without sidecars are kept."""
    # k % 4 buckets: every file's [min,max] covers the whole domain
    base = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    table.append(base.filter(F.col("k") % 4 == 0).coalesce(1))
    table.enable_bloom_index(["k"])      # indexes the existing file
    for r in (1, 2, 3):                  # commit-time sidecar writes
        table.append(base.filter(F.col("k") % 4 == r).coalesce(1))
    # every present key reads exactly (no false negatives), and the
    # scan skips files (only ~1 of 4 can contain the key)
    for probe in (0, 5, 42, 399):
        df, kept, total = table.read_where({"k": (probe, probe)})
        assert total == 4
        assert kept < total, probe
        rows = df.filter(F.col("k") == probe).collect()
        assert [(r.k, r.v) for r in rows] == [(probe, probe * 10)]
    # absent key: exact empty answer (possibly after over-reading)
    df, kept, total = table.read_where({"k": (100000, 100000)})
    assert df.filter(F.col("k") == 100000).count() == 0
    # range bounds don't consult blooms — still exact
    df, _, _ = table.read_where({"k": (10, 20)})
    assert df.filter(F.col("k").between(10, 20)).count() == 11


def test_bloom_index_false_positive_only_overreads(table, spark):
    """Property: for EVERY key in the table, the bloom-pruned kept
    set includes the file that holds it (no false negatives); false
    positives only ever over-read."""
    import os

    rows = [(h, i) for i, h in enumerate(
        ["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
         "eta", "theta", "iota", "kappa", "mu", "nu"]
    )]
    df = spark.createDataFrame(rows, "fp string, n long")
    table.enable_bloom_index(["fp"], bits_per_key=10, num_hashes=7)
    for part in range(3):
        table.append(
            df.filter(F.col("n") % 3 == part).coalesce(1)
        )
    want = {fp: n for fp, n in rows}
    for fp, n in rows:
        got, kept, total = table.read_where({"fp": (fp, fp)})
        hit = got.filter(F.col("fp") == fp).collect()
        assert [(r.fp, r.n) for r in hit] == [(fp, n)]
        assert 1 <= kept <= total == 3
    # absent keys: answer exact-empty regardless of over-read
    for fp in ("omega", "psi", "chi"):
        got, kept, total = table.read_where({"fp": (fp, fp)})
        assert got.filter(F.col("fp") == fp).count() == 0
    # vacuum removes sidecars with their files
    table.delete(F.col("n") % 3 == 0)
    gone = table.vacuum(retain_last=1)
    assert gone
    blooms = os.listdir(os.path.join(table._log_dir, "blooms"))
    for f in gone:
        flat = f.replace(os.sep, "__").replace("/", "__")
        assert f"{flat}.fp.json" not in blooms


def test_shallow_clone_zero_copy_divergent_evolution(table, spark, tmp_path):
    """Shallow CLONE copies zero data bytes; afterwards source and
    clone evolve independently (the clone's delete rewrites into its
    own data dir; the source never sees it)."""
    table.append(_df(spark, 0, 20).coalesce(1))
    table.append(_df(spark, 20, 40).coalesce(1))
    dest = str(tmp_path / "clone")
    c = table.clone(dest)
    # zero data files copied
    assert not os.path.isdir(os.path.join(dest, "data")) or not any(
        n.endswith(".parquet")
        for _d, _s, names in os.walk(os.path.join(dest, "data"))
        for n in names
    )
    assert sorted(r.k for r in c.read().collect()) == list(range(40))
    # divergent evolution
    c.delete(F.col("k") < 10)
    table.append(_df(spark, 40, 45).coalesce(1))
    assert sorted(r.k for r in c.read().collect()) == list(range(10, 40))
    assert sorted(r.k for r in table.read().collect()) == list(range(45))
    # clone time travel to v0 still sees the full snapshot
    assert c.read(version=0).count() == 40
    # merge on the clone rewrites clone-side only
    src = spark.createDataFrame([(15, -1)], "k long, v long")
    c.merge(src, on=["k"])
    got = {r.k: r.v for r in c.read().collect()}
    assert got[15] == -1 and got[16] == 160
    assert {r.k: r.v for r in table.read().collect()}[15] == 150


def test_clone_versions_deep_and_guards(table, spark, tmp_path):
    table.append(_df(spark, 0, 10).coalesce(1))
    table.append(_df(spark, 10, 20).coalesce(1))
    # clone at an old version
    c0 = table.clone(str(tmp_path / "c0"), version=0)
    assert c0.read().count() == 10
    # deep clone is physically independent
    d = table.clone(str(tmp_path / "deep"), deep=True)
    assert d.read().count() == 20
    table.delete(F.col("k") < 5)
    table.vacuum(retain_last=1)      # source GC
    assert d.read().count() == 20    # deep clone unaffected
    # target-exists guard
    with pytest.raises(ValueError, match="exists"):
        table.clone(str(tmp_path / "deep"))
    # a source with two schema eras shallow-clones as one commit that
    # reads the source's rows and columns at the cloned version
    wider = _df(spark, 20, 22).withColumn("tag", F.lit("x"))
    table.append(wider, merge_schema=True)
    c2 = table.clone(str(tmp_path / "c2"))
    src = table.read(version=table.latest_version())
    assert c2.read().columns == src.columns == ["k", "v", "tag"]
    assert sorted(map(tuple, c2.read().collect())) == sorted(
        map(tuple, src.collect())
    )
    assert {r.k: r.tag for r in c2.read().collect()}[21] == "x"


def test_replicate_log_replay(table, spark, tmp_path):
    """Incremental replication: replica equals the source at EVERY
    version; a second sync copies only the new commits; lineage and
    divergence guards fire; vacuumed sources raise with the file
    named."""
    dest = str(tmp_path / "replica")
    table.append(_df(spark, 0, 20).coalesce(1))     # v0
    table.delete(F.col("k") < 5)                    # v1
    table.append(_df(spark, 20, 30).coalesce(1))    # v2
    assert table.replicate(dest) == 2
    rep = LakeTable(spark, dest)
    for v in range(3):
        assert (
            sorted(r.k for r in rep.read(version=v).collect())
            == sorted(r.k for r in table.read(version=v).collect())
        ), v
    # incremental: two more commits, re-sync
    table.append(_df(spark, 30, 35).coalesce(1))    # v3
    table.delete(F.col("k") >= 33)                  # v4
    n_files_before = sum(
        1 for _d, _s, ns in os.walk(os.path.join(dest, "data"))
        for n in ns if n.endswith(".parquet")
    )
    assert table.replicate(dest) == 4
    n_files_after = sum(
        1 for _d, _s, ns in os.walk(os.path.join(dest, "data"))
        for n in ns if n.endswith(".parquet")
    )
    assert n_files_after > n_files_before
    assert sorted(r.k for r in rep.read().collect()) == sorted(
        r.k for r in table.read().collect()
    )
    # re-sync with nothing new is a no-op
    assert table.replicate(dest) == 4
    # change feed carries over verbatim
    assert rep.changes(2, 4).count() == table.changes(2, 4).count()
    # divergence guard: a foreign table is rejected
    other = LakeTable(spark, str(tmp_path / "other"))
    other.append(_df(spark, 0, 3).coalesce(1))
    with pytest.raises(ValueError, match="replica"):
        table.replicate(str(tmp_path / "other"))
    # vacuumed source: pre-horizon files are gone -> clear error
    table.vacuum(retain_last=1)
    gone_dest = str(tmp_path / "from_vacuumed")
    import pytest as _p
    with _p.raises(FileNotFoundError, match="vacuumed"):
        table.replicate(gone_dest)


def test_tags_pin_versions(table, spark):
    """Tags name snapshots immutably; retention vacuum refuses to GC
    under a tag; read_tag reads the pinned version."""
    table.append(_df(spark, 0, 10).coalesce(1))      # v0
    table.delete(F.col("k") < 3)                     # v1
    table.append(_df(spark, 10, 15).coalesce(1))     # v2
    assert table.tag("train-2024-07", version=0) == 0
    assert table.tag("latest-good") == 2             # default: latest
    assert sorted(r.k for r in table.read_tag("train-2024-07").collect()) \
        == list(range(10))
    # immutability
    with pytest.raises(ValueError, match="already pins"):
        table.tag("train-2024-07", version=1)
    with pytest.raises(KeyError):
        table.read_tag("nope")
    # vacuum under a tag refuses
    with pytest.raises(ValueError, match="tags pin"):
        table.vacuum(horizon_version=2)
    table.untag("train-2024-07")
    gone = table.vacuum(horizon_version=2)
    assert gone  # now it can GC
    # the surviving tag still reads
    assert table.read_tag("latest-good").count() == 12
    # tagging below the horizon refuses
    with pytest.raises(ValueError, match="no longer possible"):
        table.tag("too-old", version=0)


def test_append_constraints_gate_the_write(table, spark):
    """ConstraintSuite-gated appends: a failing batch never becomes
    a version; a passing batch commits normally."""
    from replay_spark.quality import ConstraintSuite

    suite = (
        ConstraintSuite()
        .is_complete("k")
        .is_non_negative("v")
    )
    table.append(_df(spark, 0, 5).coalesce(1), constraints=suite)
    assert table.latest_version() == 0
    bad = spark.createDataFrame([(99, -5)], "k long, v long")
    with pytest.raises(ValueError, match="constraint"):
        table.append(bad, constraints=suite)
    assert table.latest_version() == 0          # nothing committed
    assert table.read().count() == 5


def test_log_embedded_column_stats_prune_in_fold(table, spark):
    """enable_column_stats: commits carry per-file min/max; range
    bounds prune files during the driver-side fold (telemetry
    kept<total) with zero footer I/O at that tier; results stay
    exact; checkpoints carry the stats."""
    table.enable_column_stats(["k"])
    # three disjoint ranges -> three commits with embedded stats
    for lo in (0, 1000, 2000):
        table.append(_df(spark, lo, lo + 100).coalesce(1))
    df, kept, total = table.read_where({"k": (1000, 1050)})
    assert table.last_log_pruned[0] < table.last_log_pruned[1] == 3
    assert kept == 1 and total == 3
    assert sorted(r.k for r in df.collect()) == list(range(1000, 1051))
    # checkpoint then read again: stats come through the checkpoint
    table.checkpoint()
    df2, kept2, _ = table.read_where({"k": (2000, 2010)})
    assert table.last_log_pruned[0] == 1
    assert df2.count() == 11
    # delete-rewrites re-collect stats for the new files
    table.delete(F.col("k").between(1000, 1009))
    df3, kept3, total3 = table.read_where({"k": (1000, 1050)})
    assert df3.count() == 41
    assert table.last_log_pruned[0] < table.last_log_pruned[1]


def test_column_stats_backfill_existing_files(table, spark):
    """enable_column_stats on a table with history backfills a
    stats-only commit covering the current live files."""
    table.append(_df(spark, 0, 50).coalesce(1))
    table.append(_df(spark, 1000, 1050).coalesce(1))
    v = table.latest_version()
    table.enable_column_stats(["k"])
    assert table.latest_version() == v + 1  # stats-only commit
    _df_out, kept, total = table.read_where({"k": (0, 10)})
    assert table.last_log_pruned == (1, 2)
    assert _df_out.count() == 11
    hist = {r.version: r.operation for r in table.history().collect()}
    assert hist[v + 1] == "collect_stats"


def test_cdf_guard_matches_vacuum_horizon(table, spark):
    """changes(start, end) reads the REMOVE pre-images of commits
    start+1..end — files live at start — so the earliest admissible
    start IS the vacuum horizon: changes(h-1, h) must raise the
    clear time-travel error, never a confusing PATH_NOT_FOUND."""
    table.append(_df(spark, 0, 20).coalesce(1))      # v0
    table.delete(F.col("k") < 5)                     # v1 rewrites v0's file
    table.delete(F.col("k") < 10)                    # v2 rewrites v1's file
    table.vacuum(horizon_version=2)
    # start = h-1: commit h's diff needs files live at h-1 — gone
    with pytest.raises(ValueError, match="no longer possible"):
        table.changes(1, 2)
    # start = h is the earliest valid CDF start after the vacuum
    assert table.changes(2).count() == 0  # no commits after v2 yet
    table.delete(F.col("k") >= 18)                   # v3
    assert table.changes(2, 3).count() > 0


def test_corrupt_tag_file_raises_not_silently_empty(table, spark):
    """A present-but-corrupt _tags.json must RAISE (vacuum would
    otherwise GC under pins it can no longer see); an absent file is
    simply the empty tag set."""
    table.append(_df(spark, 0, 10).coalesce(1))      # v0
    table.append(_df(spark, 10, 15).coalesce(1))     # v1
    assert table._tags() == {}                        # absent -> empty
    table.tag("pin", version=0)
    tag_path = os.path.join(table.path, "_log", "_tags.json")
    assert os.path.exists(tag_path)
    with open(tag_path, "w") as fh:
        fh.write("{not json")                         # torn write
    with pytest.raises(ValueError, match="unreadable/corrupt"):
        table._tags()
    with pytest.raises(ValueError, match="unreadable/corrupt"):
        table.vacuum(horizon_version=1)               # refuses to GC blind
    os.remove(tag_path)                               # operator resolves
    assert table._tags() == {}
    assert table.vacuum(horizon_version=1) is not None


def test_timestamp_as_of_time_travel(table, spark):
    """Delta TIMESTAMP AS OF: commits carry commit_ts (unix micros),
    version_as_of resolves wall-clock times (seconds / micros /
    datetime) to the newest version at-or-before, read(as_of=...)
    delegates, pre-first-commit times raise, and pre-commit_ts logs
    fall back to the commit file's mtime."""
    import datetime
    import json as _json
    import time as _time

    table.append(_df(spark, 0, 5).coalesce(1))       # v0
    _time.sleep(0.05)
    t_mid = _time.time()
    _time.sleep(0.05)
    table.append(_df(spark, 5, 9).coalesce(1))       # v1
    hist = {r.version: r.commit_ts for r in table.history().collect()}
    assert hist[0] < hist[1]
    assert table.version_as_of(t_mid) == 0
    assert table.version_as_of(_time.time()) == 1
    assert table.version_as_of(datetime.datetime.now()) == 1
    assert table.version_as_of(int(t_mid * 1_000_000)) == 0  # micros
    assert table.read(as_of=t_mid).count() == 5
    assert table.read(as_of=_time.time()).count() == 9
    with pytest.raises(ValueError, match="no commit at or before"):
        table.version_as_of(hist[0] / 1_000_000 - 10.0)
    with pytest.raises(ValueError, match="ONE of"):
        table.read(version=0, as_of=t_mid)
    # mtime fallback: strip commit_ts from v0's record
    name = os.path.join(table.path, "_log", f"{0:010d}.json")
    rec = _json.loads(open(name).read())
    rec.pop("commit_ts")
    with open(name, "w") as fh:
        fh.write(_json.dumps(rec))
    assert table.version_as_of(_time.time()) == 1
    assert table.read(as_of=_time.time() + 1).count() == 9


def test_restore_rerecords_partition_values(table, spark):
    """A restore that re-adds partitioned files must re-record their
    partition values in the restore commit — log-level pruning
    (zero file I/O) keeps working after the rollback."""
    df = _df(spark, 0, 40).withColumn("p", (F.col("k") % 4).cast("int"))
    table.append(df, partition_by=["p"])              # v0 partitioned
    table.delete(F.col("p") == 1)                     # v1 drops p=1
    table.restore(0)                                  # v2 re-adds them
    out, kept, total = table.read_where({"p": (1, 1)})
    assert out.count() == 10
    assert table.last_log_pruned[0] < table.last_log_pruned[1], (
        "re-added files lost their partition values: log pruning dead"
    )


def test_compact_and_optimize_preserve_partition_pruning(table, spark):
    """Compaction/optimize on a partitioned table must re-record the
    new files' partition values — the zero-I/O log-pruning tier
    survives layout maintenance (was: conservative full keep)."""
    df = _df(spark, 0, 400).withColumn(
        "p", (F.col("k") % 4).cast("int")
    )
    table.append(df.filter("p <= 1"), partition_by=["p"])   # v0
    table.append(df.filter("p >= 2"), partition_by=["p"])   # v1
    table.compact()                                          # v2
    out, kept, total = table.read_where({"p": (3, 3)})
    assert out.count() == 100
    log_kept, log_total = table.last_log_pruned
    assert log_kept < log_total, "compaction lost partition values"
    # z-ordered optimize keeps them too
    table.optimize(zorder_by=["k"])                          # v3
    out2, _, _ = table.read_where({"p": (0, 0)})
    assert out2.count() == 100
    assert table.last_log_pruned[0] < table.last_log_pruned[1]
    # every retained version still reads exactly
    assert table.read(version=1).count() == 400
    assert table.read().count() == 400
    hist = {r.version: r.operation for r in table.history().collect()}
    assert hist[2] == "compact" and hist[3] == "optimize"
    # unpartitioned tables keep the plain size-targeted path
    import tempfile

    t2 = LakeTable(spark, tempfile.mkdtemp(prefix="rs_lake_np_"))
    t2.append(_df(spark, 0, 100))
    t2.compact()
    assert t2.read().count() == 100
    t2.drop()


def test_partitioned_compact_splits_fat_partition(table, spark):
    """Partitioned compact honors target_file_bytes WITHIN a
    partition: a fat partition splits into multiple ~target-sized
    files (not one giant file per partition) and log pruning still
    works afterwards."""
    import collections

    df = _df(spark, 0, 5000).withColumn(
        "p",
        F.when(F.col("k") < 4500, F.lit(0)).otherwise(F.lit(1)).cast(
            "int"
        ),
    ).withColumn("pad", F.sha2(F.col("k").cast("string"), 512))
    table.append(df, partition_by=["p"])
    fat_bytes = sum(
        os.path.getsize(f)
        for f in table.snapshot_files()
        if "_p_p=0" in f
    )
    # target ~ a third of the fat partition -> expect >= 3 files there
    table.compact(target_file_bytes=max(1, fat_bytes // 3))
    per_part = collections.Counter()
    for f in table.snapshot_files():
        seg = [s for s in f.split(os.sep) if s.startswith("_p_p=")]
        per_part[seg[0]] += 1
    assert per_part["_p_p=0"] >= 3, per_part
    assert per_part["_p_p=1"] >= 1
    assert table.read().count() == 5000
    out, kept, total = table.read_where({"p": (1, 1)})
    assert out.count() == 500
    log_kept, log_total = table.last_log_pruned
    assert log_kept < log_total, "salted compact lost partition values"
    # a huge target keeps the one-file-per-partition fast path
    table.compact(target_file_bytes=1 << 40)
    per_part2 = collections.Counter()
    for f in table.snapshot_files():
        seg = [s for s in f.split(os.sep) if s.startswith("_p_p=")]
        per_part2[seg[0]] += 1
    assert per_part2["_p_p=0"] == 1 and per_part2["_p_p=1"] == 1
    assert table.read().count() == 5000


# -- column mapping (rename/drop without rewrite) ---------------------------


def test_rename_column_metadata_only(table, spark):
    table.append(_df(spark, 0, 5).coalesce(1))            # v0
    files_before = set(table.snapshot_files())
    v = table.rename_column("v", "value")                 # v1
    assert set(table.snapshot_files()) == files_before    # zero rewrite
    assert table.read().columns == ["k", "value"]
    assert {r.k: r.value for r in table.read().collect()} == {
        i: i * 10 for i in range(5)
    }
    # time travel to pre-rename still reads the old name
    assert table.read(version=0).columns == ["k", "v"]
    # append under the NEW logical name lands in the old physical slot
    table.append(
        spark.createDataFrame([(100, 1000)], "k long, value long")
    )
    got = {r.k: r.value for r in table.read().collect()}
    assert got[100] == 1000 and got[2] == 20 and len(got) == 6
    # the whole table is still ONE physical schema (no mergeSchema need)
    import pyarrow.parquet as pq

    phys = {
        tuple(pq.read_schema(f).names) for f in table.snapshot_files()
    }
    assert phys == {("k", "v")}
    # rename back and forth
    table.rename_column("value", "v2")
    assert table.read().columns == ["k", "v2"]
    with pytest.raises(ValueError):
        table.rename_column("nope", "x")
    with pytest.raises(ValueError):
        table.rename_column("v2", "k")


def test_drop_column_and_readd(table, spark):
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "k long, s string, v long"
    )
    table.append(df.coalesce(1))                          # v0
    table.drop_column("s")                                # v1
    assert table.read().columns == ["k", "v"]
    assert table.read(version=0).columns == ["k", "s", "v"]
    # a rewrite physically sheds the dropped column
    table.delete(F.col("k") == 1)                         # v2
    import pyarrow.parquet as pq

    phys_cols = {
        n for f in table.snapshot_files() for n in pq.read_schema(f).names
    }
    assert "s" not in phys_cols
    # re-adding the same logical name gets a FRESH physical slot
    table.append(
        spark.createDataFrame([(3, 30, "c")], "k long, v long, s string"),
        merge_schema=True,
    )                                                     # v3
    rows = {r.k: (r.v, r.s) for r in table.read().collect()}
    assert rows[3] == (30, "c")
    assert rows[2] == (20, None)  # old rows: new column is null
    # and the old era's s values did NOT resurrect
    assert table.read(version=0).filter("k = 1").count() == 1
    with pytest.raises(ValueError):
        table.drop_column("absent")


def test_rename_then_lake_ops_compose(table, spark):
    """delete / merge / compact / changes / checkpoint all stay
    correct across a rename boundary."""
    table.append(_df(spark, 0, 10).coalesce(1))           # v0
    table.rename_column("v", "val")                       # v1
    table.delete(F.col("val") == 30)                      # v2 (logical cond)
    assert sorted(r.k for r in table.read().collect()) == [
        0, 1, 2, 4, 5, 6, 7, 8, 9
    ]
    src = spark.createDataFrame([(4, -4), (40, -40)], "k long, val long")
    table.merge(src, on=["k"])                            # v3
    got = {r.k: r.val for r in table.read().collect()}
    assert got[4] == -4 and got[40] == -40 and got[5] == 50
    table.compact(target_file_bytes=1 << 30)              # v4
    assert {r.k: r.val for r in table.read().collect()} == got
    # CDF across the rename: end-version logical names throughout
    ch = table.changes(1, 3).collect()
    assert {r.k for r in ch if r._change_type == "delete"} == {3, 4}
    assert "val" in table.changes(0).columns
    # checkpoint carries the mapping
    table.checkpoint()
    assert table.read().columns == ["k", "val"]
    assert {r.k: r.val for r in table.read().collect()} == got


def test_rename_partition_column_pruning_survives(table, spark):
    df = _df(spark, 0, 200).withColumn(
        "p", (F.col("k") % 4).cast("int")
    )
    table.append(df, partition_by=["p"])                  # v0
    table.rename_column("p", "bucket")                    # v1
    out, kept, total = table.read_where({"bucket": (2, 2)})
    assert out.count() == 50
    assert out.columns == ["k", "v", "bucket"]
    log_kept, log_total = table.last_log_pruned
    assert log_kept < log_total, "rename broke log pruning"
    # partitioned compact still works (physical partition cols)
    table.compact()
    out2, _, _ = table.read_where({"bucket": (2, 2)})
    assert out2.count() == 50
    assert table.last_log_pruned[0] < table.last_log_pruned[1]
    # dropping a partition column is refused
    with pytest.raises(ValueError):
        table.drop_column("bucket")


def test_restore_across_mapping_eras(table, spark):
    table.append(_df(spark, 0, 5).coalesce(1))            # v0 unmapped
    table.rename_column("v", "val")                       # v1 mapped
    table.append(
        spark.createDataFrame([(9, 90)], "k long, val long")
    )                                                     # v2
    table.restore(0)                                      # v3: unmapped era
    assert table.read().columns == ["k", "v"]
    assert table.read().count() == 5
    table.restore(2)                                      # v4: mapped again
    assert table.read().columns == ["k", "val"]
    assert table.read().count() == 6


def test_clone_carries_mapping(table, spark):
    import tempfile

    table.append(_df(spark, 0, 5).coalesce(1))
    table.rename_column("v", "val")
    dest = tempfile.mkdtemp(prefix="rs_lake_clone_") + "/t"
    out = table.clone(dest)
    assert out.read().columns == ["k", "val"]
    assert out.read().count() == 5
    out.drop()


def test_partition_spec_evolution_prunes_per_era(spark, tmp_path):
    import pyspark.sql.functions as F

    from replay_spark.lake import LakeTable

    t = LakeTable(spark, str(tmp_path / "pe"))
    df = spark.range(0, 100).select(
        "id",
        (F.col("id") % 4).cast("string").alias("b"),
        (F.col("id") % 10).cast("string").alias("c"),
    )
    t.append(df.filter("id < 50"), partition_by=["b"])
    t.append(df.filter("id >= 50"), partition_by=["b", "c"])
    # bound on the shared column prunes BOTH eras
    out, kept, total = t.read_where({"b": ("1", "1")})
    assert sorted(r["id"] for r in out.collect()) == [
        i for i in range(100) if i % 4 == 1
    ]
    assert kept < total
    # bound on the evolved column: era-1 files (no recorded c) are
    # kept conservatively, era-2 files prune; result still exact
    out2, kept2, total2 = t.read_where({"c": ("3", "3")})
    assert sorted(r["id"] for r in out2.collect()) == [
        i for i in range(100) if i % 10 == 3
    ]
    assert kept2 < total2
    assert t.read().count() == 100


def test_merge_batch_exactly_once_cdc(spark, tmp_path):
    import pyspark.sql.functions as F

    from replay_spark.lake import LakeTable

    t = LakeTable(spark, str(tmp_path / "cdc"))
    b0 = spark.range(0, 10).withColumn("v", F.col("id") * 2)
    # first batch into an empty table appends
    assert t.merge_batch(b0, ["id"], "cdc", 0) == 0
    # CDC batch: update id<3, insert 100..102
    b1 = spark.createDataFrame(
        [(0, 999), (1, 998), (2, 997), (100, 1), (101, 2), (102, 3)],
        "id long, v long",
    )
    v = t.merge_batch(b1, ["id"], "cdc", 1)
    assert v == 1
    rows = {r["id"]: r["v"] for r in t.read().collect()}
    assert rows[0] == 999 and rows[2] == 997 and rows[100] == 1
    assert rows[5] == 10 and len(rows) == 13
    # replayed batch is skipped, table unchanged
    assert t.merge_batch(b1, ["id"], "cdc", 1) is None
    assert t.latest_version() == v
    # empty batch commits nothing
    assert t.merge_batch(b1.limit(0), ["id"], "cdc", 2) is None
    # the sink adapter wires the same path
    sink = t.streaming_merge_sink(["id"], "cdc")
    sink(spark.createDataFrame([(0, 5)], "id long, v long"), 3)
    assert {r["id"]: r["v"] for r in t.read().collect()}[0] == 5


def test_read_by_tag(spark, tmp_path):
    import pytest as _pt

    from replay_spark.lake import LakeTable

    t = LakeTable(spark, str(tmp_path / "tagread"))
    t.append(spark.range(0, 10))
    t.tag("train-2024-07")
    t.append(spark.range(10, 30))
    assert t.read(tag="train-2024-07").count() == 10
    assert t.read().count() == 30
    with _pt.raises(KeyError, match="no tag"):
        t.read(tag="nope")
    with _pt.raises(ValueError, match="ONE of"):
        t.read(version=0, tag="train-2024-07")


def test_reader_feature_guard_and_auto_checkpoint(spark, tmp_path):
    import json as _json
    import os as _os

    import pytest as _pt

    from replay_spark.lake import LakeTable

    t = LakeTable(spark, str(tmp_path / "fg"), auto_checkpoint_every=5)
    for i in range(11):
        t.append(spark.range(i, i + 1))
    # auto-checkpoints landed at versions 5 and 10
    ckpts = [
        n for n in _os.listdir(t._log_dir) if n.startswith("_checkpoint")
    ]
    assert sorted(ckpts) == [
        "_checkpoint_0000000005.json",
        "_checkpoint_0000000010.json",
    ]
    assert t.read().count() == 11
    # dv/mapping commits record their feature flags
    t.delete("id = 3", mode="dv")
    c = t._commits()[-1]
    assert c["features"] == ["deletion_vectors"]
    # a commit with an unknown feature makes reads refuse loudly
    v = t.latest_version() + 1
    path = _os.path.join(t._log_dir, f"{v:010d}.json")
    with open(path, "w") as fh:
        fh.write(_json.dumps({
            "version": v, "operation": "append", "add": [],
            "remove": [], "schema": c["schema"],
            "features": ["quantum_vectors"],
        }))
    with _pt.raises(ValueError, match="quantum_vectors"):
        t.read()


def test_partition_scoped_compact(spark, tmp_path):
    import os as _os

    import pyspark.sql.functions as F

    from replay_spark.lake import LakeTable

    t = LakeTable(spark, str(tmp_path / "pc"), auto_checkpoint_every=None)
    df = spark.range(0, 400).select(
        "id", (F.col("id") % 4).cast("string").alias("b")
    )
    # many small files per partition
    for lo in range(0, 400, 100):
        t.append(
            df.filter((F.col("id") >= lo) & (F.col("id") < lo + 100)),
            partition_by=["b"],
        )
    live_before = set(t.snapshot_files())
    n_b1_before = len(t._partition_selected(t.latest_version(), {"b": "1"}))
    assert n_b1_before >= 4
    # dv-delete some rows inside the target partition
    t.delete("id = 1", mode="dv")
    v = t.compact(partition_filter={"b": "1"})
    # only b=1 files were touched; every other live file identical
    live_after = set(t.snapshot_files())
    untouched = {
        p for p in live_before
        if "_p_b=1" not in p and _os.path.basename(p) in
        {_os.path.basename(q) for q in live_after}
    }
    assert untouched  # other partitions carried by reference
    # correctness: rows unchanged except the dv-deleted one
    assert t.read().count() == 399
    assert t.read().filter("b = '1'").count() == 99
    # the compacted partition's vector materialized away
    assert t._fold_state(None).dvs == {}
    # pruning still works on the rewritten files
    out, kept, total = t.read_where({"b": ("1", "1")})
    assert out.count() == 99 and kept < total
    # scoping to a missing partition is a no-op
    assert t.compact(partition_filter={"b": "9"}) == v


def test_commit_user_metadata(spark, tmp_path):
    import json as _json

    from replay_spark.lake import LakeTable

    t = LakeTable(spark, str(tmp_path / "um2"))
    t.append(
        spark.range(0, 5),
        user_metadata={"job": "nightly-ingest", "ticket": "DATA-42"},
    )
    t.append(spark.range(5, 10))
    hist = {r["version"]: r["user_metadata"] for r in t.history().collect()}
    assert _json.loads(hist[0]) == {
        "job": "nightly-ingest", "ticket": "DATA-42"
    }
    assert hist[1] is None


def test_auto_compact_small_files(spark, tmp_path):
    from replay_spark.lake import LakeTable

    t = LakeTable(
        spark,
        str(tmp_path / "ac"),
        auto_checkpoint_every=None,
        auto_compact_small_files=4,
    )
    for i in range(6):
        t.append(spark.range(i * 10, i * 10 + 10).coalesce(1))
    # the 5th/6th append crossed the threshold -> a compact commit
    ops = [c["operation"] for c in t._commits()]
    assert "compact" in ops
    assert t.read().count() == 60
    # post-compact live layout is small
    assert len(t.snapshot_files()) < 5


def test_describe_detail(spark, tmp_path):
    from replay_spark.lake import LakeTable

    t = LakeTable(spark, str(tmp_path / "dd"))
    t.append(
        spark.range(0, 100).selectExpr(
            "id", "CAST(id % 2 AS STRING) AS b"
        ),
        partition_by=["b"],
    )
    t.delete("id = 5", mode="dv")
    d = t.detail()
    assert d["version"] == 1 and d["num_files"] >= 2
    assert d["partition_columns"] == ["b"]
    assert d["features"] == ["deletion_vectors"]
    assert d["num_dv_files"] == 1 and d["dv_bytes"] > 0
    assert d["size_bytes"] > 0 and d["checkpoint_version"] is None


def test_to_view_sql_access(spark, tmp_path):
    from replay_spark.lake import LakeTable

    t = LakeTable(spark, str(tmp_path / "tv"))
    t.append(spark.range(0, 10))
    t.delete("id >= 8", mode="dv")
    t.to_view("lake_now")
    t.to_view("lake_v0", version=0)
    assert spark.sql("SELECT COUNT(*) c FROM lake_now").collect()[0].c == 8
    assert spark.sql("SELECT COUNT(*) c FROM lake_v0").collect()[0].c == 10


def test_rewrite_dml_preserves_partition_pruning(spark, tmp_path):
    import pyspark.sql.functions as F

    from replay_spark.lake import LakeTable

    t = LakeTable(spark, str(tmp_path / "rp"), auto_checkpoint_every=None)
    t.append(
        spark.range(0, 200).select(
            "id", (F.col("id") % 4).cast("string").alias("b"),
            (F.col("id") * 2).alias("v"),
        ),
        partition_by=["b"],
    )
    t.delete("id = 5")                       # rewrite-mode
    t.update("id = 6", {"v": "999"})         # rewrite-mode
    t.merge(                                 # one update, one insert
        spark.createDataFrame(
            [(10, "2", 555), (301, "1", 7)], "id long, b string, v long"
        ),
        on=["id"],
    )
    # every live file still carries partition values -> pruning works
    fold = t._fold_state(None)
    live, parts = fold.live, fold.parts
    assert all(parts.get(f, {}).get("b") is not None for f in live)
    out, kept, total = t.read_where({"b": ("2", "2")})
    assert kept < total
    rows = {r["id"]: r["v"] for r in out.collect()}
    assert 5 not in rows and rows[6] == 999 and rows[10] == 555
    assert set(rows) == {i for i in range(200) if i % 4 == 2 and i != 5}


def test_partition_scoped_compact_schema_evolved(spark, tmp_path):
    """ADVICE r12: compact(partition_filter=) on a schema-evolved
    table must merge parquet schemas across eras (like read()),
    else columns present only in some selected files are silently
    dropped from the rewritten files — permanent data loss."""
    t = LakeTable(spark, str(tmp_path / "sec"))
    t.append(
        spark.range(0, 10).select(
            "id", F.lit("1").alias("b"), (F.col("id") * 2).alias("v")
        ),
        partition_by=["b"],
    )
    t.append(
        spark.range(10, 20).select(
            "id",
            F.lit("1").alias("b"),
            (F.col("id") * 2).alias("v"),
            (F.col("id") * 10).alias("extra"),
        ),
        partition_by=["b"],
        merge_schema=True,
    )
    t.compact(partition_filter={"b": "1"})
    got = t.read()
    assert "extra" in got.columns
    assert got.count() == 20
    rows = {r["id"]: r["extra"] for r in got.collect()}
    assert all(rows[i] == i * 10 for i in range(10, 20))
    assert all(rows[i] is None for i in range(10))


@pytest.mark.parametrize("op", ["delete", "update", "merge"])
def test_rewrite_dml_merges_mapped_schema_eras(spark, tmp_path, monkeypatch, op):
    """A row-level rewrite of a column-mapped table whose files span
    schema eras must merge their parquet schemas, like read() does:
    a scan that adopts ONE file's footer aliases the column added
    after the rename to null on every rewritten row (silent loss of
    ``c = 40`` below)."""
    import itertools
    import types

    import replay_spark.lake as lake_mod

    # data dirs named in creation order, so the old-era file lists
    # first — the footer a single-file schema inference adopts
    names = itertools.count()
    monkeypatch.setattr(
        lake_mod, "uuid", types.SimpleNamespace(
            uuid4=lambda: types.SimpleNamespace(hex=f"{next(names):032x}")
        ),
    )
    t = LakeTable(spark, str(tmp_path / "eras"), auto_checkpoint_every=None)
    t.append(
        spark.createDataFrame([(1, "x"), (2, "y")], "a long, b string")
        .coalesce(1)
    )
    t.rename_column("b", "bb")
    t.add_column("c", "int")
    t.append(
        spark.createDataFrame(
            [(3, "z", 30), (4, "w", 40)], "a long, bb string, c int"
        ).coalesce(1)
    )
    if op == "delete":
        t.delete("a in (1, 3)")
        want = {2: ("y", None), 4: ("w", 40)}
    elif op == "update":
        t.update("a in (1, 3)", {"bb": "'u'"})
        want = {1: ("u", None), 2: ("y", None), 3: ("u", 30), 4: ("w", 40)}
    else:
        t.merge(
            spark.createDataFrame(
                [(1, "m", None), (3, "n", 33)], "a long, bb string, c int"
            ),
            on=["a"],
        )
        want = {1: ("m", None), 2: ("y", None), 3: ("n", 33), 4: ("w", 40)}
    assert {r["a"]: (r["bb"], r["c"]) for r in t.read().collect()} == want


def test_rewrite_family_matches_model_on_evolved_partitioned_table(
    spark, tmp_path
):
    """Every rewrite operation over ONE partitioned, renamed and
    schema-evolved table: at every version ``read(version=v)`` equals
    an exact Python model, and every commit records the expected
    operation, add/remove/vector counts and partition values."""
    t = LakeTable(spark, str(tmp_path / "fam"), auto_checkpoint_every=None)
    model = {}  # id -> (b, value, c)
    snaps = []  # per version: (columns, {id: row tuple})

    def snap():
        snaps.append((cols, dict(model)))

    def frame(ids, with_c):
        rows = [
            (i, str(i % 4), i * 10) + ((i % 7,) if with_c else ())
            for i in ids
        ]
        schema = f"id long, b string, {cols[2]} long" + (
            ", c int" if with_c else ""
        )
        return spark.createDataFrame(rows, schema).coalesce(1)

    cols = ["id", "b", "v"]
    for lo in (0, 40):                                         # v0, v1
        t.append(frame(range(lo, lo + 40), False), partition_by=["b"])
        model.update({i: (str(i % 4), i * 10, None) for i in range(lo, lo + 40)})
        snap()
    t.rename_column("v", "vv")                                 # v2
    cols = ["id", "b", "vv"]
    snap()
    t.add_column("c", "int")                                   # v3
    cols = ["id", "b", "vv", "c"]
    snap()
    t.append(frame(range(80, 100), True), partition_by=["b"])  # v4
    model.update({i: (str(i % 4), i * 10, i % 7) for i in range(80, 100)})
    snap()

    def apply(pred, fn):
        for i in [i for i in model if pred(i)]:
            out = fn(model[i])
            if out is None:
                del model[i]
            else:
                model[i] = out

    t.delete("id % 10 = 1")                                    # v5
    apply(lambda i: i % 10 == 1, lambda r: None)
    snap()
    t.delete("id % 10 = 2", mode="dv")                         # v6
    apply(lambda i: i % 10 == 2, lambda r: None)
    snap()
    t.update("id % 10 = 5", {"vv": "vv + 1"})                  # v7
    apply(lambda i: i % 10 == 5, lambda r: (r[0], r[1] + 1, r[2]))
    snap()
    t.update("id % 10 = 6", {"c": "-1"}, mode="dv")            # v8
    apply(lambda i: i % 10 == 6, lambda r: (r[0], r[1], -1))
    snap()
    src = spark.createDataFrame(
        [(3, "3", -3, 5), (8, "0", -8, None), (120, "0", 1, 2), (121, "1", 2, 3)],
        "id long, b string, vv long, c int",
    )
    t.merge(src, on=["id"])                                    # v9
    model.update({r[0]: tuple(r[1:]) for r in src.collect()})
    snap()
    t.compact(partition_filter={"b": "1"})                     # v10
    snap()
    t.compact_small_files()                                    # v11
    snap()
    t.optimize(zorder_by=["id", "vv"])                         # v12
    snap()
    t.delete("id = 0", mode="dv")                              # v13
    del model[0]
    snap()
    t.compact()                                                # v14
    snap()

    assert t.latest_version() == len(snaps) - 1
    for v, (want_cols, want) in enumerate(snaps):
        df = t.read(version=v)
        assert df.columns == want_cols, v
        got = {
            r["id"]: (
                r["b"], r[want_cols[2]], r["c"] if "c" in want_cols else None
            )
            for r in df.collect()
        }
        assert got == want, v
        # the pruned reader, with open bounds, is the same read
        pruned, _, _ = t.read_where({"id": (None, None)}, version=v)
        assert pruned.schema == df.schema, v
        assert sorted(pruned.collect()) == sorted(df.collect()), v

    expected = [
        # (operation, n_add, n_remove, n_dv, partition values of the adds)
        ("append", 4, 0, 0, ["0", "1", "2", "3"]),
        ("append", 4, 0, 0, ["0", "1", "2", "3"]),
        ("rename_column", 0, 0, 0, []),
        ("add_column", 0, 0, 0, []),
        ("append", 4, 0, 0, ["0", "1", "2", "3"]),
        # odd ids live in b=1/b=3: their six files rewritten into two
        ("delete", 2, 6, 0, ["1", "3"]),
        # even ids: the six b=0/b=2 files get vectors, none rewritten
        ("delete", 0, 0, 6, []),
        ("update", 2, 2, 0, ["1", "3"]),
        # new row versions land partitioned; old ones dv-deleted
        ("update", 2, 0, 6, ["0", "2"]),
        # rewrites the files holding ids 3 and 8, inserts b=0/b=1 rows
        ("merge", 3, 2, 0, ["0", "1", "3"]),
        ("compact", 1, 2, 0, ["1"]),
        # small files of b=0 and b=2 (four each); b=1/b=3 are singletons
        ("compact", 2, 8, 0, ["0", "2"]),
        ("optimize", 4, 4, 0, ["0", "1", "2", "3"]),
        ("delete", 0, 0, 1, []),
        ("compact", 4, 4, 0, ["0", "1", "2", "3"]),
    ]
    got = []
    for c in t._commits():
        parts = c.get("parts") or {}
        got.append((
            c["operation"], len(c["add"]), len(c["remove"]),
            len(c.get("dv") or {}),
            sorted((parts.get(f) or {}).get("b") for f in c["add"]),
        ))
    assert got == expected


def _ab_table(spark, path):
    """``append(a long, b string)``: rows (1, 'x') and (2, 'y')."""
    t = LakeTable(spark, path, auto_checkpoint_every=None)
    t.append(spark.createDataFrame([(1, "x"), (2, "y")], "a long, b string"))
    return t


def test_merge_schema_append_keeps_table_columns(spark, tmp_path):
    """A merge-schema append whose batch lacks a table column keeps
    the column: an update then rewrites its rows with ``b`` intact,
    and read() and read_where() report the same columns."""
    t = _ab_table(spark, str(tmp_path / "keep"))
    t.append(spark.createDataFrame([(3,)], "a long"), merge_schema=True)
    fields = json.loads(t._fold_state(None).schema_json)["fields"]
    assert [(f["name"], f["nullable"]) for f in fields] == [
        ("a", True), ("b", True),
    ]
    t.update("a = 1", {"a": "10"})
    assert sorted(tuple(r) for r in t.read().collect()) == [
        (2, "y"), (3, None), (10, "x"),
    ]
    assert t.read().columns == ["a", "b"]
    pruned, _, _ = t.read_where({"a": (0, 9)})
    assert pruned.columns == ["a", "b"]
    assert sorted(tuple(r) for r in pruned.collect()) == [(2, "y"), (3, None)]


def test_merge_schema_reordered_era_rewrites_and_feeds(spark, tmp_path):
    """``append(b, a, c, merge_schema=True)`` over ``(a, b)``: the
    table records ``(a, b, c)``; an update touching only old-era
    files keeps ``c`` (null), and the change feed puts ``c`` before
    its own two columns."""
    t = _ab_table(spark, str(tmp_path / "reorder"))
    t.append(
        spark.createDataFrame([("z", 3, 7)], "b string, a long, c long"),
        merge_schema=True,
    )
    assert t.read().columns == ["a", "b", "c"]
    t.update("a = 1", {"b": "'q'"})
    assert sorted(tuple(r) for r in t.read().collect()) == [
        (1, "q", None), (2, "y", None), (3, "z", 7),
    ]
    feed = t.changes(-1)
    assert feed.columns == ["a", "b", "c", "_change_type", "_commit_version"]
    assert sorted(tuple(r) for r in feed.filter("_commit_version = 1").collect()) == [
        (3, "z", 7, "insert", 1),
    ]


def test_merge_schema_append_refuses_type_change(spark, tmp_path):
    """Changing an existing column's type is not additive evolution:
    the append raises and commits nothing."""
    t = LakeTable(spark, str(tmp_path / "retype"), auto_checkpoint_every=None)
    t.append(spark.createDataFrame([(1,)], "a int"))
    with pytest.raises(ValueError, match="'a'"):
        t.append(spark.createDataFrame([(2,)], "a bigint"), merge_schema=True)
    assert t.latest_version() == 0
    assert [tuple(r) for r in t.read().collect()] == [(1,)]


# measured on the test session: the plan reads no footer and a
# rewrite delete runs 3 jobs (1 and 5 with footer inference)
READ_PLAN_JOB_BOUND = 0
DELETE_JOB_BOUND = 3


def test_lake_read_and_delete_job_counts(spark, spark_work, tmp_path):
    """On a renamed + added-column table, read() builds its plan with
    no Spark job (every file is read with the recorded schema) and a
    rewrite delete stays within its job budget."""
    t = LakeTable(spark, str(tmp_path / "jobs"), auto_checkpoint_every=None)
    t.append(spark.range(20).selectExpr("id", "id * 10 AS v"))
    t.rename_column("v", "vv")
    t.add_column("c", "int")
    t.append(
        spark.range(20, 30).selectExpr(
            "id", "id * 10 AS vv", "CAST(id % 3 AS INT) AS c"
        )
    )
    df, n, _ = spark_work(t.read)
    assert n <= READ_PLAN_JOB_BOUND, n
    assert df.count() == 30
    _, n, _ = spark_work(lambda: t.delete("id = 3"))
    assert n <= DELETE_JOB_BOUND, n
    assert t.read().filter("id = 3").count() == 0


def test_checkpoint_semantic_idempotence(spark, tmp_path):
    """ADVICE r12: two writers folding the same version from
    different checkpoint bases can produce byte-different but
    semantically equal JSON (list/dict ordering) — checkpoint()
    compares parsed payloads, raising only on REAL divergence."""
    import json as _json

    t = LakeTable(spark, str(tmp_path / "ckse"), auto_checkpoint_every=None)
    t.append(spark.range(0, 5).select("id", (F.col("id") * 2).alias("v")))
    t.append(spark.range(5, 9).select("id", (F.col("id") * 2).alias("v")))
    v = t.checkpoint()
    name = os.path.join(t._log_dir, f"_checkpoint_{v:010d}.json")
    with open(name) as fh:
        payload = _json.load(fh)
    assert len(payload["live"]) >= 2
    reordered = dict(payload)
    reordered["live"] = list(reversed(payload["live"]))
    with open(name, "w") as fh:
        fh.write(_json.dumps(reordered))
    assert t.checkpoint() == v  # byte-different, semantically equal
    # REAL corruption still refuses: a filename/content version
    # mismatch makes the recomputed fold genuinely diverge (a
    # self-consistent edit would just become the new fold base)
    corrupted = dict(payload)
    corrupted["version"] = v - 1
    with open(name, "w") as fh:
        fh.write(_json.dumps(corrupted))
    with pytest.raises(ConcurrentWriteError):
        t.checkpoint()


def test_checkpoint_with_schema_set_still_loads(spark, tmp_path):
    """Older checkpoints also carry a distinct-schema set; new ones
    omit it. An old one still folds, and still compares equal to the
    payload this version writes."""
    t = LakeTable(spark, str(tmp_path / "old"), auto_checkpoint_every=None)
    t.append(spark.range(0, 5).selectExpr("id"))
    v = t.checkpoint()
    name = os.path.join(t._log_dir, f"_checkpoint_{v:010d}.json")
    with open(name) as fh:
        payload = json.load(fh)
    assert "schemas" not in payload
    payload["schemas"] = [payload["schema"]]
    with open(name, "w") as fh:
        fh.write(json.dumps(payload))
    assert t.checkpoint() == v
    t.append(spark.range(5, 8).selectExpr("id"))
    assert sorted(r["id"] for r in t.read().collect()) == list(range(8))


def test_check_constraints_stored_and_enforced(spark, tmp_path):
    """Delta-style CHECK constraints live in the log: every writer
    enforces them, NULL satisfies (SQL semantics), drop lifts."""
    t = LakeTable(spark, str(tmp_path / "cc"))
    t.append(spark.range(0, 20).selectExpr("id", "id * 2 AS v"))
    v = t.add_constraint("v_nonneg", "v >= 0")
    assert t.table_constraints() == {"v_nonneg": "v >= 0"}
    assert t.detail()["constraints"] == {"v_nonneg": "v >= 0"}
    # violating append rejected, nothing committed
    with pytest.raises(ValueError, match="v_nonneg"):
        t.append(spark.range(20, 25).selectExpr("id", "-id AS v"))
    assert t.latest_version() == v
    # satisfying append (incl. NULLs — SQL CHECK semantics) passes
    t.append(
        spark.range(20, 25).selectExpr(
            "id", "CASE WHEN id = 22 THEN NULL ELSE id * 2 END AS v"
        )
    )
    assert t.read().count() == 25
    # a second writer handle enforces too (the point of storing it)
    t2 = LakeTable(spark, str(tmp_path / "cc"))
    with pytest.raises(ValueError, match="v_nonneg"):
        t2.append(spark.range(0, 1).selectExpr("id", "-5 AS v"))
    # UPDATE assignments are checked (both modes)
    with pytest.raises(ValueError, match="v_nonneg"):
        t.update("id = 3", {"v": "-1"}, mode="dv")
    with pytest.raises(ValueError, match="v_nonneg"):
        t.update("id = 3", {"v": "-1"})
    # drop lifts enforcement
    t.drop_constraint("v_nonneg")
    t.append(spark.range(30, 31).selectExpr("id", "-id AS v"))
    assert t.table_constraints() == {}


def test_add_constraint_validates_existing_rows(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "ccv"))
    t.append(spark.range(0, 10).selectExpr("id", "id - 5 AS v"))
    base = t.latest_version()
    with pytest.raises(ValueError, match="existing rows violate"):
        t.add_constraint("v_nonneg", "v >= 0")
    assert t.latest_version() == base  # nothing committed
    t.add_constraint("v_bounded", "v < 100")  # existing data passes
    assert "v_bounded" in t.table_constraints()


def test_constraints_survive_checkpoint_and_clone(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "ccc"), auto_checkpoint_every=None)
    t.append(spark.range(0, 10).selectExpr("id", "id * 2 AS v"))
    t.add_constraint("v_nonneg", "v >= 0")
    t.checkpoint()
    t.append(spark.range(10, 15).selectExpr("id", "id * 2 AS v"))
    fresh = LakeTable(spark, str(tmp_path / "ccc"))
    assert fresh.table_constraints() == {"v_nonneg": "v >= 0"}
    with pytest.raises(ValueError, match="v_nonneg"):
        fresh.append(spark.range(0, 1).selectExpr("id", "-1 AS v"))
    clone = t.clone(str(tmp_path / "ccc_clone"))
    assert clone.table_constraints() == {"v_nonneg": "v >= 0"}
    with pytest.raises(ValueError, match="v_nonneg"):
        clone.append(spark.range(0, 1).selectExpr("id", "-1 AS v"))


def test_merge_checks_constraints(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "ccm"))
    t.append(spark.range(0, 10).selectExpr("id AS k", "id * 2 AS v"))
    t.add_constraint("v_nonneg", "v >= 0")
    src = spark.range(5, 12).selectExpr("id AS k", "-1 AS v")
    with pytest.raises(ValueError, match="v_nonneg"):
        t.merge(src, on=["k"])
    ok = spark.range(5, 12).selectExpr("id AS k", "id * 3 AS v")
    t.merge(ok, on=["k"])
    assert t.read().count() == 12


def test_partition_scoped_zorder_optimize(spark, tmp_path):
    """OPTIMIZE ... WHERE ... ZORDER BY: the hot partition's files
    rewrite range-clustered on the z-key; other partitions carry by
    reference untouched, partition metadata survives."""
    t = LakeTable(spark, str(tmp_path / "zw"), auto_checkpoint_every=None)
    t.append(
        spark.range(0, 20000).select(
            "id",
            (F.col("id") % 2).cast("string").alias("b"),
            (F.col("id") * 7 % 1000).alias("x"),
            (F.col("id") * 13 % 1000).alias("y"),
        ),
        partition_by=["b"],
    )
    before = set(t._fold_state(None).live)
    other_before = {f for f in before if "/b=0/" in f or "b=0" in f}
    t.optimize(
        zorder_by=["x", "y"],
        target_file_bytes=24 * 1024,
        partition_filter={"b": "1"},
    )
    after = set(t._fold_state(None).live)
    # untouched partition's files carried by reference
    assert other_before <= after
    # rows preserved exactly
    got = t.read()
    assert got.count() == 20000
    assert got.agg(F.sum("x")).collect()[0][0] == sum(
        i * 7 % 1000 for i in range(20000)
    )
    # partition metadata survives on the rewritten files
    assert t._partition_columns() == ["b"]
    # z-clustering narrows per-file x-ranges: with the scoped files
    # range-partitioned on the Morton key, at least one rewritten
    # file must NOT span the full x domain
    import pyarrow.parquet as pq

    new_files = sorted(after - before)
    assert len(new_files) >= 2  # multiple target-sized files

    def x_range(rel):
        md = pq.read_metadata(os.path.join(t.path, rel))
        mins, maxs = [], []
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for j in range(rg.num_columns):
                col = rg.column(j)
                if col.path_in_schema == "x":
                    mins.append(col.statistics.min)
                    maxs.append(col.statistics.max)
        return min(mins), max(maxs)

    spans = [x_range(rel) for rel in new_files]
    # z-clustering: at least one rewritten file covers a PROPER
    # subrange of the full x domain (0..999), so footer stats can
    # skip it on a box query
    assert any(hi - lo < 900 for lo, hi in spans), spans


def test_history_operation_metrics(spark, tmp_path):
    """Commits carry Delta-style operation metrics (cheap O(add)
    driver stats) surfaced by history() — 'which commit wrote the
    bytes' answers from metadata alone."""
    t = LakeTable(spark, str(tmp_path / "om"))
    t.append(spark.range(0, 50).selectExpr("id", "id * 2 AS v"))
    t.delete("id % 10 = 3", mode="dv")
    hist = {r.version: r for r in t.history().collect()}
    assert hist[0].added_bytes > 0 and hist[0].n_added >= 1
    assert hist[0].num_dv_files == 0
    assert hist[1].num_dv_files >= 1
    assert hist[1].n_added == 0 and hist[1].added_bytes == 0


def test_generated_columns_fill_and_validate(spark, tmp_path):
    """GENERATED ALWAYS AS: omitted -> computed on write; supplied ->
    validated (NULL-safe); partition_by on the generated column keeps
    log pruning working — the derive-a-date use case."""
    t = LakeTable(spark, str(tmp_path / "gen"))
    t.append(
        spark.range(0, 40).selectExpr(
            "id", "id * 2 AS v", "CAST(id % 4 AS STRING) AS bucket"
        )
    )
    t.set_generated_column("bucket", "CAST(id % 4 AS STRING)")
    assert t.generated_columns() == {"bucket": "CAST(id % 4 AS STRING)"}
    assert t.detail()["generated_columns"]
    # writer omits the column: computed
    t.append(spark.range(40, 60).selectExpr("id", "id * 2 AS v"))
    rows = {r["id"]: r["bucket"] for r in t.read().collect()}
    assert len(rows) == 60
    assert all(rows[i] == str(i % 4) for i in range(60))
    # writer supplies WRONG values: rejected, nothing committed
    pre = t.latest_version()
    with pytest.raises(ValueError, match="generated-column mismatch"):
        t.append(
            spark.range(60, 70).selectExpr(
                "id", "id * 2 AS v", "'9' AS bucket"
            )
        )
    assert t.latest_version() == pre
    # supplying CORRECT values passes
    t.append(
        spark.range(60, 70).selectExpr(
            "id", "id * 2 AS v", "CAST(id % 4 AS STRING) AS bucket"
        )
    )
    assert t.read().count() == 70
    # update that would break the invariant is rejected (both modes)
    with pytest.raises(ValueError, match="generated-column mismatch"):
        t.update("id = 3", {"bucket": "'7'"}, mode="dv")
    with pytest.raises(ValueError, match="generated-column mismatch"):
        t.update("id = 3", {"bucket": "'7'"})
    # dropping the rule lifts enforcement
    t.drop_generated_column("bucket")
    t.append(
        spark.range(70, 72).selectExpr("id", "id * 2 AS v", "'9' AS bucket")
    )
    assert t.generated_columns() == {}


def test_generated_columns_mixed_supplied_and_omitted(spark, tmp_path):
    """Two generation rules; a writer supplies one column and omits
    the other in a single append. The validation report must only
    index the SUPPLIED columns (the fill loop adds the omitted one to
    df.columns before the report is built) — a valid append commits,
    an invalid one names only the offending supplied column."""
    t = LakeTable(spark, str(tmp_path / "genmix"))
    t.append(
        spark.range(0, 20).selectExpr(
            "id",
            "CAST(id % 3 AS STRING) AS b",
            "id * 2 AS dbl",
        )
    )
    t.set_generated_column("b", "CAST(id % 3 AS STRING)")
    t.set_generated_column("dbl", "id * 2")
    # supplies b (correct), omits dbl: must commit, dbl filled
    t.append(
        spark.range(20, 30).selectExpr("id", "CAST(id % 3 AS STRING) AS b")
    )
    rows = {r["id"]: (r["b"], r["dbl"]) for r in t.read().collect()}
    assert len(rows) == 30
    assert all(rows[i] == (str(i % 3), i * 2) for i in range(30))
    # supplies b (WRONG), omits dbl: rejected, message names only b
    pre = t.latest_version()
    with pytest.raises(ValueError, match="generated-column mismatch") as ei:
        t.append(spark.range(30, 35).selectExpr("id", "'9' AS b"))
    assert "b != " in str(ei.value) and "dbl" not in str(ei.value)
    assert t.latest_version() == pre


def test_set_generated_column_validates_existing(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "genv"))
    t.append(
        spark.range(0, 10).selectExpr("id", "CAST(id AS STRING) AS b")
    )
    with pytest.raises(ValueError, match="existing rows"):
        t.set_generated_column("b", "CAST(id + 1 AS STRING)")
    with pytest.raises(ValueError, match="must already exist"):
        t.set_generated_column("nope", "id")


def test_generated_column_partitioned_append(spark, tmp_path):
    """Writers omit the partition column entirely; the rule computes
    it and partition_by records per-file values for log pruning."""
    t = LakeTable(spark, str(tmp_path / "genp"))
    t.append(
        spark.range(0, 40).selectExpr(
            "id", "id * 2 AS v", "CAST(id % 2 AS STRING) AS b"
        ),
        partition_by=["b"],
    )
    t.set_generated_column("b", "CAST(id % 2 AS STRING)")
    t.append(
        spark.range(40, 80).selectExpr("id", "id * 2 AS v"),
        partition_by=["b"],
    )
    assert t._partition_columns() == ["b"]
    out, kept, total = t.read_where({"b": ("1", "1")})
    assert kept < total
    assert sorted(r["id"] for r in out.collect()) == [
        i for i in range(80) if i % 2 == 1
    ]


def test_generated_columns_survive_checkpoint_and_clone(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "genc"), auto_checkpoint_every=None)
    t.append(
        spark.range(0, 10).selectExpr("id", "CAST(id % 3 AS STRING) AS g")
    )
    t.set_generated_column("g", "CAST(id % 3 AS STRING)")
    t.checkpoint()
    fresh = LakeTable(spark, str(tmp_path / "genc"))
    assert fresh.generated_columns() == {"g": "CAST(id % 3 AS STRING)"}
    fresh.append(spark.range(10, 14).selectExpr("id"))
    assert fresh.read().filter("g IS NULL").count() == 0
    clone = t.clone(str(tmp_path / "genc_clone"))
    assert clone.generated_columns() == {"g": "CAST(id % 3 AS STRING)"}


def test_compact_small_files_leaves_big_files_alone(spark, tmp_path):
    """Delta OPTIMIZE semantics: bin-pack only the small-file tail;
    a healthy file carries by reference, untouched — the maintenance
    move that stays cheap at scale."""
    t = LakeTable(spark, str(tmp_path / "csf"), auto_checkpoint_every=None)
    # one "big" file (relative to the tiny threshold we pass below)
    t.append(spark.range(0, 5000).selectExpr("id", "id * 2 AS v").coalesce(1))
    big = set(t.snapshot_files())
    assert len(big) == 1
    for i in range(4):
        t.append(
            spark.range(5000 + i * 10, 5010 + i * 10).selectExpr(
                "id", "id * 2 AS v"
            ).coalesce(1)
        )
    pre = t.latest_version()
    threshold = os.path.getsize(next(iter(big)))  # small = below big
    v = t.compact_small_files(small_file_bytes=threshold)
    assert v == pre + 1
    after = set(t.snapshot_files())
    assert big <= after, "the big file must carry by reference"
    assert len(after) == 2  # big + one packed file
    assert t.read().count() == 5040
    assert sorted(r["id"] for r in t.read().collect()) == list(range(5040))
    # idempotent: nothing left to pack
    assert t.compact_small_files(small_file_bytes=threshold) == v


def test_compact_small_files_partition_grouped_and_dv_aware(spark, tmp_path):
    """Small files pack WITHIN their partition value (log pruning
    survives via re-recorded partition metadata) and the rewrite
    materializes deletion vectors away for the packed files."""
    t = LakeTable(spark, str(tmp_path / "csfp"), auto_checkpoint_every=None)
    for i in range(3):
        t.append(
            spark.range(i * 20, (i + 1) * 20).selectExpr(
                "id", "CAST(id % 2 AS STRING) AS b"
            ),
            partition_by=["b"],
        )
    t.delete("id = 7", mode="dv")
    assert t.detail()["num_dv_files"] >= 1
    v = t.compact_small_files(small_file_bytes=10 * 1024 * 1024)
    assert v == t.latest_version()
    # partition pruning still works on the packed layout
    out, kept, total = t.read_where({"b": ("1", "1")})
    assert kept < total
    assert sorted(r["id"] for r in out.collect()) == [
        i for i in range(60) if i % 2 == 1 and i != 7
    ]
    # all small files were packed per partition: 2 files remain and
    # the dv died with its rewritten file
    assert len(t.snapshot_files()) == 2
    assert t.detail()["num_dv_files"] == 0
    assert t.read().count() == 59


def test_compact_small_files_many_partition_groups_concurrent(
    spark, tmp_path
):
    """r14 finding: group writes submit through a bounded thread
    pool instead of one serial Spark job per partition value. Over
    ~50 partition values the packed result must be exactly what the
    serial loop produced: same survivors, per-value single packed
    file, partition metadata re-recorded (pruning works), one
    atomic commit."""
    t = LakeTable(spark, str(tmp_path / "many"), auto_checkpoint_every=None)
    n_vals = 50
    for batch in range(2):  # 2 small files per partition value
        t.append(
            spark.range(batch * 500, (batch + 1) * 500).selectExpr(
                "id", f"CAST(id % {n_vals} AS STRING) AS b"
            ),
            partition_by=["b"],
        )
    pre_files = len(t.snapshot_files())
    assert pre_files >= 2 * n_vals  # several small files per value
    pre_version = t.latest_version()
    v = t.compact_small_files(small_file_bytes=10 * 1024 * 1024)
    # ONE commit
    assert v == pre_version + 1 == t.latest_version()
    # each value's small files packed into 1
    assert len(t.snapshot_files()) == n_vals
    # rows intact
    assert sorted(r["id"] for r in t.read().collect()) == list(range(1000))
    # partition metadata re-recorded: log pruning still works
    out, kept, total = t.read_where({"b": ("7", "7")})
    assert kept == 1 and total == n_vals
    assert sorted(r["id"] for r in out.collect()) == [
        i for i in range(1000) if i % n_vals == 7
    ]
    # idempotent: nothing left to pack
    assert t.compact_small_files(small_file_bytes=10 * 1024 * 1024) == v


def test_additive_evolved_read(spark, tmp_path):
    """Two additive schema eras read with the table's recorded
    schema: the older files null-fill the appended column by name."""
    t = LakeTable(spark, str(tmp_path / "u"))
    t.append(spark.range(3).select(F.col("id").alias("a")))
    t.append(
        spark.range(2).select(
            F.col("id").alias("a"), F.lit("x").alias("b")
        ),
        merge_schema=True,
    )
    got = {
        (r["a"], r["b"]) for r in t.read().collect()
    }
    assert got == {(0, None), (1, None), (2, None), (0, "x"), (1, "x")}


def test_nullable_era_keeps_nulls(spark, tmp_path):
    """An append without merge_schema checks names and types only, so
    an older era may hold nulls the latest (non-nullable) schema rules
    out: the read keeps them and reports every column nullable. A
    stricter era reads the same way under a looser latest schema."""
    t = LakeTable(spark, str(tmp_path / "n"))
    t.append(spark.createDataFrame([(1, "x"), (2, None)], "a long, b string"))
    t.append(spark.range(3, 5).select(F.col("id").alias("a"), F.lit("y").alias("b")))
    schema_json = t._fold_state(t.latest_version()).schema_json
    latest = {f["name"]: f["nullable"] for f in json.loads(schema_json)["fields"]}
    assert latest == {"a": False, "b": False}
    got = t.read()
    assert all(f.nullable for f in got.schema.fields)
    assert sorted(got.collect(), key=lambda r: r["a"]) == [
        (1, "x"), (2, None), (3, "y"), (4, "y"),
    ]

    strict = LakeTable(spark, str(tmp_path / "s"))
    strict.append(spark.range(2).select(F.col("id").alias("a")))
    strict.append(spark.createDataFrame([(5,)], "a long"))
    got = strict.read()
    assert all(f.nullable for f in got.schema.fields)
    assert sorted(r["a"] for r in got.collect()) == [0, 1, 5]
