"""Deletion vectors (merge-on-read row-level deletes): read paths,
history interplay (time travel / restore / CDF), rewrite
materialization, retention GC, clone/replicate carry."""

import os

import pyspark.sql.functions as F
import pytest

from replay_spark.lake import LakeTable


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.append(
        spark.range(0, 100).withColumn("v", F.col("id") * 2).repartition(4)
    )
    return t


def test_dv_delete_basic(table):
    v1 = table.delete("id % 10 = 3", mode="dv")
    assert table.read().count() == 90
    assert table.read().filter("id % 10 = 3").count() == 0
    # no data file was rewritten
    c = [x for x in table._commits() if x["version"] == v1][0]
    assert c["add"] == [] and c["remove"] == []
    assert len(c["dv"]) >= 1
    # full row content intact for survivors
    got = table.read().agg(F.sum("v")).collect()[0][0]
    assert got == sum(2 * i for i in range(100) if i % 10 != 3)


def test_dv_second_delete_merges_pointers(table):
    table.delete("id % 10 = 3", mode="dv")
    table.delete("id < 5", mode="dv")
    assert table.read().count() == 86
    dvs = table._fold_state(None).dvs
    # every touched file points at ONE sidecar holding its whole
    # vector
    for f in dvs:
        pairs = table._dv_rows(dvs, [f])
        assert pairs.count() >= 1


def test_dv_time_travel(table):
    v1 = table.delete("id % 10 = 3", mode="dv")
    v2 = table.delete("id < 5", mode="dv")
    assert table.read(version=0).count() == 100
    assert table.read(version=v1).count() == 90
    assert table.read(version=v2).count() == 86


def test_dv_rewrite_delete_respects_vectors(table):
    table.delete("id = 93", mode="dv")
    table.delete("id >= 90", mode="rewrite")
    assert table.read().count() == 90
    dvs = table._fold_state(None).dvs
    assert dvs == {}  # touched file rewritten, pointer popped


def test_dv_compact_materializes(table):
    table.delete("id % 2 = 0", mode="dv")
    table.compact()
    assert table._fold_state(None).dvs == {}
    assert table.read().count() == 50
    assert table.read().filter("id % 2 = 0").count() == 0


def test_dv_checkpoint_carries_vectors(table):
    table.delete("id = 7", mode="dv")
    table.checkpoint()
    table.append(
        table.spark.range(100, 110).withColumn("v", F.lit(0).cast("long"))
    )
    assert table.read().count() == 109
    assert table.read().filter("id = 7").count() == 0


def test_dv_read_where_applies_vectors(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "w"))
    t.append(
        spark.range(0, 100)
        .withColumn("bucket", (F.col("id") % 4).cast("string"))
        .withColumn("v", F.col("id") * 2),
        partition_by=["bucket"],
    )
    t.delete("id % 10 = 1", mode="dv")
    df, kept, total = t.read_where({"bucket": ("1", "1")})
    rows = df.collect()
    ids = sorted(r["id"] for r in rows)
    assert ids == [i for i in range(100) if i % 4 == 1 and i % 10 != 1]
    assert kept <= total


def test_dv_cdf_reports_deletes_once(table):
    v1 = table.delete("id % 10 = 3", mode="dv")
    feed = table.changes(0)
    dels = feed.filter("_change_type = 'delete'")
    assert dels.count() == 10
    assert set(r["_commit_version"] for r in dels.collect()) == {v1}
    # rewrite touching the same file afterwards must not re-report
    v2 = table.delete("id >= 90", mode="rewrite")
    feed2 = table.changes(v1)
    dels2 = feed2.filter("_change_type = 'delete'").collect()
    ids2 = sorted(r["id"] for r in dels2)
    assert ids2 == [90, 91, 92, 94, 95, 96, 97, 98, 99]
    assert all(r["_commit_version"] == v2 for r in dels2)


def test_dv_restore_undeletes_and_cdf_inserts(table):
    v1 = table.delete("id % 10 = 3", mode="dv")
    v2 = table.restore(0)
    assert table.read().count() == 100
    assert table._fold_state(None).dvs == {}
    feed = table.changes(v1)
    ins = feed.filter("_change_type = 'insert'").collect()
    assert sorted(r["id"] for r in ins) == [i for i in range(100) if i % 10 == 3]
    assert all(r["_commit_version"] == v2 for r in ins)
    # restore BACK to the deleted era re-applies the vector
    table.restore(v1)
    assert table.read().count() == 90


def test_dv_vacuum_gc_keeps_referenced_sidecars(table):
    table.delete("id = 1", mode="dv")
    table.delete("id = 2", mode="dv")  # replaces pointers per file
    # orphan-only vacuum never deletes a commit-referenced sidecar
    doomed = table.vacuum()
    assert all(not d.startswith("_dv") for d in doomed)
    # retention vacuum: compact first so no version >= h references
    # the sidecars, then they go
    table.compact()
    latest = table.latest_version()
    doomed = table.vacuum(horizon_version=latest)
    gone_dvs = [d for d in doomed if d.startswith("_dv")]
    assert len(gone_dvs) == 2
    assert not os.path.isdir(os.path.join(table.path, "_dv")) or not os.listdir(
        os.path.join(table.path, "_dv")
    )
    assert table.read().count() == 98


def test_dv_shallow_clone_carries_vectors(spark, table, tmp_path):
    table.delete("id % 10 = 3", mode="dv")
    c = table.clone(str(tmp_path / "c"))
    assert c.read().count() == 90
    assert c.read().filter("id % 10 = 3").count() == 0
    # clone can dv-delete further without affecting the source
    c.delete("id = 0", mode="dv")
    assert c.read().count() == 89
    assert table.read().count() == 90


def test_dv_deep_clone_refuses(table, tmp_path):
    table.delete("id = 1", mode="dv")
    with pytest.raises(ValueError, match="deletion"):
        table.clone(str(tmp_path / "d"), deep=True)


def test_dv_replicate_copies_sidecars(spark, table, tmp_path):
    table.delete("id % 10 = 3", mode="dv")
    dest = str(tmp_path / "r")
    table.replicate(dest)
    r = LakeTable(spark, dest)
    assert r.read().count() == 90
    assert r.read().filter("id % 10 = 3").count() == 0


def test_dv_merge_respects_vectors(spark, table):
    table.delete("id = 5", mode="dv")
    src = spark.createDataFrame(
        [(5, 999), (200, 400)], "id long, v long"
    )
    table.merge(src, on=["id"])
    out = {r["id"]: r["v"] for r in table.read().collect()}
    # id=5 was dv-deleted; merge re-inserts it as not-matched
    assert out[5] == 999 and out[200] == 400
    assert table.read().count() == 101


def test_dv_on_column_mapped_table(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "m"))
    t.append(spark.range(0, 20).withColumn("v", F.col("id") * 3))
    t.rename_column("v", "w")
    t.delete("w >= 30", mode="dv")
    got = sorted(r["w"] for r in t.read().collect())
    assert got == [3 * i for i in range(10)]
    assert "w" in t.read().columns


def test_update_rewrite(table):
    v = table.update("id % 10 = 4", {"v": "v + 1000"})
    rows = {r["id"]: r["v"] for r in table.read().collect()}
    for i in range(100):
        assert rows[i] == 2 * i + (1000 if i % 10 == 4 else 0)
    assert table.read().count() == 100
    # time travel pre-update
    assert {r["id"]: r["v"] for r in table.read(version=v - 1).collect()}[4] == 8
    # unknown column is loud
    import pytest as _pt
    with _pt.raises(ValueError, match="unknown"):
        table.update("id = 1", {"nope": "1"})


def test_update_dv_one_atomic_commit(table):
    v = table.update("id % 10 = 4", {"v": "v + 1000"}, mode="dv")
    c = [x for x in table._commits() if x["version"] == v][0]
    assert c["operation"] == "update"
    assert c["add"] and not c["remove"] and c.get("dv")
    rows = {r["id"]: r["v"] for r in table.read().collect()}
    assert table.read().count() == 100
    for i in range(100):
        assert rows[i] == 2 * i + (1000 if i % 10 == 4 else 0)
    # CDF: old versions delete, new versions insert, same commit
    feed = table.changes(v - 1, v)
    dels = feed.filter("_change_type = 'delete'").collect()
    ins = feed.filter("_change_type = 'insert'").collect()
    assert sorted(r["id"] for r in dels) == [i for i in range(100) if i % 10 == 4]
    assert sorted(r["v"] for r in ins) == sorted(
        2 * i + 1000 for i in range(100) if i % 10 == 4
    )
    # stacking: dv update then dv delete of an updated row
    table.delete("id = 14", mode="dv")
    assert table.read().count() == 99
    assert table.read().filter("id = 14").count() == 0


def test_update_dv_on_mapped_table(spark, tmp_path):
    import pyspark.sql.functions as F

    from replay_spark.lake import LakeTable

    t = LakeTable(spark, str(tmp_path / "um"))
    t.append(spark.range(0, 30).withColumn("v", F.col("id") * 2))
    t.rename_column("v", "w")
    t.update("w >= 40", {"w": "w * 10"}, mode="dv")
    rows = {r["id"]: r["w"] for r in t.read().collect()}
    for i in range(30):
        assert rows[i] == (2 * i * 10 if 2 * i >= 40 else 2 * i)


def test_update_no_match_is_noop(table):
    before = table.latest_version()
    assert table.update("id = -1", {"v": "0"}, mode="dv") == before
    assert table.update("id = -1", {"v": "0"}) == before


from hypothesis import HealthCheck, given, settings, strategies as st


@st.composite
def _dv_ops(draw):
    """A random interleaving of table operations."""
    ops = []
    n = draw(st.integers(min_value=3, max_value=7))
    for _ in range(n):
        kind = draw(st.sampled_from(
            ["append", "dv_delete", "rw_delete", "update_dv", "restore",
             "compact"]
        ))
        if kind == "append":
            lo = draw(st.integers(min_value=0, max_value=900))
            ops.append(("append", lo, lo + draw(
                st.integers(min_value=5, max_value=60))))
        elif kind in ("dv_delete", "rw_delete"):
            ops.append((kind, draw(st.integers(min_value=2, max_value=9))))
        elif kind == "update_dv":
            ops.append((kind, draw(st.integers(min_value=2, max_value=9))))
        elif kind == "restore":
            ops.append(("restore", draw(st.floats(min_value=0.0,
                                                  max_value=1.0))))
        else:
            ops.append(("compact",))
    return ops


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_dv_ops())
def test_dv_fold_matches_python_model(spark, tmp_path_factory, ops):
    """Model-based invariant: after ANY interleaving of append /
    dv-delete / rewrite-delete / dv-update / restore / compact, every
    version's read() equals a plain-Python replay of the same ops —
    the whole DV fold (pointer replacement, rewrite pops, restore
    re-points, compaction materialization) against one oracle."""
    import pyspark.sql.functions as F

    from replay_spark.lake import LakeTable

    path = str(tmp_path_factory.mktemp("dvprop") / "t")
    t = LakeTable(spark, path, auto_checkpoint_every=3)
    t.append(spark.range(0, 50).withColumn("v", F.col("id")))
    model = {i: i for i in range(50)}          # id -> v
    snapshots = {0: dict(model)}

    for op in ops:
        if op[0] == "append":
            _, lo, hi = op
            lo, hi = lo + 1000, hi + 1000      # fresh ids
            t.append(
                spark.range(lo, hi).withColumn("v", F.col("id"))
            )
            model.update({i: i for i in range(lo, hi)})
        elif op[0] in ("dv_delete", "rw_delete"):
            m = op[1]
            t.delete(
                f"id % {m} = 1",
                mode="dv" if op[0] == "dv_delete" else "rewrite",
            )
            model = {k: v for k, v in model.items() if k % m != 1}
        elif op[0] == "update_dv":
            m = op[1]
            t.update(f"id % {m} = 0", {"v": "v + 10000"}, mode="dv")
            model = {
                k: (v + 10000 if k % m == 0 else v)
                for k, v in model.items()
            }
        elif op[0] == "restore":
            frac = op[1]
            versions = sorted(snapshots)
            target = versions[int(frac * (len(versions) - 1))]
            t.restore(target)
            model = dict(snapshots[target])
        else:
            t.compact()
        snapshots[t.latest_version()] = dict(model)

    # terminal snapshot AND every recorded version match the model
    for ver, want in snapshots.items():
        got = {
            r["id"]: r["v"]
            for r in t.read(version=ver).collect()
        }
        assert got == want, f"version {ver} diverged"


def test_cdf_restore_readds_dvd_file_without_phantom_inserts(table):
    """ADVICE r12: a restore that re-adds files TOGETHER with dv
    pointers (restoring across a compact back to a dv'd era) must
    read the added set through the post-commit vectors — otherwise
    the change feed resurrects dv-deleted rows as phantom inserts."""
    v_dv = table.delete("id % 10 = 3", mode="dv")
    v_compact = table.compact()
    v_restore = table.restore(v_dv)
    # visible rows identical across the restore -> zero net delta
    feed = table.changes(v_compact, v_restore)
    assert feed.count() == 0
    # and the restored snapshot still hides the dv-deleted rows
    assert table.read().count() == 90
    assert table.read().filter("id % 10 = 3").count() == 0


def test_update_dv_preserves_partition_metadata(spark, tmp_path):
    """ADVICE r12: update(mode='dv') routes its new-row-version file
    through the partition-preserving writer, so a partitioned table
    keeps its zero-I/O log-pruning tier after a merge-on-read
    update."""
    t = LakeTable(spark, str(tmp_path / "pdv"))
    t.append(
        spark.range(0, 80).select(
            "id",
            (F.col("id") % 4).cast("string").alias("b"),
            (F.col("id") * 2).alias("v"),
        ),
        partition_by=["b"],
    )
    assert t._partition_columns() == ["b"]
    t.update("id = 6", {"v": "999"}, mode="dv")
    # partition metadata survives: every live file carries values
    assert t._partition_columns() == ["b"]
    fold = t._fold_state(None)
    live, parts = fold.live, fold.parts
    assert all(parts.get(f, {}).get("b") is not None for f in live)
    # log-level pruning still prunes, and the update is visible
    out, kept, total = t.read_where({"b": ("2", "2")})
    assert kept < total
    rows = {r["id"]: r["v"] for r in out.collect()}
    assert rows[6] == 999
    assert set(rows) == {i for i in range(80) if i % 4 == 2}


@pytest.mark.parametrize("value", ["a b", "a%b"])
def test_dv_in_partition_with_escaped_value(spark, tmp_path, value):
    """Spark reports a scanned file as a URI, which percent-encodes a
    space or ``%`` in a hive dir name; the vector must still key to
    the stored path, else a DV delete deletes nothing and a DV update
    leaves the old row visible beside its new version."""
    t = LakeTable(spark, str(tmp_path / "esc"), auto_checkpoint_every=None)
    t.append(
        spark.createDataFrame(
            [(1, value, 10), (2, value, 20), (3, "x", 30)],
            "id long, b string, v long",
        ),
        partition_by=["b"],
    )

    def rows():
        return sorted(tuple(r) for r in t.read().collect())

    t.delete("id = 1", mode="dv")
    assert rows() == [(2, value, 20), (3, "x", 30)]
    t.update("id = 2", {"v": "99"}, mode="dv")
    assert rows() == [(2, value, 99), (3, "x", 30)]
    feed = t.changes(t.latest_version() - 1).collect()
    assert sorted((r["id"], r["v"], r["_change_type"]) for r in feed) == [
        (2, 20, "delete"), (2, 99, "insert"),
    ]
    t.compact()
    assert rows() == [(2, value, 99), (3, "x", 30)]
