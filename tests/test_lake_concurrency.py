"""Commit-conflict matrix for non-append DML (Delta-style logical
conflict detection, WriteSerializable): on a version collision the
loser re-reads the log and retries at the tip iff every intervening
commit is logically disjoint — a dv-delete racing an append no
longer loses, while a dv-delete racing a compact of the same file
still fails, as it must.

Races are simulated by interleaving a second writer's commit between
the first writer's snapshot scan and its commit attempt (patching
the first writer's data/sidecar write to fire the racer), which is
exactly where a real concurrent commit lands.
"""

import pyspark.sql.functions as F
import pytest

from replay_spark.lake import ConcurrentWriteError, LakeTable


def _mk(spark, path, lo=0, hi=100):
    t = LakeTable(spark, str(path))
    t.append(
        spark.range(lo, hi).select("id", (F.col("id") * 2).alias("v"))
    )
    return t


def _race(t1, method_name, racer):
    """Fire ``racer()`` once, right after ``t1.<method_name>``'s
    first call — i.e. after t1 has scanned its base snapshot and
    written its files, before its commit attempt."""
    orig = getattr(t1, method_name)
    state = {"fired": False}

    def wrapped(*a, **k):
        out = orig(*a, **k)
        if not state["fired"]:
            state["fired"] = True
            racer()
        return out

    setattr(t1, method_name, wrapped)


def test_dv_delete_vs_append_retries_and_wins(spark, tmp_path):
    t1 = _mk(spark, tmp_path / "t")
    t2 = LakeTable(spark, str(tmp_path / "t"))
    _race(
        t1,
        "_write_dv_sidecar",
        lambda: t2.append(
            spark.range(100, 110).select(
                "id", (F.col("id") * 2).alias("v")
            )
        ),
    )
    t1.delete("id < 5", mode="dv")
    got = sorted(r["id"] for r in t1.read().collect())
    assert got == list(range(5, 110))
    ops = [c["operation"] for c in t1._commits()]
    assert ops == ["append", "append", "delete"]


def test_dv_delete_vs_dv_delete_disjoint_files_retries(spark, tmp_path):
    t1 = LakeTable(spark, str(tmp_path / "t"))
    # two appends -> two disjoint file sets
    t1.append(
        spark.range(0, 100).select("id", (F.col("id") * 2).alias("v"))
    )
    t1.append(
        spark.range(100, 200).select(
            "id", (F.col("id") * 2).alias("v")
        )
    )
    t2 = LakeTable(spark, str(tmp_path / "t"))
    _race(
        t1,
        "_write_dv_sidecar",
        lambda: t2.delete("id >= 195", mode="dv"),
    )
    t1.delete("id < 5", mode="dv")
    got = sorted(r["id"] for r in t1.read().collect())
    assert got == list(range(5, 195))


def test_dv_delete_vs_dv_delete_same_file_fails(spark, tmp_path):
    t1 = _mk(spark, tmp_path / "t")
    t2 = LakeTable(spark, str(tmp_path / "t"))
    _race(
        t1,
        "_write_dv_sidecar",
        lambda: t2.delete("id = 7", mode="dv"),
    )
    with pytest.raises(ConcurrentWriteError, match="conflicts"):
        t1.delete("id = 3", mode="dv")
    # the winner's delete stands; the loser's never landed
    got = sorted(r["id"] for r in t1.read().collect())
    assert 7 not in got and 3 in got


def test_dv_delete_vs_compact_fails(spark, tmp_path):
    t1 = _mk(spark, tmp_path / "t")
    t2 = LakeTable(spark, str(tmp_path / "t"))
    _race(t1, "_write_dv_sidecar", lambda: t2.compact())
    with pytest.raises(ConcurrentWriteError, match="conflicts"):
        t1.delete("id < 5", mode="dv")
    assert t1.read().count() == 100  # compact won, no rows lost


def test_compact_vs_dv_delete_fails(spark, tmp_path):
    t1 = _mk(spark, tmp_path / "t")
    t2 = LakeTable(spark, str(tmp_path / "t"))
    _race(t1, "_write_data", lambda: t2.delete("id = 7", mode="dv"))
    with pytest.raises(ConcurrentWriteError, match="conflicts"):
        t1.compact()
    # the dv-delete won and survives the failed compact
    got = sorted(r["id"] for r in t1.read().collect())
    assert got == [i for i in range(100) if i != 7]


def test_delete_rewrite_vs_append_retries(spark, tmp_path):
    t1 = _mk(spark, tmp_path / "t")
    t2 = LakeTable(spark, str(tmp_path / "t"))
    _race(
        t1,
        "_write_data",
        lambda: t2.append(
            spark.range(100, 110).select(
                "id", (F.col("id") * 2).alias("v")
            )
        ),
    )
    t1.delete("id < 5")
    got = sorted(r["id"] for r in t1.read().collect())
    assert got == list(range(5, 110))


def test_update_dv_vs_append_retries(spark, tmp_path):
    t1 = _mk(spark, tmp_path / "t")
    t2 = LakeTable(spark, str(tmp_path / "t"))
    _race(
        t1,
        "_write_dv_sidecar",
        lambda: t2.append(
            spark.range(100, 110).select(
                "id", (F.col("id") * 2).alias("v")
            )
        ),
    )
    t1.update("id = 7", {"v": "999"}, mode="dv")
    rows = {r["id"]: r["v"] for r in t1.read().collect()}
    assert rows[7] == 999 and len(rows) == 110


def test_delete_vs_schema_evolving_append_fails(spark, tmp_path):
    t1 = _mk(spark, tmp_path / "t")
    t2 = LakeTable(spark, str(tmp_path / "t"))
    _race(
        t1,
        "_write_data",
        lambda: t2.append(
            spark.range(100, 110).select(
                "id",
                (F.col("id") * 2).alias("v"),
                F.lit("x").alias("extra"),
            ),
            merge_schema=True,
        ),
    )
    with pytest.raises(ConcurrentWriteError, match="schema"):
        t1.delete("id < 5")
    assert "extra" in t1.read().columns  # evolution won


def test_delete_vs_rename_fails(spark, tmp_path):
    t1 = _mk(spark, tmp_path / "t")
    t2 = LakeTable(spark, str(tmp_path / "t"))
    _race(
        t1, "_write_data", lambda: t2.rename_column("v", "value")
    )
    with pytest.raises(ConcurrentWriteError, match="mapping|schema"):
        t1.delete("id < 5")
    assert "value" in t1.read().columns


def test_reconcile_retries_exhaust(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    base = t.latest_version()
    t2 = LakeTable(spark, str(tmp_path / "t"))

    orig = t._commit

    def always_raced(*a, **k):
        # another append lands before EVERY attempt
        t2.append(
            spark.range(0, 1).select(
                "id", (F.col("id") * 2).alias("v")
            )
        )
        return orig(*a, **k)

    t._commit = always_raced
    with pytest.raises(ConcurrentWriteError, match="exhausted"):
        t._commit_reconciled(
            "delete", [], [], t1_schema(t), base, max_retries=2
        )


def t1_schema(t):
    import json

    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(t._fold_state(None).schema_json))


# -- property: racing writers never corrupt state ---------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_OPS = st.sampled_from(
    ["append", "dv_delete", "rw_delete", "update_dv", "compact"]
)


def _apply_model(model, op, step):
    """Python model of one op (mirrors _run_op's predicates)."""
    if op == "append":
        lo = 1000 + step * 100
        model.update({i: i * 2 for i in range(lo, lo + 20)})
    elif op in ("dv_delete", "rw_delete"):
        m = 7 + step % 3
        for k in [k for k in model if k % m == 1]:
            model.pop(k)
    elif op == "update_dv":
        m = 5 + step % 3
        for k in list(model):
            if k % m == 0:
                model[k] = model[k] + 10000
    # compact: layout-only


def _run_op(t, spark, op, step):
    import pyspark.sql.functions as F

    if op == "append":
        lo = 1000 + step * 100
        t.append(
            spark.range(lo, lo + 20).select(
                "id", (F.col("id") * 2).alias("v")
            )
        )
    elif op == "dv_delete":
        t.delete(f"id % {7 + step % 3} = 1", mode="dv")
    elif op == "rw_delete":
        t.delete(f"id % {7 + step % 3} = 1")
    elif op == "update_dv":
        t.update(f"id % {5 + step % 3} = 0", {"v": "v + 10000"}, mode="dv")
    else:
        t.compact()


_PATCH_POINT = {
    "append": "_write_data",
    "dv_delete": "_write_dv_sidecar",
    "rw_delete": "_write_data",
    "update_dv": "_write_dv_sidecar",
    "compact": "_write_data",
}


@given(
    pairs=st.lists(st.tuples(_OPS, _OPS), min_size=1, max_size=3),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_racing_writers_match_python_model(spark, tmp_path_factory, pairs):
    """Under ARBITRARY two-writer races, the table always equals the
    Python model of 'racer applied; main applied iff it did not
    raise' — a failed commit leaves no partial effects, a reconciled
    commit composes with the racer's, and reads never see a torn
    state."""
    import pyspark.sql.functions as F

    base = tmp_path_factory.mktemp("race")
    t1 = LakeTable(spark, str(base / "t"))
    t2 = LakeTable(spark, str(base / "t"))
    t1.append(
        spark.range(0, 100).select("id", (F.col("id") * 2).alias("v"))
    )
    model = {i: i * 2 for i in range(100)}

    for step, (main_op, racer_op) in enumerate(pairs):
        # racer fires between main's snapshot scan and its commit
        racer_step = 50 + step

        def racer(op=racer_op, s=racer_step):
            _run_op(t2, spark, op, s)

        point = _PATCH_POINT[main_op]
        orig = getattr(t1, point)
        fired = {"done": False}

        def wrapped(*a, **k):
            out = orig(*a, **k)
            if not fired["done"]:
                fired["done"] = True
                racer()
            return out

        setattr(t1, point, wrapped)
        try:
            # model order: main's predicate SCANNED the pre-racer
            # snapshot, but on a successful reconcile its effects
            # apply on top of the racer's commit
            pre = dict(model)
            raised = False
            try:
                _run_op(t1, spark, main_op, step)
            except ConcurrentWriteError:
                raised = True
            # the racer only lands if main reached its write stage —
            # a no-op main (every match already deleted) returns
            # before the patch point and no race happens at all
            if fired["done"]:
                _apply_model(model, racer_op, racer_step)
            if not raised:
                # main applied. WriteSerializable semantics: its
                # predicate scanned the PRE-racer snapshot, so rows
                # the racer appended are NOT subject to it — apply
                # main's matches from the pre view only (keys both
                # writers touched live in the same file and would
                # have raised instead of landing here)
                if main_op == "append":
                    _apply_model(model, main_op, step)
                elif main_op in ("dv_delete", "rw_delete"):
                    m = 7 + step % 3
                    for k in [k for k in pre if k % m == 1]:
                        model.pop(k, None)
                elif main_op == "update_dv":
                    m = 5 + step % 3
                    for k in pre:
                        if k % m == 0 and k in model:
                            model[k] = model[k] + 10000
                # compact: layout-only
        finally:
            setattr(t1, point, orig)
        got = {r["id"]: r["v"] for r in t1.read().collect()}
        assert got == model, (
            f"step {step}: main={main_op} racer={racer_op} diverged "
            f"({len(got)} vs {len(model)} rows)"
        )
