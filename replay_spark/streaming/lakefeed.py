"""Native ``spark.readStream`` source for a
:class:`~replay_spark.lake.LakeTable` — a PySpark 4 Python
DataSource (``pyspark.sql.datasource``) so the lake composes with
the WHOLE Structured Streaming surface: watermarks, windowed
aggregations, stream-stream joins, any sink.

Semantics follow Delta's table streaming: the source tails APPEND
commits (each added file's rows stream exactly once, at commit
granularity); layout-only commits (compact/optimize) and
metadata-only commits (rename/checkpoint) are transparently ignored;
a commit that CHANGES data (delete/update/merge/overwrite/restore)
fails the stream unless ``skipChangeCommits=true`` (Delta's option
of the same name) — change feeds belong to
:class:`~replay_spark.streaming.cdf.LakeChangeStream`, which replays
deletes/updates as typed change rows.

Scale shape: the driver-side reader touches ONLY commit metadata
(O(files) JSON); each added file becomes one ``InputPartition`` read
executor-side with pyarrow, so a backlogged table fans out file-per-
task exactly like a parquet scan. ``maxCommitsPerTrigger`` bounds a
micro-batch. Offsets are plain ``{"version": N}`` dicts riding
Spark's own streaming checkpoint — restart-exactly-once comes from
Spark's offset log plus the source's deterministic
commit-to-partition mapping.

Trigger note: Spark's Python sources do not implement
``Trigger.AvailableNow`` — it falls back to single-batch execution.
Rate limiting is therefore OPT-IN: without ``maxCommitsPerTrigger``
every batch drains to the tip (availableNow processes the whole
backlog in its one batch, Delta's default posture); with it, EVERY
micro-batch is bounded — including the first of a session: on a
fresh start the engine asks ``latestOffset`` before
``initialOffset``, so the first answer bounds from the resolved
starting version; on a restart the engine replays
``partitions(checkpoint, checkpoint_end)`` before the first
``latestOffset`` (observed against Spark 4.1), which re-anchors the
rate-limit cursor at the checkpoint. Rate-limited catch-up pairs
with a processing-time trigger + ``processAllAvailable()`` —
availableNow would stop after one slice.

Cites reference behavior gap: the reference (sb-ai-lab/RePlay) has
no table format; this follows the public Delta streaming-source
contract (startingVersion, skipChangeCommits, rate limiting)
re-expressed for this log via the public PySpark DataSource API.
"""

from __future__ import annotations

import json
import os
from typing import Iterator, Optional, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

__all__ = ["LakeFeedDataSource", "register_lakefeed"]

# The registered DataSource class is cloudpickled into Spark's Python
# runner processes, which may not have this package on sys.path (the
# driver added it manually, or runs from a different cwd). Capture
# the package parent at definition time so the runner can self-heal
# the import — a plain string survives pickling by value.
_PKG_PARENT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def _import_lake_table():
    try:
        from replay_spark.lake import LakeTable
    except ModuleNotFoundError:
        import sys

        if _PKG_PARENT not in sys.path:
            sys.path.insert(0, _PKG_PARENT)
        from replay_spark.lake import LakeTable
    return LakeTable

# operations that never carry data changes a streaming reader must
# surface: layout-only rewrites and metadata-only commits
_LAYOUT_OPS = {"compact", "optimize"}


class _FilePartition(InputPartition):
    def __init__(self, abs_path: str, arrow_schema, rename: dict):
        self.abs_path = abs_path
        self.arrow_schema = arrow_schema  # pa.Schema (picklable)
        self.rename = rename  # physical -> logical column names


class _LakeFeedReader(DataSourceStreamReader):
    def __init__(self, path: str, schema: StructType, options: dict):
        self.path = path
        # metadata-only handle: log folding is pure file I/O
        self.table = _import_lake_table()(None, path)
        self.skip_change_commits = (
            str(options.get("skipchangecommits", "false")).lower()
            == "true"
        )
        # rate limiting is OPT-IN (Delta-style): without the option
        # every batch drains to the tip, so Trigger.AvailableNow —
        # which Spark runs as a single batch for Python sources —
        # processes the whole backlog. Setting maxCommitsPerTrigger
        # bounds EVERY batch (including the session's first), which
        # pairs with a processing-time trigger + processAllAvailable
        # for bounded catch-up; under availableNow it would stop
        # after one slice.
        raw = options.get("maxcommitspertrigger")
        self.max_commits = int(raw) if raw is not None else None
        if self.max_commits is not None and self.max_commits < 1:
            raise ValueError("maxCommitsPerTrigger must be >= 1")
        sv = options.get("startingversion")
        self._session_tip = self.table.latest_version()
        self._starting_version = (
            int(sv) if sv is not None else self._session_tip
        )
        from pyspark.sql.pandas.types import to_arrow_schema

        self._schema = schema
        self._arrow_schema = to_arrow_schema(schema)
        # column mapping at stream start: physical file names ->
        # the logical names this stream presents
        mapping = self.table._mapping(None)
        self._rename = (
            {phys: logical for logical, phys in mapping.items()}
            if mapping
            else {}
        )
        # shape of the schema this stream presents — a later commit
        # that changes it (rename/drop/add) fails the stream like
        # Delta's source does, instead of silently surfacing typed
        # nulls / stale names under the stream-start schema
        self._start_shape = self.table._schema_shape(
            json.dumps(schema.jsonValue())
        )
        # rate-limit cursor: advances as batches are planned and
        # committed. The Python DataSource protocol has no
        # admission-control hook (Delta's latestOffset(start, limit)
        # shape), and on a FRESH start the engine asks latestOffset
        # BEFORE initialOffset — so when the cursor is still unknown
        # we bound from the resolved starting version. On a RESTART
        # the engine replays partitions(checkpoint_start,
        # checkpoint_end) before the first latestOffset (observed,
        # Spark 4.1), which re-anchors the cursor at the checkpoint —
        # bounding from _starting_version can therefore never hand
        # the engine an offset behind its own log
        self._pos: Optional[int] = None

    # -- offsets -------------------------------------------------------------

    def initialOffset(self) -> dict:
        self._pos = self._starting_version
        return {"version": self._starting_version}

    def latestOffset(self) -> dict:
        tip = self.table.latest_version()
        base = (
            self._pos
            if self._pos is not None
            else self._starting_version
        )
        if self.max_commits is None or tip <= base:
            end = tip if tip > base else base
        else:
            end = min(tip, base + self.max_commits)
        return {"version": end}

    def commit(self, end: dict) -> None:
        # Spark's checkpoint owns the offsets; track the engine's
        # authoritative position for the rate-limit cursor (monotonic:
        # the cursor never moves backwards within a session)
        v = int(end["version"])
        if self._pos is None or v > self._pos:
            self._pos = v

    def stop(self) -> None:
        pass

    # -- planning (driver, metadata-only) -------------------------------------

    def partitions(
        self, start: dict, end: dict
    ) -> Sequence[InputPartition]:
        lo, hi = int(start["version"]), int(end["version"])
        # defensive protocol check: the engine must never hand a
        # batch whose end trails its start. If any Spark version /
        # restart path skips the replay that re-anchors the rate
        # cursor, latestOffset could bound from _starting_version
        # and regress behind the checkpoint; planning that "batch"
        # as empty would let commit() move the checkpoint BACKWARDS
        # and replay already-committed commits (duplicates). Fail
        # loudly instead — a restart re-resolves the cursor.
        if hi < lo:
            raise RuntimeError(
                f"lakefeed: offset regression — batch end version "
                f"{hi} is behind batch start {lo}. This indicates "
                "the rate-limit cursor lost the checkpoint position "
                "(engine protocol change?); restart the stream so "
                "the cursor re-anchors from the checkpoint."
            )
        # anchor the rate cursor to the engine's authoritative
        # position so it can never trail the checkpoint (hi >= lo
        # holds — the guard above raised otherwise)
        if self._pos is None or hi > self._pos:
            self._pos = hi
        # plan-time vacuum guard: a batch over (lo, hi] reads files
        # added by commits >= lo + 1, which a retention vacuum may
        # have compacted away once its horizon passes them. Raise
        # the same clear below-horizon error time travel raises,
        # HERE, instead of a raw file-read failure mid-job on an
        # executor. A checkpoint sitting at exactly h - 1 still
        # reads commit h — only lo + 1 < h is unreadable.
        if hi > lo:
            h = self.table._vacuum_horizon()
            if lo + 1 < h:
                raise ValueError(
                    f"lakefeed: streaming cursor at version {lo} is "
                    f"below the vacuum horizon {h} (earliest readable "
                    "version) — vacuum removed data files this batch "
                    "needs. Restart the stream from a fresh "
                    f"checkpoint with startingVersion={h - 1} "
                    "(startingVersion is an exclusive cursor: the "
                    "stream reads commits AFTER it, so h-1 starts at "
                    "the horizon itself), and lower the vacuum "
                    "horizon next time if backlogged streams must "
                    "stay replayable."
                )
        parts = []
        for c in self.table._commits(after=lo):
            if c["version"] > hi:
                break
            op = c["operation"]
            # a schema change MID-STREAM (rename/drop via column
            # mapping, or any shape change after the tip this session
            # started from) fails the stream — Delta semantics: the
            # user restarts and the new session re-resolves schema()
            # and the rename map at the new tip. Silently continuing
            # would surface renamed columns under stale names / typed
            # nulls. Commits AT OR BELOW the session tip are history:
            # replay over older eras is read under the stream-start
            # schema (final rename map + typed null-fill in read()).
            if c["version"] > self._session_tip and (
                "column_mapping" in c
                or (
                    c.get("schema")
                    and self.table._schema_shape(c["schema"])
                    != self._start_shape
                )
            ):
                raise RuntimeError(
                    f"lakefeed: commit {c['version']} ({op}) changes "
                    "the table schema (rename/drop/add); restart the "
                    "stream to pick up the new schema"
                )
            add, remove = c.get("add") or [], c.get("remove") or []
            dv = c.get("dv") or {}
            if op == "append" and not remove and not dv:
                for rel in add:
                    parts.append(
                        _FilePartition(
                            os.path.join(self.path, rel),
                            self._arrow_schema,
                            self._rename,
                        )
                    )
                continue
            if op in _LAYOUT_OPS or (not add and not remove and not dv):
                continue  # layout-only / metadata-only: same rows
            if not self.skip_change_commits:
                raise RuntimeError(
                    f"lakefeed: commit {c['version']} ({op}) changes "
                    "existing data; streaming reads tail appends only."
                    " Set skipChangeCommits=true to skip such commits"
                    " (Delta semantics), or consume row-level changes"
                    " through LakeChangeStream instead."
                )
        # empty batches still need a schema-correct zero-row answer;
        # Spark handles an empty partition list
        return parts

    # -- execution (executors, pyarrow) ----------------------------------------

    def read(self, partition: _FilePartition) -> Iterator:
        import pyarrow as pa
        import pyarrow.parquet as pq

        want = partition.arrow_schema
        rename = partition.rename
        # stream row-group batches — a task never holds more than
        # one Arrow batch of a (possibly 1 GB) file in memory
        pf = pq.ParquetFile(partition.abs_path)
        for rb in pf.iter_batches():
            tbl = pa.Table.from_batches([rb])
            if rename:
                tbl = tbl.rename_columns(
                    [rename.get(n, n) for n in tbl.column_names]
                )
            cols = []
            for field in want:
                if field.name in tbl.column_names:
                    cols.append(tbl.column(field.name).cast(field.type))
                else:  # schema-evolved older era: typed nulls
                    cols.append(pa.nulls(len(tbl), type=field.type))
            for batch in pa.table(cols, schema=want).to_batches():
                yield batch


class LakeFeedDataSource(DataSource):
    """``spark.readStream.format("lakefeed").option("path", p)``.

    Options: ``path`` (required), ``startingVersion`` (default: the
    table tip when the stream starts — new appends only; ``-1``
    replays every append), ``maxCommitsPerTrigger`` (default:
    unlimited — set it to rate-limit every micro-batch, and pair it
    with a processing-time trigger, not availableNow),
    ``skipChangeCommits`` (default false).
    """

    @classmethod
    def name(cls) -> str:
        return "lakefeed"

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("lakefeed requires .option('path', ...)")
        return path

    def schema(self):
        t = _import_lake_table()(None, self._path())
        version = t.latest_version()
        if version < 0:
            raise FileNotFoundError(f"no commits at {self._path()}")
        return StructType.fromJson(json.loads(t._fold_state(version).schema_json))

    def streamReader(self, schema: StructType) -> _LakeFeedReader:
        return _LakeFeedReader(self._path(), schema, dict(self.options))


def register_lakefeed(spark) -> None:
    """Register the source on a session:
    ``register_lakefeed(spark)`` then
    ``spark.readStream.format("lakefeed")...``."""
    spark.dataSource.register(LakeFeedDataSource)
