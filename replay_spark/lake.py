"""Versioned parquet tables with a transaction log — the lakehouse
tier (`Delta/Iceberg-shaped, dependency-free`).

A :class:`LakeTable` is a directory of immutable parquet data files
plus an append-only JSON commit log (``_log/<version>.json``). Each
commit records the files it adds and logically removes; the live
snapshot at any version is replayed driver-side from the log. That
gives, on top of plain parquet:

* **time travel** — ``read(version=...)`` reconstructs any historical
  snapshot (the input to incremental-pipeline reproducibility);
* **atomic multi-file commits** — readers never see a half-written
  append, because files become visible only when the commit file
  lands (exclusive-create, so concurrent writers conflict instead of
  interleaving — optimistic concurrency, append retries);
* **deletes without eager rewrite of everything** — ``delete``
  locates the files that actually contain matching rows with ONE
  scan (``input_file_name()`` aggregation) and rewrites only those;
  untouched files carry over by reference, which at 100 TB is the
  difference between rewriting a table and rewriting a slice;
* **compaction as metadata** — ``compact`` rewrites small files into
  ``target_file_bytes``-sized ones and swaps them in one commit; the
  logical table is unchanged (same rows, new layout), so readers
  time-traveling to older versions still see the original files.

Scale shape: the log is O(commits) tiny JSON files and snapshot
resolution is a driver-side file-list fold — the same metadata scale
every table format's planner already holds (Delta's checkpoint logic
would bolt on here if commit counts grew unbounded). Reads are plain
``spark.read.parquet`` over the live file list with the snapshot's
recorded schema, so column pruning, predicate pushdown, and
partition coalescing all apply untouched.
Log I/O goes through the three ``_fs_*`` seams below (local
``os``/``open``); pointing them at a Hadoop FileSystem/S3 client is
the production hook and changes nothing else.

Also here, as pure DataFrame algebra (usable with or without the
log): :func:`merge_into` (MERGE upsert/delete semantics via
broadcast-friendly anti/semi joins — no row-level comparators) and
:func:`apply_scd2` (slowly-changing-dimension type 2 history
maintenance). No reference counterpart (data-lake extension; the
reference persists artifacts as plain parquet,
e.g. ``save_to_replay``/``load_from_replay``).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from typing import Callable, Dict, List, NamedTuple, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

__all__ = [
    "LakeTable",
    "ConcurrentWriteError",
    "MaterializedAggregate",
    "merge_into",
    "apply_scd2",
    "refresh_aggregate",
]


# sentinel: overwrite(partition_by=...) omitted -> inherit the
# table's current partition columns (explicit None = drop them)
_PB_INHERIT = object()

# sentinel: distinguishes "commit does not touch the column mapping"
# (key absent, fold keeps the previous mapping) from "commit sets the
# mapping to None" (restore to an unmapped era)
_MAPPING_UNSET = object()

# a char/varchar type in schema JSON (top level or nested); readers
# take these columns as string
_CHAR_VARCHAR = re.compile(
    r'("(?:type|elementType|keyType|valueType)":\s*)"(?:var)?char\(\d+\)"'
)


def _type_shape(dt) -> str:
    """A column type as a reader sees it: nested nullability ignored,
    char/varchar as string."""
    return re.sub(r"\b(?:var)?char\(\d+\)", "string", dt.simpleString())


class ConcurrentWriteError(RuntimeError):
    """Another writer committed this version first; re-read and retry."""


class _Snapshot(NamedTuple):
    """One version's folded log state (see :meth:`LakeTable._fold_state`)."""

    live: List[str]
    schema_json: Optional[str]
    txns: dict
    parts: dict
    stats: dict
    mapping: Optional[dict]
    dvs: dict

    def part_key(self, rel: str) -> tuple:
        """The file's recorded partition values as a sortable key."""
        return tuple(sorted((self.parts.get(rel) or {}).items()))

    @property
    def partition_columns(self) -> Optional[List[str]]:
        """The partition columns when EVERY live file carries the
        same recorded partition-key set, else None — the guard that
        lets rewrites stay partition-preserving."""
        keysets = {tuple(k for k, _ in self.part_key(rel)) for rel in self.live}
        if len(keysets) != 1 or () in keysets:
            return None
        return list(keysets.pop())


def _local_path(uri: str) -> str:
    """``input_file_name()`` reports URIs (``file:///...``); fold
    back to the local path for comparison with ``os`` paths."""
    from urllib.parse import unquote, urlparse

    if "://" in uri or uri.startswith("file:"):
        return unquote(urlparse(uri).path)
    return uri


def _fs_write_exclusive(path: str, payload: str) -> bool:
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        return False
    with os.fdopen(fd, "w") as f:
        f.write(payload)
    return True


def _fs_read(path: str) -> str:
    with open(path, "r") as f:
        return f.read()


def _fs_list(path: str) -> List[str]:
    try:
        return sorted(os.listdir(path))
    except FileNotFoundError:
        return []


def _view_fingerprint(spark, name: str) -> Optional[str]:
    """Stable identity for a temp view's CURRENT definition: the
    analyzed plan with per-analysis expression ids stripped. Lets
    lake_sql detect that a plain ``createOrReplaceTempView`` has
    shadowed a lake-registered name (routing DML at the old table
    would silently mutate it AND re-register over the user's view).
    None when the plan is not introspectable (e.g. Spark Connect) —
    callers then skip the shadow check."""
    try:
        plan = spark.table(name)._jdf.queryExecution().analyzed().toString()
        return re.sub(r"#\d+", "#", plan)
    except Exception:
        return None


class LakeTable:
    """A versioned parquet table rooted at ``path``.

    Layout::

        path/_log/0000000000.json   commit records
        path/data/<uuid>/part-*.parquet   immutable data files

    Commit record fields: ``version``, ``operation``, ``add`` /
    ``remove`` (file paths relative to ``path``), ``schema`` (Spark
    schema JSON of the table as of this commit).
    """

    #: reader features THIS implementation understands; a commit
    #: written with a feature outside this set makes every read
    #: raise instead of silently returning wrong rows (the Delta
    #: minReaderVersion/tableFeatures device)
    SUPPORTED_FEATURES = frozenset(
        {"column_mapping", "deletion_vectors"}
    )

    #: view name -> (LakeTable, is_snapshot), maintained by
    #: :meth:`to_view`; lake_sql() resolves SQL DML targets here
    _view_registry: dict = {}

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        auto_checkpoint_every: Optional[int] = 10,
        auto_compact_small_files: Optional[int] = None,
        small_file_bytes: int = 16 * 1024 * 1024,
    ):
        self.spark = spark
        self.path = path
        self._log_dir = os.path.join(path, "_log")
        # Delta checkpoints every 10 commits by default; None
        # disables (tests that pin exact log layouts pass None)
        self.auto_checkpoint_every = auto_checkpoint_every
        # opt-in write-time compaction (the Delta autoCompact shape):
        # after an append, if MORE than this many live files are
        # under small_file_bytes, compact() runs in the same call —
        # streaming micro-batches stop accreting a thousand tiny
        # files without a separate maintenance job. Off by default:
        # maintenance windows are a deliberate choice at 100 TB.
        self.auto_compact_small_files = auto_compact_small_files
        self.small_file_bytes = small_file_bytes
        # memo for the constraint / generated-column folds, keyed on
        # the RESOLVED version: commit files are immutable once
        # written, so a (version -> rules) entry can never go stale —
        # commit-heavy pipelines stop re-folding
        # O(commits-since-checkpoint) driver JSON on every append.
        # Conflict detection re-resolves the tip, so a blind retry
        # still sees mid-flight rule changes.
        self._rules_memo: dict = {}

    # -- log ---------------------------------------------------------------

    def _commit_names(self) -> List[tuple]:
        """(version, filename) for every commit file, sorted — the
        version parses from the NAME, so selecting a log suffix
        never opens the files it skips."""
        out = []
        for name in _fs_list(self._log_dir):
            if name.endswith(".json") and not name.startswith("_"):
                try:
                    out.append((int(name[:-5]), name))
                except ValueError:
                    continue
        out.sort()
        return out

    def _commits(self, after: int = -1) -> List[dict]:
        """Commit records with version > ``after`` (ascending).
        Reads only the selected suffix of the log — pair with a
        checkpoint to keep metadata cost O(tail), not O(history)."""
        out = []
        for version, name in self._commit_names():
            if version <= after:
                continue
            out.append(json.loads(_fs_read(os.path.join(self._log_dir, name))))
        return out

    def latest_version(self) -> int:
        """-1 when the table does not exist yet."""
        names = self._commit_names()
        return names[-1][0] if names else -1

    # -- checkpoints ---------------------------------------------------------

    def _latest_checkpoint(
        self, version: Optional[int] = None
    ) -> Optional[dict]:
        """Newest checkpoint at or before ``version`` (None = any)."""
        best = None
        for name in _fs_list(self._log_dir):
            if not (
                name.startswith("_checkpoint_") and name.endswith(".json")
            ):
                continue
            try:
                v = int(name[len("_checkpoint_"):-5])
            except ValueError:
                # stray/malformed checkpoint filename must not break
                # every metadata read — same tolerance as
                # _commit_names
                continue
            if version is not None and v > version:
                continue
            if best is None or v > best[0]:
                best = (v, name)
        if best is None:
            return None
        return json.loads(
            _fs_read(os.path.join(self._log_dir, best[1]))
        )

    def checkpoint(self) -> int:
        """Materialize the current log state (live file list, table
        schema, txn high-water marks) into ONE
        ``_checkpoint_<version>.json`` — the Delta-checkpoint device
        that keeps metadata reads O(tail) instead of O(commits):
        every snapshot/read/txn lookup afterwards folds the newest
        checkpoint plus only the commits behind it. Commit files are
        NOT deleted (time travel to pre-checkpoint versions still
        folds the raw log). Returns the checkpointed version."""
        version = self.latest_version()
        if version < 0:
            raise FileNotFoundError(f"no commits at {self.path}")
        fold = self._fold_state(version)
        payload = json.dumps(
            {
                "version": version,
                "live": fold.live,
                "schema": fold.schema_json,
                "txns": fold.txns,
                "parts": fold.parts,
                "stats": fold.stats,
                "mapping": fold.mapping,
                "dvs": fold.dvs,
                "constraints": self._table_constraints(version),
                "generated": self._generated_columns(version),
            }
        )
        name = os.path.join(
            self._log_dir, f"_checkpoint_{version:010d}.json"
        )
        if not _fs_write_exclusive(name, payload):
            # fold state is deterministic per version UP TO dict/list
            # ordering: two writers folding the same version from
            # different checkpoint bases can legitimately produce
            # byte-different JSON (live/parts insertion order), so the
            # idempotence check compares PARSED payloads with the
            # order-free collections canonicalized; a semantically
            # different payload means log corruption — refuse
            try:
                existing = json.loads(_fs_read(name))
            except (OSError, ValueError):
                existing = None
            if existing is not None and self._ckpt_canonical(
                existing
            ) == self._ckpt_canonical(json.loads(payload)):
                return version
            raise ConcurrentWriteError(
                f"checkpoint at version {version} exists with "
                "DIFFERENT content — log corruption"
            )
        return version

    @staticmethod
    def _ckpt_canonical(p: dict) -> dict:
        """Checkpoint payload with its order-free live file list
        sorted — dict equality is already key-order-insensitive, lists
        are not. Older checkpoints also carry a distinct-schema set,
        which nothing reads: the key is ignored."""
        q = dict(p)
        q["live"] = sorted(q.get("live") or [])
        q.pop("schemas", None)
        # pre-constraints checkpoints lack the keys; absent == empty
        q["constraints"] = q.get("constraints") or {}
        q["generated"] = q.get("generated") or {}
        return q

    def _fold_state(self, version: Optional[int] = None):
        """The :class:`_Snapshot` (live_relpaths, schema_json,
        txn_map, parts_map, stats_map, mapping, dv_map) as of
        ``version``, starting
        from the newest usable checkpoint. ``parts_map`` holds
        {relpath: {col: str_value}} for partitioned files and
        ``stats_map`` holds {relpath: {col: {t, min, max}}} for
        stats-indexed columns — the log-level pruning metadata.
        ``mapping`` is the column mapping {logical: physical} (None
        on an unmapped table); it persists across commits that don't
        carry the ``column_mapping`` key and changes only at
        rename/drop/restore commits that do."""
        live: List[str] = []
        schema_json = None
        txns: dict = {}
        parts: dict = {}
        stats: dict = {}
        mapping = None
        dvs: dict = {}
        start = -1
        ckpt = self._latest_checkpoint(version)
        if ckpt is not None:
            live = list(ckpt["live"])
            schema_json = ckpt.get("schema")
            txns = dict(ckpt.get("txns") or {})
            parts = dict(ckpt.get("parts") or {})
            stats = dict(ckpt.get("stats") or {})
            mapping = ckpt.get("mapping")
            dvs = dict(ckpt.get("dvs") or {})
            start = ckpt["version"]
        for c in self._commits(after=start):
            if version is not None and c["version"] > version:
                break
            unknown = set(c.get("features") or []) - self.SUPPORTED_FEATURES
            if unknown:
                raise ValueError(
                    f"commit {c['version']} at {self.path} uses table "
                    f"features this reader does not support: "
                    f"{sorted(unknown)} — upgrade replay_spark before "
                    "reading (refusing is the only safe answer)"
                )
            for r in c.get("remove", []):
                live.remove(r)
                parts.pop(r, None)
                stats.pop(r, None)
                dvs.pop(r, None)
            live.extend(c.get("add", []))
            parts.update(c.get("parts") or {})
            stats.update(c.get("stats") or {})
            for f, dv in (c.get("dv") or {}).items():
                # explicit None clears (restore to a pre-delete era)
                if dv is None:
                    dvs.pop(f, None)
                else:
                    dvs[f] = dv
            schema_json = c.get("schema", schema_json)
            if "column_mapping" in c:
                mapping = c["column_mapping"]
            t = c.get("txn")
            if t:
                app = t["app_id"]
                b = int(t["batch_id"])
                if app not in txns or b > txns[app]:
                    txns[app] = b
        # only live files' partition values / stats matter
        live_set = set(live)
        parts = {k: v for k, v in parts.items() if k in live_set}
        stats = {k: v for k, v in stats.items() if k in live_set}
        return _Snapshot(live, schema_json, txns, parts, stats, mapping, dvs)

    # -- CHECK constraints (stored in the log, enforced on every write) ------
    #
    # Delta-style table constraints: ``ALTER TABLE ADD CONSTRAINT``
    # re-expressed for this log. The expression set lives in commit
    # records (and checkpoints), so EVERY writer enforces it — unlike
    # the caller-supplied ``append(constraints=...)`` suite, which
    # only gates that one call. SQL-standard semantics: a row
    # violates a CHECK only when the expression evaluates to FALSE
    # (NULL satisfies). Enforcement costs one aggregate scan of the
    # written batch for ALL constraints together.
    # Cites reference behavior gap: the reference has no table
    # format; this follows the public Delta constraints protocol
    # (delta.constraints.* table properties) for this log.

    def _rules(self, kind: str, version: Optional[int] = None) -> dict:
        """{name: sql_expr} of the ``kind`` rules ("constraints" or
        "generated") in force as of ``version`` — their own
        lightweight fold (checkpoint base + commit tail), separate
        from _fold_state so the snapshot stays a log-file fold.
        Memoized per resolved version (commits are immutable)."""
        resolved = version if version is not None else self.latest_version()
        key = (kind, resolved)
        hit = self._rules_memo.get(key)
        if hit is not None:
            return dict(hit)
        rules: dict = {}
        start = -1
        ckpt = self._latest_checkpoint(resolved)
        if ckpt is not None:
            rules = dict(ckpt.get(kind) or {})
            start = ckpt["version"]
        for c in self._commits(after=start):
            if c["version"] > resolved:
                break
            for name, expr in (c.get(kind) or {}).items():
                if expr is None:
                    rules.pop(name, None)
                else:
                    rules[name] = expr
        if len(self._rules_memo) > 256:
            self._rules_memo.clear()
        self._rules_memo[key] = dict(rules)
        return rules

    def _table_constraints(self, version: Optional[int] = None) -> dict:
        return self._rules("constraints", version)

    def table_constraints(self) -> dict:
        """The CHECK constraints currently in force."""
        return self._table_constraints(None)

    def _enforce_table_constraints(
        self, df: DataFrame, version: Optional[int] = None
    ) -> None:
        """One aggregate scan counting violations of every stored
        constraint over ``df`` (rows about to be written); raises
        ``ValueError`` naming each violated constraint. NULL
        satisfies (SQL CHECK semantics)."""
        cons = self._table_constraints(version)
        if not cons:
            return
        checks = [
            F.count(
                F.when(
                    ~F.coalesce(
                        F.expr(expr).cast("boolean"), F.lit(True)
                    ),
                    1,
                )
            ).alias(name)
            for name, expr in sorted(cons.items())
        ]
        row = df.agg(*checks).collect()[0]
        bad = [
            f"{n} ({cons[n]!r}): {row[n]} row(s)"
            for n in sorted(cons)
            if row[n] > 0
        ]
        if bad:
            raise ValueError(
                "CHECK constraint violation — write rejected, nothing "
                "committed: " + "; ".join(bad)
            )

    # -- generated columns (computed on write, validated if given) -----------

    def _generated_columns(self, version: Optional[int] = None) -> dict:
        return self._rules("generated", version)

    def generated_columns(self) -> dict:
        """The generation rules currently in force."""
        return self._generated_columns(None)

    def set_generated_column(self, name: str, expr: str) -> int:
        """Declare ``name`` GENERATED ALWAYS AS (expr) — Delta's
        generated-columns device re-expressed for this log: a writer
        that OMITS the column gets it computed from ``expr`` (cast to
        the column's schema type); a writer that supplies it has the
        values VALIDATED against ``expr`` (NULL-safe equality, one
        aggregate scan merged into the write) so the invariant can
        never drift. The classic use: derive a partition date from an
        event timestamp without every writer re-implementing it —
        ``partition_by`` the generated column and log pruning works.
        Existing rows are validated before the rule commits."""
        base = self.latest_version()
        if base < 0:
            raise FileNotFoundError(f"no commits at {self.path}")
        schema = StructType.fromJson(json.loads(self._fold_state(base).schema_json))
        names = {f.name for f in schema.fields}
        if name not in names:
            raise ValueError(
                f"generated column {name!r} must already exist in the "
                f"table schema (have {sorted(names)})"
            )
        current = self.read(version=base)
        t = {f.name: f.dataType for f in schema.fields}[name]
        bad = current.filter(
            ~(
                F.col(name).eqNullSafe(F.expr(expr).cast(t))
            )
        ).limit(1).count()
        if bad:
            raise ValueError(
                f"cannot declare {name!r} generated: existing rows "
                f"do not match {expr!r}"
            )
        return self._commit(
            "set_generated_column", [], [], schema, base + 1,
            generated_update={name: expr},
        )

    def drop_generated_column(self, name: str) -> int:
        """Remove the generation rule (the column stays)."""
        base = self.latest_version()
        if name not in self._generated_columns(base):
            raise KeyError(f"no generated column {name!r} at {self.path}")
        schema = StructType.fromJson(json.loads(self._fold_state(base).schema_json))
        return self._commit(
            "drop_generated_column", [], [], schema, base + 1,
            generated_update={name: None},
        )

    def _apply_generated(
        self, df: DataFrame, version: Optional[int] = None
    ) -> DataFrame:
        """Fill omitted generated columns from their expressions and
        VALIDATE supplied ones (one aggregate scan for all rules) —
        called on the logical frame before an append lands."""
        gens = self._generated_columns(version)
        if not gens:
            return df
        schema_json = self._fold_state(version).schema_json
        types = {}
        if schema_json:
            for f in StructType.fromJson(json.loads(schema_json)):
                types[f.name] = f.dataType
        checks = []
        supplied = []
        for name, expr in sorted(gens.items()):
            gen = F.expr(expr)
            if name in types:
                gen = gen.cast(types[name])
            if name not in df.columns:
                df = df.withColumn(name, gen)
            else:
                supplied.append(name)
                checks.append(
                    F.count(
                        F.when(~F.col(name).eqNullSafe(gen), 1)
                    ).alias(name)
                )
        if checks:
            # only the SUPPLIED columns were aggregated; the fill loop
            # above has already added the omitted ones to df.columns,
            # so indexing row[] by df-membership would hit missing
            # Row fields on mixed supplied/omitted writers
            row = df.agg(*checks).collect()[0]
            bad = [
                f"{n} != ({gens[n]}): {row[n]} row(s)"
                for n in supplied
                if row[n] and row[n] > 0
            ]
            if bad:
                raise ValueError(
                    "generated-column mismatch — write rejected, "
                    "nothing committed: " + "; ".join(bad)
                )
        # filled columns land at the END; present them in the stored
        # schema order so the append's shape check stays happy
        if types and set(df.columns) == set(types):
            df = df.select(*types.keys())
        return df

    def add_constraint(self, name: str, expr: str) -> int:
        """ADD CONSTRAINT name CHECK (expr): validates the EXISTING
        table satisfies ``expr`` (one scan, like Delta), then commits
        the constraint as metadata — every later write by any writer
        enforces it until :meth:`drop_constraint`."""
        if not name or not name.isidentifier():
            raise ValueError(f"constraint name must be an identifier: {name!r}")
        base = self.latest_version()
        if base < 0:
            raise FileNotFoundError(f"no commits at {self.path}")
        existing = self._table_constraints(base)
        if name in existing:
            raise ValueError(f"constraint {name!r} already exists")
        fold = self._fold_state(base)
        n_bad = self._scan(fold, fold.live).filter(
            ~F.coalesce(F.expr(expr).cast("boolean"), F.lit(True))
        ).limit(1).count()
        if n_bad:
            raise ValueError(
                f"cannot add constraint {name!r}: existing rows "
                f"violate {expr!r}"
            )
        schema = StructType.fromJson(json.loads(fold.schema_json))
        return self._commit(
            "add_constraint", [], [], schema, base + 1,
            constraint_update={name: expr},
        )

    def drop_constraint(self, name: str) -> int:
        """DROP CONSTRAINT: metadata commit clearing ``name``."""
        base = self.latest_version()
        if name not in self._table_constraints(base):
            raise KeyError(f"no constraint {name!r} at {self.path}")
        schema = StructType.fromJson(json.loads(self._fold_state(base).schema_json))
        return self._commit(
            "drop_constraint", [], [], schema, base + 1,
            constraint_update={name: None},
        )

    def to_view(
        self,
        name: str,
        version: Optional[int] = None,
        as_of=None,
        tag: Optional[str] = None,
    ) -> str:
        """Register this table (or a time-travel snapshot of it) as a
        temp view so plain ``spark.sql`` queries run over the lake —
        DVs, column mapping and schema evolution all resolved by
        :meth:`read` before the view exists. Returns ``name``.

        The name is also recorded for :func:`replay_spark.lake_sql.
        lake_sql`, which routes SQL ``UPDATE`` / ``DELETE`` /
        ``MERGE INTO`` statements against it through this table's
        Python DML (snapshot views are read-only there)."""
        self.read(version=version, as_of=as_of, tag=tag).createOrReplaceTempView(
            name
        )
        snapshot = version is not None or as_of is not None or tag is not None
        # the entry stores the PATH, not the table: lake_sql
        # reconstructs a LakeTable on demand (state lives on disk),
        # so the registry never pins table objects — or, through
        # them, SparkSessions — for the process lifetime. The
        # session is a weak ref for same-session routing checks, and
        # the fingerprint (analyzed plan, exprIds stripped) lets
        # lake_sql detect a plain createOrReplaceTempView shadowing
        # the name
        import weakref

        LakeTable._view_registry[name] = {
            "path": self.path,
            "snapshot": snapshot,
            "session": weakref.ref(self.spark),
            "fingerprint": _view_fingerprint(self.spark, name),
            # constructor options travel with the entry so lake_sql's
            # reconstructed table behaves like the registering one
            # (checkpoint cadence, write-time auto-compaction)
            "init": {
                "auto_checkpoint_every": self.auto_checkpoint_every,
                "auto_compact_small_files": (
                    self.auto_compact_small_files
                ),
                "small_file_bytes": self.small_file_bytes,
            },
        }
        return name

    def detail(self) -> dict:
        """DESCRIBE DETAIL: one dict of table facts — version, file
        count/bytes, partition columns, active table features,
        deletion-vector stats, checkpoint/vacuum state. Driver-side
        metadata only (O(files) stat calls), no data I/O."""
        version = self.latest_version()
        if version < 0:
            raise FileNotFoundError(f"no commits at {self.path}")
        fold = self._fold_state(version)
        total = 0
        for rel in fold.live:
            try:
                total += os.path.getsize(os.path.join(self.path, rel))
            except OSError:
                pass
        features = []
        if fold.mapping is not None:
            features.append("column_mapping")
        if fold.dvs:
            features.append("deletion_vectors")
        cons = self._table_constraints(version)
        ckpt = self._latest_checkpoint(version)
        return {
            "path": self.path,
            "version": version,
            "num_files": len(fold.live),
            "size_bytes": total,
            "partition_columns": fold.partition_columns or [],
            "features": features,
            "num_dv_files": len(fold.dvs),
            "dv_bytes": self._dv_bytes(fold.dvs) if fold.dvs else 0,
            "stats_indexed": bool(fold.stats),
            "checkpoint_version": ckpt["version"] if ckpt else None,
            "vacuum_horizon": self._vacuum_horizon(),
            "txn_app_ids": sorted(fold.txns),
            "constraints": dict(sorted(cons.items())),
            "generated_columns": dict(
                sorted(self._generated_columns(version).items())
            ),
        }

    def history(self) -> DataFrame:
        """One row per commit: version, operation, files
        added/removed, commit timestamp (unix micros; file-mtime
        fallback for pre-r11 logs), bytes added and dv pointers
        repointed (operation metrics; null for pre-r13 commits)."""
        commits = self._commits()
        rows = [
            (
                c["version"],
                c["operation"],
                len(c.get("add", [])),
                len(c.get("remove", [])),
                self._commit_ts(c),
                json.dumps(c["user_metadata"], sort_keys=True)
                if c.get("user_metadata")
                else None,
                (c.get("operation_metrics") or {}).get("added_bytes"),
                (c.get("operation_metrics") or {}).get("num_dv_files"),
            )
            for c in commits
        ]
        return self.spark.createDataFrame(
            rows,
            "version INT, operation STRING, n_added INT, "
            "n_removed INT, commit_ts LONG, user_metadata STRING, "
            "added_bytes LONG, num_dv_files INT",
        )

    def _commit_ts(self, c: dict) -> int:
        ts = c.get("commit_ts")
        if ts is not None:
            return int(ts)
        # pre-commit_ts logs: the commit file's mtime (the Delta
        # fallback — good enough for coarse AS OF resolution)
        name = os.path.join(self._log_dir, f"{c['version']:010d}.json")
        try:
            return int(os.path.getmtime(name) * 1_000_000)
        except OSError as exc:
            # Returning 0 would make an unreadable commit resolve as
            # "committed at epoch" and let AS OF pick a version NEWER
            # than the requested instant — fail loudly instead.
            raise OSError(
                f"cannot stat commit file {name} for AS OF "
                f"resolution (pre-commit_ts log)"
            ) from exc

    def version_as_of(self, timestamp) -> int:
        """Resolve a wall-clock time to the NEWEST version committed
        at or before it (Delta's ``TIMESTAMP AS OF``). ``timestamp``
        is unix SECONDS (int/float < 1e12), unix MILLIS (1e12..1e15 —
        the JS ``Date.now()`` band), unix MICROS (>= 1e15), or a
        ``datetime``. Raises when the time predates the first
        commit."""
        import datetime as _dt

        if isinstance(timestamp, _dt.datetime):
            ts_us = int(timestamp.timestamp() * 1_000_000)
        else:
            t = float(timestamp)
            if t >= 1e15:
                ts_us = int(t)  # already micros
            elif t > 1e12:
                # millisecond band (~2001..33658 AD in ms): treating
                # it as micros would land near epoch 1970 and
                # mis-resolve silently
                ts_us = int(t * 1_000)
            else:
                ts_us = int(t * 1_000_000)
        best = None
        for c in self._commits():
            if self._commit_ts(c) <= ts_us and (
                best is None or c["version"] > best
            ):
                best = c["version"]
        if best is None:
            raise ValueError(
                f"no commit at or before the requested time at "
                f"{self.path} (earliest commit is newer)"
            )
        return best

    def snapshot_files(self, version: Optional[int] = None) -> List[str]:
        """Live data files (absolute paths) as of ``version`` —
        checkpoint + log-tail fold."""
        self._check_time_travel(version)
        live = self._fold_state(version).live
        return [os.path.join(self.path, p) for p in live]

    def read(
        self, version: Optional[int] = None, as_of=None,
        tag: Optional[str] = None,
    ) -> DataFrame:
        """The table as of ``version`` (default: latest), as of a
        wall-clock time via ``as_of`` (seconds / micros / datetime —
        resolved through :meth:`version_as_of`), or at a named
        snapshot via ``tag`` (see :meth:`tag`). Every file is read
        with the snapshot's recorded schema (:meth:`_scan`): columns
        absent from older files (``merge_schema`` appends,
        ``add_column``) read as null — Iceberg-style additive
        evolution."""
        if sum(x is not None for x in (version, as_of, tag)) > 1:
            raise ValueError("give ONE of version / as_of / tag")
        if tag is not None:
            tags = self._tags()
            if tag not in tags:
                raise KeyError(
                    f"no tag {tag!r} at {self.path}; have "
                    f"{sorted(tags)}"
                )
            version = tags[tag]
        if as_of is not None:
            version = self.version_as_of(as_of)
        self._check_time_travel(version)
        fold = self._fold_state(version)
        if not fold.live and not fold.schema_json:
            raise FileNotFoundError(f"no snapshot at {self.path}@{version}")
        return self._scan(fold, fold.live)

    def _scan(
        self, fold: _Snapshot, files: Sequence[str], keep_meta: bool = False
    ) -> DataFrame:
        """The logical frame of ``files`` under ``fold`` — the one
        data-file reader behind read(), read_where(), changes() and
        every rewrite. Every file is read with the fold's recorded
        schema, as a Delta reader uses its snapshot's schema: physical
        names from the column mapping, char/varchar as string (Spark
        refuses them in a reader schema), every column nullable, and
        no footer-inference job. A column a file lacks (an older
        schema era, ``add_column``) reads as null; a physical column
        the schema no longer names (``drop_column``) is not read.
        Deletion vectors apply per file: clean files take the plain
        scan, only dv'd files pay the anti-join. Physical names are
        aliased to logical ones; ``keep_meta`` carries the
        ``_fp``/``_ri`` (file path, row index) columns through. No
        files: an empty frame with the table schema (and typed, null
        meta columns)."""
        meta = ["_fp", "_ri"] if keep_meta else []
        if not files:
            schema = StructType.fromJson(json.loads(fold.schema_json))
            if keep_meta:
                schema = schema.add("_fp", "string").add("_ri", "long")
            return self.spark.createDataFrame([], schema)
        fields = json.loads(
            _CHAR_VARCHAR.sub(r'\1"string"', fold.schema_json)
        )["fields"]
        mapping = fold.mapping or {}
        physical = [mapping.get(f["name"], f["name"]) for f in fields]
        reader = self.spark.read.schema(
            StructType.fromJson(
                {
                    "type": "struct",
                    "fields": [dict(f, name=p) for f, p in zip(fields, physical)],
                }
            )
        )

        def with_meta(scan: DataFrame) -> DataFrame:
            # hidden _metadata refs do not survive joins, so the DV
            # join keys become ordinary columns up front
            return scan.select(
                "*",
                F.col("_metadata.file_path").alias("_fp"),
                F.col("_metadata.row_index").cast("long").alias("_ri"),
            )

        out = None
        clean = [f for f in files if f not in fold.dvs]
        dvd = [f for f in files if f in fold.dvs]
        if clean:
            scan = reader.parquet(*[os.path.join(self.path, p) for p in clean])
            out = with_meta(scan) if keep_meta else scan
        if dvd:
            scan = with_meta(
                reader.parquet(*[os.path.join(self.path, p) for p in dvd])
            )
            sub = {f: fold.dvs[f] for f in dvd}
            kept = self._apply_dv(
                scan,
                self._dv_rows(fold.dvs, dvd),
                small=self._dv_bytes(sub) <= self._DV_BROADCAST_BYTES,
            )
            if not keep_meta:
                kept = kept.drop("_fp", "_ri")
            out = kept if out is None else out.unionByName(kept)
        if fold.mapping is None:
            return out
        return out.select(
            *[F.col(p).alias(f["name"]) for f, p in zip(fields, physical)], *meta
        )

    # -- column mapping (rename/drop WITHOUT rewrite) ------------------------
    #
    # Delta-style name mapping: every logical column owns a STABLE
    # physical name (the name it was first written under); data files
    # only ever see physical names, renames and drops are metadata-only
    # commits, and reads alias physical -> logical. An unmapped table
    # (mapping None) behaves exactly as before — zero read/write
    # overhead until the first rename/drop.
    # Cites reference behavior gap: the reference (sb-ai-lab/RePlay)
    # has no table format at all; this follows the public Delta Lake
    # column-mapping protocol (name mode) re-expressed for this log.

    def _mapping(self, version: Optional[int] = None):
        return self._fold_state(version).mapping

    @staticmethod
    def _to_physical(df, mapping, keep=()):
        """Logical frame -> physical columns for a file write (the
        inverse of :meth:`_scan`'s aliasing); ``keep`` passes helper
        columns (z-order keys) through untouched."""
        if mapping is None:
            return df
        cols = [
            F.col(l).alias(p)
            for l, p in mapping.items()
            if l in df.columns
        ]
        cols += [F.col(c) for c in keep if c in df.columns]
        return df.select(*cols)

    # -- deletion vectors (merge-on-read row-level deletes) ------------------
    #
    # Delta-style DVs re-expressed for this log: ``delete(cond,
    # mode="dv")`` records the doomed rows' (file, row_index) pairs in
    # a parquet sidecar under ``_dv/`` instead of rewriting data files
    # — a 0.1% delete on a 100 TB table writes kilobytes, not
    # terabytes. Reads anti-join the scan against the pairs on
    # (parquet ``_metadata.file_path``, ``_metadata.row_index``);
    # every file rewrite goes through :meth:`_rewrite`, whose scan
    # materializes survivors and whose commit's ``remove`` pops the
    # pointers (its DV mode writes the merged sidecar and repoints
    # instead). The join key is the path suffix after the LAST
    # ``/data/`` segment (data-file dirs are uuid4, globally unique;
    # the scan side decodes Spark's URI form, :meth:`_scan_file_key`),
    # so shallow clones — whose commit keys are ``../src/data/...`` —
    # resolve the same sidecar rows without knowing the source root.
    # Cites reference behavior gap: the reference has no table format;
    # this follows the public Delta Lake deletion-vector protocol
    # shape (merge-on-read, vector-per-file, replaced-on-update).

    @staticmethod
    def _dv_file_key(col):
        """Join key for a stored table-relative path (possibly
        ``../src/data/...`` on a clone)."""
        return F.substring_index(
            F.concat(F.lit("/"), col.cast("string")), "/data/", -1
        )

    @staticmethod
    def _dv_suffix(rel: str) -> str:
        """Driver-side twin of :meth:`_dv_file_key`."""
        return ("/" + rel.replace(os.sep, "/")).rsplit("/data/", 1)[-1]

    @staticmethod
    def _scan_file_key(col):
        """The same key for a scanned ``_fp``: Spark reports the
        file as a URI, which percent-encodes what a hive dir name may
        hold (a space, ``%``), so the suffix is decoded back to the
        stored path's form — the decoding :meth:`_touched` applies on
        the driver. ``+`` is literal in a URI path and is kept from
        the form decoder; suffixes without an escape skip it."""
        suffix = F.substring_index(col, "/data/", -1)
        return F.when(
            F.instr(suffix, "%") > 0,
            F.url_decode(F.regexp_replace(suffix, r"\+", "%2B")),
        ).otherwise(suffix)

    def _dv_rows(
        self, dvs: dict, files_rel: Optional[List[str]] = None
    ) -> Optional[DataFrame]:
        """(file, row_index) pairs deleted from ``files_rel``
        (default all dv'd files) — one filtered read per distinct
        sidecar, restricted BY SUFFIX KEY to the files whose CURRENT
        pointer is that sidecar (a replaced sidecar may hold stale
        rows for repointed files; a clone's pointer keys differ from
        the sidecar's stored strings, the suffix key matches both)."""
        wanted = dvs if files_rel is None else {
            f: dv for f, dv in dvs.items() if f in set(files_rel)
        }
        if not wanted:
            return None
        by_sidecar: dict = {}
        for f, dv in wanted.items():
            by_sidecar.setdefault(dv, []).append(self._dv_suffix(f))
        out = None
        for dv, keys in sorted(by_sidecar.items()):
            # sidecar schema is engine-enforced at write
            # (_write_dv_sidecar casts to exactly these two columns);
            # passing it skips the per-read footer-inference job —
            # paid per sidecar per commit on the DV/CDF paths
            part = (
                self.spark.read.schema("file string, row_index long")
                .parquet(os.path.join(self.path, dv))
                .filter(self._dv_file_key(F.col("file")).isin(keys))
            )
            out = part if out is None else out.unionByName(part)
        return out

    _DV_BROADCAST_BYTES = 32 * 1024 * 1024

    def _dv_bytes(self, dv_map: dict) -> int:
        """Total on-disk bytes of the distinct sidecars in a pointer
        map — the zero-job broadcast gate for :meth:`_apply_dv`
        (driver-side stat calls, O(sidecars))."""
        total = 0
        for dv in set(dv_map.values()):
            root = os.path.join(self.path, dv)
            try:
                for name in _fs_list(root):
                    total += os.path.getsize(os.path.join(root, name))
            except OSError:
                return self._DV_BROADCAST_BYTES + 1  # unknown: no hint
        return total

    def _apply_dv(
        self, scan: DataFrame, dv_rows: DataFrame, small: bool = True
    ) -> DataFrame:
        """Anti-join a frame carrying materialized ``_fp``/``_ri``
        meta columns against deleted (file, row_index) pairs.
        ``small`` (decided by the caller from SIDECAR FILE SIZES —
        :meth:`_dv_bytes`, zero Spark jobs) adds the broadcast hint;
        a large vector set falls back to a shuffled anti-join."""
        pairs = dv_rows.select(
            self._dv_file_key(F.col("file")).alias("_dv_key"),
            F.col("row_index").cast("long").alias("_dv_ri"),
        )
        right = F.broadcast(pairs) if small else pairs
        cond = (self._scan_file_key(F.col("_fp")) == F.col("_dv_key")) & (
            F.col("_ri") == F.col("_dv_ri")
        )
        return scan.join(right, cond, "left_anti")

    def _write_dv_sidecar(self, pairs: DataFrame) -> str:
        """Write (file, row_index) pairs as a new sidecar; returns
        its table-relative path."""
        rel = os.path.join("_dv", uuid.uuid4().hex)
        pairs.select(
            F.col("file").cast("string"),
            F.col("row_index").cast("long"),
        ).coalesce(1).write.parquet(os.path.join(self.path, rel))
        return rel

    def _ddl_state(self):
        """(latest version, schema JSON, column mapping) for a
        metadata-only column commit; an unmapped table's mapping is
        the identity."""
        base = self.latest_version()
        if base < 0:
            raise FileNotFoundError(f"no commits at {self.path}")
        fold = self._fold_state(base)
        if not fold.schema_json:
            raise ValueError("table has no recorded schema")
        mapping = fold.mapping or {
            f["name"]: f["name"]
            for f in json.loads(fold.schema_json).get("fields", [])
        }
        return base, fold.schema_json, mapping

    def _guard_indexed_column(self, name: str, op: str) -> None:
        scfg = self._stats_config()
        if scfg and name in scfg.get("columns", []):
            raise ValueError(
                f"cannot {op} column {name!r}: it is stats-indexed "
                f"(enable_column_stats) — re-enable stats without it "
                f"first"
            )
        bcfg = self._bloom_config()
        if bcfg and name in bcfg.get("columns", []):
            raise ValueError(
                f"cannot {op} column {name!r}: it is bloom-indexed "
                f"(enable_bloom_index) — re-enable the index without "
                f"it first"
            )

    def add_column(self, name: str, dtype: str) -> int:
        """ADD COLUMN without rewriting a byte of data: a
        metadata-only commit extends the logical schema with a
        nullable column and assigns it a fresh physical slot.
        Existing files lack the physical column, so reads null-fill
        it (:meth:`_scan` reads every file with the table schema);
        later appends write real
        values into the slot. ``dtype`` is a DDL type string
        (``"int"``, ``"array<string>"``, ...)."""
        from pyspark.sql.types import DataType

        base, schema_json, mapping = self._ddl_state()
        if name in mapping:
            raise ValueError(f"column {name!r} already exists")
        dt = DataType.fromDDL(dtype)
        new_mapping = {**mapping, name: self._fresh_physical(name, mapping)}
        sj = json.loads(schema_json)
        sj["fields"].append(
            StructField(name, dt, True).jsonValue()
        )
        schema = StructType.fromJson(sj)
        return self._commit(
            "add_column", [], [], schema, base + 1,
            mapping=new_mapping,
        )

    def rename_column(self, old: str, new: str) -> int:
        """RENAME COLUMN without rewriting a byte of data: a
        metadata-only commit updates the logical schema and points
        the new logical name at the old PHYSICAL name. Time travel
        to pre-rename versions still reads the old name; appends
        after the rename write the new logical column into the old
        physical slot, so every file era stays one physical
        schema."""
        base, schema_json, mapping = self._ddl_state()
        if old not in mapping:
            raise ValueError(f"no such column: {old!r}")
        if new in mapping:
            raise ValueError(f"column {new!r} already exists")
        # stats/bloom configs are keyed by PHYSICAL name, which a
        # rename never changes — indexed columns rename freely
        new_mapping = {
            (new if k == old else k): v for k, v in mapping.items()
        }
        sj = json.loads(schema_json)
        for f in sj.get("fields", []):
            if f["name"] == old:
                f["name"] = new
        schema = StructType.fromJson(sj)
        return self._commit(
            "rename_column", [], [], schema, base + 1,
            mapping=new_mapping,
        )

    def drop_column(self, name: str) -> int:
        """DROP COLUMN without rewriting data: metadata-only — the
        physical column stays in existing files (time travel still
        sees it) but vanishes from the logical schema; the next
        rewrite of a file (delete/compact/merge) physically sheds
        it. Partition columns can't be dropped (the layout and the
        log-pruning metadata are keyed on them)."""
        base, schema_json, mapping = self._ddl_state()
        if name not in mapping:
            raise ValueError(f"no such column: {name!r}")
        if len(mapping) == 1:
            raise ValueError("cannot drop the table's only column")
        self._guard_indexed_column(mapping[name], "drop")
        pb = self._partition_columns(base)
        if pb and mapping[name] in pb:
            raise ValueError(
                f"cannot drop partition column {name!r}"
            )
        new_mapping = {
            k: v for k, v in mapping.items() if k != name
        }
        sj = json.loads(schema_json)
        sj["fields"] = [
            f for f in sj.get("fields", []) if f["name"] != name
        ]
        schema = StructType.fromJson(sj)
        return self._commit(
            "drop_column", [], [], schema, base + 1,
            mapping=new_mapping,
        )

    def _fresh_physical(self, logical: str, mapping: dict) -> str:
        """Physical name for a NEW logical column on a mapped table:
        the logical name itself unless some era already used it
        (e.g. drop then re-add — the old files still carry the old
        physical column, which must not be resurrected)."""
        used = set(mapping.values())
        for c in self._commits():
            m = c.get("column_mapping")
            if m:
                used.update(m.values())
            s = c.get("schema")
            if s:
                # pre-mapping eras wrote files under the then-logical
                # names — those are physical names on disk too
                used.update(
                    f["name"] for f in json.loads(s).get("fields", [])
                )
        if logical not in used:
            return logical
        return f"{logical}_{uuid.uuid4().hex[:8]}"

    def changes(
        self, start_version: int, end_version: Optional[int] = None
    ) -> DataFrame:
        """Row-level change feed over ``(start_version,
        end_version]`` — the Delta CDF shape: every row carries
        ``_change_type`` ('insert' | 'delete') and
        ``_commit_version``.

        Per-commit cost follows the operation's metadata, not the
        table: appends are pure inserts of the added files (no diff
        work at all); delete/merge commits diff ONLY the rewritten
        files (``exceptAll`` multiset semantics, so duplicate rows
        change-count correctly); compaction contributes nothing
        (layout change, same rows). An incremental consumer
        (`IncrementalDeduplicator`-style) reads this instead of
        re-scanning snapshots.
        """
        if end_version is None:
            end_version = self.latest_version()
        # CDF over (start, end] reads the REMOVE (pre-image) files of
        # commits start+1..end; commit v's removed files were live at
        # v-1 and are gone once vacuum's horizon passes v, so the
        # earliest admissible start is the horizon itself.
        self._check_time_travel(start_version)
        commits = [
            c
            for c in self._commits(after=start_version)
            if c["version"] <= end_version
        ]
        # every file the feed reads (added, pre-image or repointed)
        # is read with the END version's schema: a column renamed
        # mid-feed appears under its new name throughout (physical
        # identity is stable), one added mid-feed reads null before
        end = self._fold_state(end_version)
        if not end.schema_json:
            raise FileNotFoundError(f"no commits at {self.path}")
        parts: List[DataFrame] = []

        # running DV state from the feed start: a commit's "dv" key
        # repoints files without touching add/remove, so its row
        # delta is (pairs_after \ pairs_before) deletes plus
        # (pairs_before \ pairs_after) inserts (restore un-deletes)
        dv_state = dict(self._fold_state(start_version).dvs) if (
            start_version >= 0
        ) else {}

        for c in commits:
            op = c["operation"]
            dv_updates = c.get("dv") or {}
            repointed = [
                f
                for f in dv_updates
                if f not in c.get("remove", [])
                and f not in c.get("add", [])
            ]  # rewritten files diff through add/remove instead
            if repointed:
                # ONE scan of all repointed files per commit (not
                # one plan per file — a wide dv commit would
                # otherwise explode the feed's plan), diffed under
                # the pre- and post-commit vectors
                file_scan = self._scan(
                    end._replace(dvs={}), repointed, keep_meta=True
                )
                before_map = {
                    f: dv_state[f] for f in repointed if f in dv_state
                }
                after_map = {
                    f: dv_updates[f]
                    for f in repointed
                    if dv_updates[f] is not None
                }

                # a dv repoint changes visibility by ROW POSITION, so
                # the commit's delta is a set difference of the (file,
                # row_index) vectors themselves — O(changed positions)
                # — followed by one semi-join to fetch those rows.
                # (The previous shape materialized both full kept-row
                # sets and exceptAll'd them twice: two wide shuffles
                # of every surviving row in the touched files.)
                def _pos(dv_map):
                    pairs = (
                        self._dv_rows(dv_map, list(dv_map))
                        if dv_map
                        else None
                    )
                    if pairs is None:
                        return None
                    return pairs.select(
                        self._dv_file_key(F.col("file")).alias("_dv_key"),
                        F.col("row_index").cast("long").alias("_dv_ri"),
                    )

                bpos, apos = _pos(before_map), _pos(after_map)
                del_pos = (
                    apos.exceptAll(bpos) if bpos is not None else apos
                ) if apos is not None else None
                ins_pos = (
                    bpos.exceptAll(apos) if apos is not None else bpos
                ) if bpos is not None else None
                small = self._dv_bytes(
                    {**before_map, **after_map}
                ) <= self._DV_BROADCAST_BYTES

                def _rows_for(pos):
                    right = F.broadcast(pos) if small else pos
                    cond = (
                        self._scan_file_key(F.col("_fp"))
                        == F.col("_dv_key")
                    ) & (F.col("_ri") == F.col("_dv_ri"))
                    return file_scan.join(right, cond, "left_semi").drop(
                        "_fp", "_ri"
                    )

                for pos, kind in (
                    (del_pos, "delete"),
                    (ins_pos, "insert"),
                ):
                    if pos is None:
                        continue
                    parts.append(
                        _rows_for(pos).withColumn(
                            "_change_type", F.lit(kind)
                        ).withColumn(
                            "_commit_version",
                            F.lit(c["version"]).cast("int"),
                        )
                    )
            for f, new_dv in dv_updates.items():
                if new_dv is None:
                    dv_state.pop(f, None)
                else:
                    dv_state[f] = new_dv
            if op == "compact":
                for f in c.get("remove", []):
                    dv_state.pop(f, None)
                continue
            # added files read through the POST-commit deletion
            # vectors — a commit that re-adds a file together with a
            # dv pointer (restore across a compact back to a dv'd
            # era) must not report dv-deleted rows as inserts; the
            # pre-image files through their PRE-commit vectors —
            # otherwise a rewrite touching a dv'd file re-reports its
            # already-deleted rows as deletes
            added, removed = (
                self._scan(end._replace(dvs=dict(dv_state)), rel)
                if rel
                else None
                for rel in (c.get("add", []), c.get("remove", []))
            )
            if op == "append":
                ins, dels = added, None
            else:  # delete / overwrite / merge: diff rewritten files
                ins = (
                    added.exceptAll(removed)
                    if added is not None and removed is not None
                    else added
                )
                dels = (
                    removed.exceptAll(added)
                    if added is not None and removed is not None
                    else removed
                )
            for df, kind in ((ins, "insert"), (dels, "delete")):
                if df is None:
                    continue
                parts.append(
                    df.withColumn("_change_type", F.lit(kind)).withColumn(
                        "_commit_version", F.lit(c["version"]).cast("int")
                    )
                )
            for f in c.get("remove", []):
                dv_state.pop(f, None)
        if not parts:
            return self._scan(end, []).withColumn(
                "_change_type", F.lit("insert")
            ).withColumn("_commit_version", F.lit(0).cast("int")).limit(0)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # -- writes ------------------------------------------------------------

    def _write_data(self, df: DataFrame, num_files: Optional[int] = None) -> List[str]:
        sub = os.path.join("data", uuid.uuid4().hex)
        target = os.path.join(self.path, sub)
        out = df.coalesce(num_files) if num_files else df
        out.write.mode("overwrite").parquet(target)
        return [
            os.path.join(sub, n)
            for n in _fs_list(target)
            if n.endswith(".parquet")
        ]

    def _write_data_partitioned(
        self, df: DataFrame, partition_by: Sequence[str]
    ):
        """Hive-style partitioned write that keeps files
        SELF-CONTAINED: the layout partitions on duplicated
        ``_p_<col>`` path columns, so the real columns stay physical
        in every parquet file — :meth:`_rewrite` and plain
        ``read.parquet(files)`` compose with zero
        read-path special cases, while the ``col=value`` path
        segments give the commit log per-file partition values for
        METADATA-ONLY pruning (no footer or data I/O). Returns
        ``(relpaths, {relpath: {col: str_value}})``."""
        from urllib.parse import unquote

        pb = list(partition_by)
        for c in pb:
            if c not in df.columns:
                raise ValueError(f"partition column {c!r} not in frame")
        sub = os.path.join("data", uuid.uuid4().hex)
        target = os.path.join(self.path, sub)
        shadow = [f"_p_{c}" for c in pb]
        out = df
        for c, s in zip(pb, shadow):
            out = out.withColumn(s, F.col(c).cast("string"))
        out.write.partitionBy(*shadow).mode("overwrite").parquet(target)
        files: List[str] = []
        parts: dict = {}
        for dirpath, _dirs, names in os.walk(target):
            for n in names:
                if not n.endswith(".parquet"):
                    continue
                rel = os.path.relpath(os.path.join(dirpath, n), self.path)
                pvals = {}
                for seg in rel.split(os.sep):
                    if "=" in seg and seg.startswith("_p_"):
                        key, _, raw = seg.partition("=")
                        val = unquote(raw)
                        pvals[key[3:]] = (
                            None
                            if val == "__HIVE_DEFAULT_PARTITION__"
                            else val
                        )
                files.append(rel)
                parts[rel] = pvals
        files.sort()
        return files, parts

    # -- log-embedded column stats --------------------------------------------

    def _stats_config(self) -> Optional[dict]:
        try:
            return json.loads(
                _fs_read(
                    os.path.join(self._log_dir, "_stats_columns.json")
                )
            )
        except (OSError, ValueError):
            return None

    def enable_column_stats(self, columns: Sequence[str]) -> None:
        """Record per-file min/max for ``columns`` IN the commit log
        (the Delta ``dataSkippingNumIndexedCols`` shape): every
        future commit embeds the stats of the files it adds — one
        parallel footer pass over ONLY the new files — and
        ``read_where`` then prunes range predicates during the
        driver-side fold, before any parquet footer is opened. Live
        files are indexed immediately. Conservative throughout:
        files without a recorded stat for a column are kept."""
        mapping = self._mapping()
        if mapping is not None:
            columns = [mapping.get(c, c) for c in columns]
        cfg = {"columns": sorted(set(columns))}
        os.makedirs(self._log_dir, exist_ok=True)
        with open(
            os.path.join(self._log_dir, "_stats_columns.json"), "w"
        ) as fh:
            fh.write(json.dumps(cfg))
        if self.latest_version() >= 0:
            # backfill as a stats-only commit so the fold sees them
            rels = [
                os.path.relpath(p, self.path)
                for p in self.snapshot_files()
            ]
            stats = self._stats_for_files(rels, cfg)
            if stats:
                schema_json = self._fold_state(
                    self.latest_version()
                ).schema_json
                payload = {
                    "version": self.latest_version() + 1,
                    "operation": "collect_stats",
                    "add": [],
                    "remove": [],
                    "schema": schema_json,
                    "stats": stats,
                }
                name = os.path.join(
                    self._log_dir,
                    f"{payload['version']:010d}.json",
                )
                if not _fs_write_exclusive(
                    name, json.dumps(payload)
                ):
                    raise ConcurrentWriteError(
                        f"version {payload['version']} already "
                        "committed"
                    )

    def _stats_for_files(
        self, rel_files: Sequence[str], cfg: dict
    ) -> dict:
        """{relpath: {col: {t, min, max}}} via one parallel footer
        pass (collect_file_stats) over the given files."""
        import datetime as _dt

        from replay_spark.utils.layout import (
            collect_file_stats,
            collect_file_stats_rows,
        )

        if not rel_files:
            return {}
        paths = [os.path.join(self.path, r) for r in rel_files]
        if len(paths) <= 16:
            # per-commit stats cover only the files that commit adds —
            # usually a handful. Reading those footers on the driver
            # (same code as the distributed pass) skips a whole Spark
            # job (~0.1 s task scheduling + Python-worker round-trip)
            # per commit; backfills over many files still fan out.
            rows = collect_file_stats_rows(paths, cfg["columns"])
        else:
            rows = collect_file_stats(
                self.spark, paths, cfg["columns"]
            ).collect()
        out: dict = {}
        for r in rows:
            if r["column"] is None:
                continue
            rel = os.path.relpath(r["file"], self.path)
            if r["min_long"] is not None:
                ent = {"t": "long", "min": r["min_long"],
                       "max": r["max_long"]}
            elif r["min_double"] is not None:
                ent = {"t": "double", "min": r["min_double"],
                       "max": r["max_double"]}
            elif r["min_str"] is not None:
                ent = {"t": "str", "min": r["min_str"],
                       "max": r["max_str"]}
            elif r["min_ts"] is not None:
                ent = {
                    "t": "ts",
                    "min": r["min_ts"].isoformat(),
                    "max": r["max_ts"].isoformat(),
                }
            else:
                continue
            out.setdefault(rel, {})[r["column"]] = ent
        return out

    @staticmethod
    def _stat_overlaps(ent: Optional[dict], lo, hi) -> bool:
        """Conservative log-stat interval test: False ONLY when the
        recorded [min, max] provably misses [lo, hi]; any doubt
        (missing stat, type mismatch) keeps the file."""
        if ent is None:
            return True
        import datetime as _dt

        try:
            mn, mx = ent["min"], ent["max"]
            if ent.get("t") == "ts":
                mn = _dt.datetime.fromisoformat(mn)
                mx = _dt.datetime.fromisoformat(mx)
                if isinstance(lo, _dt.date) and not isinstance(
                    lo, _dt.datetime
                ):
                    lo = _dt.datetime.combine(lo, _dt.time())
                if isinstance(hi, _dt.date) and not isinstance(
                    hi, _dt.datetime
                ):
                    hi = _dt.datetime.combine(hi, _dt.time())
            if lo is not None and mx < lo:
                return False
            if hi is not None and mn > hi:
                return False
        except (TypeError, KeyError, ValueError):
            return True
        return True

    # -- bloom skip indexes --------------------------------------------------

    def _bloom_config(self) -> Optional[dict]:
        try:
            return json.loads(
                _fs_read(
                    os.path.join(self._log_dir, "_bloom_index.json")
                )
            )
        except (OSError, ValueError):
            return None

    def _bloom_sidecar(self, rel: str, column: str) -> str:
        flat = rel.replace(os.sep, "__").replace("/", "__")
        return os.path.join(
            self._log_dir, "blooms", f"{flat}.{column}.json"
        )

    def enable_bloom_index(
        self,
        columns: Sequence[str],
        bits_per_key: int = 10,
        num_hashes: int = 7,
    ) -> None:
        """Declare equality-skip Bloom indexes over ``columns`` —
        the point-predicate complement of the footer min/max stats
        (which can't prune ``k = v`` when every file spans the key
        domain: hash-distributed ids, fingerprints). Every future
        commit builds one sidecar bitset per (added file, column) —
        a parallel metadata pass over ONLY the new files — and the
        current live files are indexed immediately. ``read_where``
        consults the bitsets for point bounds; files without a
        sidecar are kept (no false negatives, ever)."""
        mapping = self._mapping()
        if mapping is not None:
            columns = [mapping.get(c, c) for c in columns]
        cfg = {
            "columns": sorted(set(columns)),
            "bits_per_key": int(bits_per_key),
            "num_hashes": int(num_hashes),
        }
        os.makedirs(self._log_dir, exist_ok=True)
        with open(
            os.path.join(self._log_dir, "_bloom_index.json"), "w"
        ) as fh:
            fh.write(json.dumps(cfg))
        if self.latest_version() >= 0:
            self._write_blooms(
                [
                    os.path.relpath(p, self.path)
                    for p in self.snapshot_files()
                ],
                cfg,
            )

    def _write_blooms(self, rel_files: Sequence[str], cfg: dict) -> None:
        from replay_spark.utils.bloom_index import build_file_blooms

        todo = [
            rel
            for rel in rel_files
            if not all(
                os.path.exists(self._bloom_sidecar(rel, c))
                for c in cfg["columns"]
            )
        ]
        if not todo:
            return
        rows = build_file_blooms(
            self.spark,
            [os.path.join(self.path, r) for r in todo],
            cfg["columns"],
            bits_per_key=cfg["bits_per_key"],
            num_hashes=cfg["num_hashes"],
        )
        os.makedirs(os.path.join(self._log_dir, "blooms"), exist_ok=True)
        for r in rows:
            rel = os.path.relpath(r["file"], self.path)
            with open(self._bloom_sidecar(rel, r["column"]), "w") as fh:
                fh.write(
                    json.dumps(
                        {
                            "m": r["m"],
                            "k": r["k"],
                            "n_keys": r["n_keys"],
                            "bits": r["bits"],
                        }
                    )
                )

    def _bloom_admits(self, rel: str, points: dict) -> bool:
        """Conservative: False only when SOME indexed column's
        bitset says the probed value is definitely absent."""
        from replay_spark.utils.bloom_index import bloom_might_contain

        for col, val in points.items():
            try:
                bloom = json.loads(
                    _fs_read(self._bloom_sidecar(rel, col))
                )
            except (OSError, ValueError):
                continue  # no sidecar -> keep
            if not bloom_might_contain(bloom, val):
                return False
        return True

    def _commit(
        self,
        operation: str,
        add: Sequence[str],
        remove: Sequence[str],
        schema: StructType,
        expected_version: int,
        txn: Optional[dict] = None,
        parts: Optional[dict] = None,
        mapping: object = _MAPPING_UNSET,
        dv: Optional[dict] = None,
        user_metadata: Optional[dict] = None,
        constraint_update: Optional[dict] = None,
        generated_update: Optional[dict] = None,
    ) -> int:
        cfg = self._bloom_config()
        if cfg and add:
            # sidecars are keyed by data-file path, not version, so
            # building BEFORE the commit race is idempotent (retries
            # skip files already indexed); orphaned sidecars from a
            # failed commit go with their orphan files at vacuum
            self._write_blooms(list(add), cfg)
        scfg = self._stats_config()
        stats = (
            self._stats_for_files(list(add), scfg)
            if scfg and add
            else None
        )
        os.makedirs(self._log_dir, exist_ok=True)
        version = expected_version
        payload = {
            "version": version,
            "operation": operation,
            # wall-clock commit time (unix micros) — the TIMESTAMP
            # AS OF resolution key; absent in pre-r11 logs, where
            # version_as_of falls back to the commit file's mtime
            "commit_ts": int(time.time() * 1_000_000),
            "add": list(add),
            "remove": list(remove),
            "schema": json.dumps(schema.jsonValue()),
        }
        if txn:
            payload["txn"] = txn
        if parts:
            payload["parts"] = parts
        if stats:
            payload["stats"] = stats
        if mapping is not _MAPPING_UNSET:
            # explicit None is meaningful (restore to an unmapped
            # era); ABSENCE of the key means "mapping unchanged"
            payload["column_mapping"] = mapping
        if dv is not None:
            # deletion-vector pointer updates: {file: sidecar_rel}
            # re-points, {file: None} clears (restore)
            payload["dv"] = dv
        if user_metadata:
            # Delta commitInfo.userMetadata: caller-supplied audit
            # context (job id, ticket, pipeline run) riding the
            # commit record — surfaced by history()
            payload["user_metadata"] = dict(user_metadata)
        if constraint_update is not None:
            # CHECK constraint delta: {name: expr} adds,
            # {name: None} drops (fold in _table_constraints)
            payload["constraints"] = dict(constraint_update)
        if generated_update is not None:
            # generated-column delta, same fold contract
            payload["generated"] = dict(generated_update)
        # Delta commitInfo.operationMetrics shape: cheap O(add)
        # driver-side stats riding every commit — history() surfaces
        # them, so "which commit wrote the terabyte" answers from
        # metadata alone
        added_bytes = 0
        for rel in add:
            try:
                added_bytes += os.path.getsize(
                    os.path.join(self.path, rel)
                )
            except OSError:
                pass
        payload["operation_metrics"] = {
            "num_added_files": len(add),
            "num_removed_files": len(remove),
            "added_bytes": added_bytes,
            "num_dv_files": len(dv) if dv else 0,
        }
        features = []
        if payload.get("column_mapping"):
            features.append("column_mapping")
        if payload.get("dv"):
            features.append("deletion_vectors")
        if features:
            payload["features"] = features
        record = json.dumps(payload)
        name = os.path.join(self._log_dir, f"{version:010d}.json")
        if not _fs_write_exclusive(name, record):
            raise ConcurrentWriteError(f"version {version} already committed")
        every = self.auto_checkpoint_every
        if every and version > 0 and version % every == 0:
            try:
                self.checkpoint()
            except ConcurrentWriteError:
                pass  # a concurrent writer checkpointed this version
        return version

    @staticmethod
    def _schema_shape(schema_json: str) -> list:
        """names + types only — nullability differences are
        write-compatible (parquet re-reads report every column
        nullable)."""
        return sorted(
            (f["name"], json.dumps(f["type"], sort_keys=True))
            for f in json.loads(schema_json).get("fields", [])
        )

    def _check_logical_conflict(
        self,
        operation: str,
        remove: Sequence[str],
        dv: Optional[dict],
        base_schema_json: str,
        commits: List[dict],
    ) -> None:
        """Delta-style conflict detection for a commit prepared
        against a now-stale snapshot: raise ``ConcurrentWriteError``
        unless every intervening commit is LOGICALLY DISJOINT from
        this one, in which case the caller may safely re-commit at
        the new tip.

        The matrix (WriteSerializable, the Delta default):

        * a concurrent **append** never conflicts with a rewrite /
          dv / compact — appended rows were not visible to this
          operation's predicate scan and stay live untouched;
        * a concurrent commit that **removed or dv-repointed any
          file this commit removes or dv-repoints** conflicts —
          this commit's rewrite/merged-vector decisions about those
          files are stale (delete-vs-compact of the same file, two
          dv-deletes of the same file, …);
        * a concurrent **schema or column-mapping change**
          (merge-schema append, rename/drop, restore across eras)
          conflicts with everything — the prepared files were
          written under the old physical schema.
        """
        mine = set(remove) | set(dv or {})
        base_shape = self._schema_shape(base_schema_json)
        for c in commits:
            if "column_mapping" in c:
                raise ConcurrentWriteError(
                    f"{operation} conflicts with concurrent "
                    f"{c['operation']} at version {c['version']}: "
                    f"column mapping changed"
                )
            if c.get("schema") and self._schema_shape(
                c["schema"]
            ) != base_shape:
                raise ConcurrentWriteError(
                    f"{operation} conflicts with concurrent "
                    f"{c['operation']} at version {c['version']}: "
                    f"table schema changed"
                )
            if c.get("constraints") or c.get("generated"):
                # rows this commit writes were never validated
                # against the concurrently added/changed CHECK or
                # generated-column rule set
                raise ConcurrentWriteError(
                    f"{operation} conflicts with concurrent "
                    f"{c['operation']} at version {c['version']}: "
                    f"table constraints/generation rules changed"
                )
            theirs = set(c.get("remove") or []) | set(c.get("dv") or {})
            overlap = mine & theirs
            if overlap:
                raise ConcurrentWriteError(
                    f"{operation} conflicts with concurrent "
                    f"{c['operation']} at version {c['version']}: "
                    f"both touch {sorted(overlap)[:3]}"
                )

    def _commit_reconciled(
        self,
        operation: str,
        add: Sequence[str],
        remove: Sequence[str],
        schema: StructType,
        base_version: int,
        txn: Optional[dict] = None,
        parts: Optional[dict] = None,
        dv: Optional[dict] = None,
        user_metadata: Optional[dict] = None,
        max_retries: int = 3,
    ) -> int:
        """Commit at ``base_version + 1``; on a version collision,
        re-read the log and RETRY AT THE TIP iff every commit that
        won the race is logically disjoint (see
        :meth:`_check_logical_conflict`) — a dv-delete racing an
        append no longer loses, while a dv-delete racing a compact
        of the same file still fails, as it must."""
        base_schema_json = json.dumps(schema.jsonValue())
        attempt = base_version
        for _ in range(max_retries + 1):
            try:
                return self._commit(
                    operation, add, remove, schema, attempt + 1,
                    txn=txn, parts=parts, dv=dv,
                    user_metadata=user_metadata,
                )
            except ConcurrentWriteError:
                tip = self.latest_version()
                intervening = [
                    c
                    for c in self._commits(after=attempt)
                    if c["version"] <= tip
                ]
                self._check_logical_conflict(
                    operation, remove, dv, base_schema_json, intervening
                )
                attempt = tip
        raise ConcurrentWriteError(
            f"{operation} retries exhausted at {self.path}"
        )

    def append(
        self,
        df: DataFrame,
        max_retries: int = 3,
        merge_schema: bool = False,
        partition_by: Optional[Sequence[str]] = None,
        constraints=None,
        user_metadata: Optional[dict] = None,
    ) -> int:
        """Add rows; blind appends never conflict logically, so a
        version race just retries at the next version. A schema that
        differs from the table's requires ``merge_schema=True``
        (additive evolution — older files read the new columns as
        null); without it the append is rejected, the
        writer-side-enforcement half of schema-on-write. A merged
        append keeps every table column (those the batch lacks read
        null in its rows) and adds the batch's new ones after them;
        changing an existing column's type raises ``ValueError``.

        ``partition_by`` writes hive-partitioned files and records
        each file's partition values IN THE COMMIT — ``read_where``
        then prunes those files from log metadata alone, before any
        footer is opened (the Delta partition-pruning shape). Files
        stay self-contained (the partition columns remain physical),
        so every other operation is unchanged.

        ``constraints`` (a :class:`replay_spark.quality.
        ConstraintSuite`) gates the write — the quality half of
        schema-on-write: the batch is verified BEFORE any file
        lands, and a failing constraint raises ``ValueError`` naming
        it, so bad data never becomes a committed version (one extra
        scan of the NEW batch only)."""
        if constraints is not None:
            report = constraints.run(df).collect()
            failed = [r for r in report if not r["passed"]]
            if failed:
                detail = "; ".join(
                    f"{r['constraint']}({r['column']}): "
                    f"{r['metric_num']}/{r['metric_den']}"
                    for r in failed
                )
                raise ValueError(
                    f"append rejected — {len(failed)} constraint(s) "
                    f"failed: {detail}"
                )
        current = self.latest_version()
        if current >= 0:
            # fill omitted generated columns / validate supplied ones
            # BEFORE the schema-shape check sees the frame
            df = self._apply_generated(df, current)
            # stored CHECK constraints gate EVERY writer (the
            # caller-supplied suite above gates only this call)
            self._enforce_table_constraints(df, current)

        def recorded(version: int) -> StructType:
            """The schema the commit records on top of ``version``."""
            if not merge_schema or version < 0:
                return df.schema
            table = StructType.fromJson(
                json.loads(self._fold_state(version).schema_json)
            )
            batch = {f.name: f for f in df.schema}
            for f in table:
                if f.name in batch and _type_shape(f.dataType) != _type_shape(
                    batch[f.name].dataType
                ):
                    raise ValueError(
                        f"merge_schema cannot change the type of column "
                        f"{f.name!r}: {f.dataType.simpleString()} -> "
                        f"{batch[f.name].dataType.simpleString()}"
                    )
            return StructType(
                [
                    batch.get(f.name)
                    or StructField(f.name, f.dataType, True, f.metadata)
                    for f in table
                ]
                + [f for f in df.schema if f.name not in table.names]
            )

        schema = recorded(current)
        if current >= 0 and not merge_schema:
            stored = self._fold_state(current).schema_json

            def _shape(schema_json: dict) -> list:
                # names + types only: nullability differences are
                # write-compatible (rewrite commits re-read through
                # parquet, which reports every column nullable)
                return [
                    (f["name"], f["type"])
                    for f in schema_json.get("fields", [])
                ]

            if stored is not None and _shape(json.loads(stored)) != _shape(
                df.schema.jsonValue()
            ):
                raise ValueError(
                    "append schema differs from table schema; pass "
                    "merge_schema=True for additive evolution"
                )
        mapping = self._mapping(current) if current >= 0 else None
        new_mapping = _MAPPING_UNSET
        out = df
        pb = list(partition_by) if partition_by else None
        if mapping is not None:
            fresh = {
                c: self._fresh_physical(c, mapping)
                for c in df.columns
                if c not in mapping
            }
            if fresh:
                mapping = {**mapping, **fresh}
                new_mapping = mapping
            out = self._to_physical(df, mapping)
            if pb:
                pb = [mapping[c] for c in pb]
        parts = None
        if pb:
            files, parts = self._write_data_partitioned(out, pb)
        else:
            files = self._write_data(out)
        version = None
        for _ in range(max_retries):
            try:
                version = self._commit(
                    "append", files, [], schema,
                    self.latest_version() + 1, parts=parts,
                    mapping=new_mapping,
                    user_metadata=user_metadata,
                )
                break
            except ConcurrentWriteError:
                # a concurrent writer may have ADDED a constraint
                # this batch was never checked against — re-enforce
                # before retrying at the new tip; a generation-rule
                # change cannot be patched post-write, so it fails
                tip = self.latest_version()
                if self._generated_columns(tip) != (
                    self._generated_columns(current)
                    if current >= 0
                    else {}
                ):
                    raise ConcurrentWriteError(
                        "append conflicts with a concurrent "
                        "generated-column change"
                    )
                if self._table_constraints(tip) != (
                    self._table_constraints(current)
                    if current >= 0
                    else {}
                ):
                    self._enforce_table_constraints(df, tip)
                schema = recorded(tip)
                continue
        if version is None:
            raise ConcurrentWriteError("append retries exhausted")
        limit = self.auto_compact_small_files
        if limit:
            small = 0
            for rel in self._fold_state(version).live:
                try:
                    if (
                        os.path.getsize(os.path.join(self.path, rel))
                        < self.small_file_bytes
                    ):
                        small += 1
                except OSError:
                    continue
            if small > limit:
                # bin-pack ONLY the small-file tail (Delta autoCompact
                # semantics) — the write-time hook must never balloon
                # into a full-table rewrite on a 100 TB table
                version = self._compact_small_files(
                    max(self.small_file_bytes * 8, 128 * 1024 * 1024),
                    self.small_file_bytes,
                )
        return version

    def restore(self, version: int) -> int:
        """RESTORE TABLE TO VERSION AS OF: commit a new version whose
        live file set is exactly ``version``'s snapshot — time travel
        made current, history preserved (nothing is deleted; the
        change feed sees the delta like any other commit). Rolls back
        bad writes without rewriting a byte of data. Re-added
        files' partition values are re-recorded in the restore
        commit, so log-level pruning survives the rollback."""
        self._check_time_travel(version)
        tgt = self._fold_state(version)
        target = set(tgt.live)
        current_version = self.latest_version()
        if version == current_version:
            return current_version
        cur = self._fold_state(current_version)
        current = set(cur.live)
        schema = StructType.fromJson(
            json.loads(tgt.schema_json or cur.schema_json)
        )
        add = sorted(target - current)
        add_set = set(add)
        parts = {k: v for k, v in tgt.parts.items() if k in add_set}
        # restore the target era's column mapping too (explicit None
        # resets a mapped table back to its unmapped era)
        cur_mapping = cur.mapping
        # deletion vectors restore with the era: re-point every
        # target-live file whose effective post-restore pointer
        # (popped if re-added, else the current one) differs from the
        # target's — None entries CLEAR (un-delete; the change feed
        # reports the reappearing rows as inserts)
        dv_diff = {}
        for f in target:
            want = tgt.dvs.get(f)
            have = None if f in add_set else cur.dvs.get(f)
            if want != have:
                dv_diff[f] = want
        return self._commit(
            "restore",
            add,
            sorted(current - target),
            schema,
            current_version + 1,
            parts=parts or None,
            mapping=(
                tgt.mapping
                if tgt.mapping != cur_mapping
                else _MAPPING_UNSET
            ),
            dv=dv_diff or None,
        )

    def clone(
        self,
        dest_path: str,
        version: Optional[int] = None,
        deep: bool = False,
    ) -> "LakeTable":
        """CLONE TABLE (Delta-shaped): a new table whose v0 commit
        references this table's live files — ``deep=False`` copies
        ZERO data bytes (pure metadata, O(files) log entries), so a
        100 TB table clones in milliseconds; ``deep=True`` copies the
        files for a physically independent table. Either way the two
        tables evolve independently afterwards: the clone's
        deletes/merges rewrite into its OWN data directory and the
        source never sees them (file-granular rewrites carry
        untouched source files by reference). Partition-value
        metadata rides along, so log-level pruning works on the
        clone.

        Shallow-clone caveats (same as Delta's): a retention
        ``vacuum`` on the SOURCE can delete files the clone still
        references — deep-clone or compact the clone first if the
        source will be vacuumed; streaming txn high-water marks are
        NOT copied (the clone is a new table for ingestion
        purposes); bloom sidecars are not copied (reads stay correct,
        point-skip just starts cold). A source with several schema
        eras (appends under ``merge_schema=True``) clones as one
        commit of its recorded schema; every read applies that schema,
        so older files read null for the columns they lack."""
        src_version = (
            self.latest_version() if version is None else version
        )
        self._check_time_travel(src_version)
        fold = self._fold_state(src_version)
        live, parts, mapping, src_dvs = (
            fold.live, fold.parts, fold.mapping, fold.dvs
        )
        if not live:
            raise FileNotFoundError(
                f"no snapshot at {self.path}@{src_version}"
            )
        out = LakeTable(self.spark, dest_path)
        if out.latest_version() >= 0:
            raise ValueError(f"clone target {dest_path!r} exists")
        schema = StructType.fromJson(json.loads(fold.schema_json))
        if deep:
            if src_dvs:
                # deep clone flattens file layout, which breaks the
                # /data/-suffix DV join key — materialize first
                raise ValueError(
                    "cannot deep-clone a table with deletion "
                    "vectors; compact() the source first"
                )
            add, cparts = [], {}
            for rel in live:
                src = os.path.join(self.path, rel)
                dst_rel = os.path.join(
                    "data", os.path.basename(rel)
                )
                dst = os.path.join(dest_path, dst_rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copyfile(src, dst)
                add.append(dst_rel)
                if rel in parts:
                    cparts[dst_rel] = parts[rel]
        else:
            add = [
                os.path.relpath(
                    os.path.join(self.path, rel), dest_path
                )
                for rel in live
            ]
            cparts = {
                os.path.relpath(
                    os.path.join(self.path, k), dest_path
                ): v
                for k, v in parts.items()
            }
        cdvs = None
        if src_dvs and not deep:
            # shallow clone: re-key both pointer and sidecar paths
            # into the clone's frame of reference; the /data/-suffix
            # join key keeps the sidecar rows resolvable
            cdvs = {
                os.path.relpath(
                    os.path.join(self.path, f), dest_path
                ): os.path.relpath(
                    os.path.join(self.path, dv), dest_path
                )
                for f, dv in src_dvs.items()
                if f in set(live)
            }
        cons = self._table_constraints(version)
        gens = self._generated_columns(version)
        out._commit(
            "clone", sorted(add), [], schema, 0, parts=cparts or None,
            mapping=(mapping if mapping is not None else _MAPPING_UNSET),
            dv=cdvs,
            constraint_update=cons or None,
            generated_update=gens or None,
        )
        return out

    # (clone note: log-embedded column stats do not carry over — the
    # clone re-collects them lazily if enable_column_stats is called;
    # reads stay correct either way, stats only ever skip)

    # -- tags ----------------------------------------------------------------

    def _tags(self) -> dict:
        """Read the tag pins. 'File absent' is the empty tag set;
        'file present but unreadable/corrupt' RAISES — vacuum's
        refuse-to-GC-under-tags guard consults this map, so silently
        treating a torn file as 'no tags' would let GC delete a
        pinned snapshot."""
        path = os.path.join(self._log_dir, "_tags.json")
        if not os.path.exists(path):
            return {}
        try:
            return json.loads(_fs_read(path))
        except (OSError, ValueError) as exc:
            raise ValueError(
                f"tag file {path} exists but is unreadable/corrupt "
                f"({exc}); refusing to treat it as 'no tags' — "
                "restore or delete it explicitly"
            ) from exc

    def _write_tags(self, tags: dict) -> None:
        """Atomic replace (temp file + rename) so a torn write can
        never drop every tag pin."""
        path = os.path.join(self._log_dir, "_tags.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(json.dumps(tags))
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)

    def tag(self, name: str, version: Optional[int] = None) -> int:
        """Name a version (Iceberg-tag shape): ``read(tag=name)``
        then pins that snapshot forever — the device that makes
        "the exact table train run 2024-07 saw" a stable reference
        instead of a version number in a notebook. Tags are
        immutable (re-tagging a name to a different version raises;
        delete first with :meth:`untag`), and tagging below the
        vacuum horizon raises — a tag must stay readable."""
        if not name or "/" in name or name.startswith("_"):
            raise ValueError(f"invalid tag name: {name!r}")
        latest = self.latest_version()
        if latest < 0:
            raise FileNotFoundError(f"no commits at {self.path}")
        version = latest if version is None else int(version)
        if not 0 <= version <= latest:
            raise ValueError(f"no version {version} to tag")
        self._check_time_travel(version)
        tags = self._tags()
        if name in tags and tags[name] != version:
            raise ValueError(
                f"tag {name!r} already pins version {tags[name]}; "
                "untag() first"
            )
        tags[name] = version
        self._write_tags(tags)
        return version

    def untag(self, name: str) -> None:
        tags = self._tags()
        tags.pop(name, None)
        self._write_tags(tags)

    def resolve_tag(self, name: str) -> int:
        tags = self._tags()
        if name not in tags:
            raise KeyError(
                f"unknown tag {name!r}; known: {sorted(tags)}"
            )
        return int(tags[name])

    def read_tag(self, name: str) -> DataFrame:
        """The snapshot a tag pins (``read(version=resolve_tag)``)."""
        return self.read(version=self.resolve_tag(name))

    def replicate(self, dest_path: str) -> int:
        """Incremental LOG-REPLAY replication (DR / cross-region
        sync): copy the data files each not-yet-replicated commit
        adds and write the SAME commit record at the destination —
        the replica is byte-identical at EVERY version (time travel,
        change feed, txn idempotence markers and partition metadata
        all carry over verbatim), and a re-run costs only the
        commits landed since the last sync. Zero recompute, zero
        shuffle — pure metadata + file copies, the shape a 100 TB
        table can actually afford to sync continuously.

        The destination must be empty or a previous replica of THIS
        table (same version lineage — verified against the shared
        prefix's commit payloads). A retention-vacuumed source can't
        replay its pre-horizon commits' files; replication then
        raises with the missing file named (seed such tables with
        ``clone(deep=True)`` instead). Returns the last replicated
        version (-1 if the source is empty)."""
        dest = LakeTable(self.spark, dest_path)
        src_names = self._commit_names()
        if not src_names:
            return -1
        dest_latest = dest.latest_version()
        # lineage check over the shared prefix (cheap: newest shared
        # commit only — records are written verbatim, so one match
        # implies the chain matches)
        if dest_latest >= 0:
            shared = [v for v, _n in src_names if v <= dest_latest]
            if not shared or shared[-1] != dest_latest:
                raise ValueError(
                    f"{dest_path!r} is not a replica of this table "
                    "(version lineage mismatch)"
                )
            v = shared[-1]
            name = f"{v:010d}.json"
            if _fs_read(
                os.path.join(self._log_dir, name)
            ) != _fs_read(os.path.join(dest._log_dir, name)):
                raise ValueError(
                    f"{dest_path!r} diverged from this table at "
                    f"version {v} — not a replica"
                )
        os.makedirs(dest._log_dir, exist_ok=True)
        last = dest_latest
        for version, name in src_names:
            if version <= dest_latest:
                continue
            record = _fs_read(os.path.join(self._log_dir, name))
            payload = json.loads(record)
            for dv in set(
                v for v in (payload.get("dv") or {}).values() if v
            ):
                src_dv = os.path.join(self.path, dv)
                dst_dv = os.path.join(dest_path, dv)
                if not os.path.exists(src_dv):
                    raise FileNotFoundError(
                        f"cannot replicate commit {version}: DV "
                        f"sidecar {dv!r} is gone (vacuumed?)"
                    )
                if not os.path.exists(dst_dv):
                    shutil.copytree(src_dv, dst_dv)
            for rel in payload.get("add", []):
                src_file = os.path.join(self.path, rel)
                dst_file = os.path.join(dest_path, rel)
                if not os.path.exists(src_file):
                    raise FileNotFoundError(
                        f"cannot replicate commit {version}: source "
                        f"file {rel!r} is gone (vacuumed?) — seed "
                        "with clone(deep=True) instead"
                    )
                os.makedirs(os.path.dirname(dst_file), exist_ok=True)
                shutil.copyfile(src_file, dst_file)
            if not _fs_write_exclusive(
                os.path.join(dest._log_dir, name), record
            ):
                raise ConcurrentWriteError(
                    f"replica version {version} already committed"
                )
            last = version
        return last

    def _vacuum_horizon(self) -> int:
        """Earliest still-readable version (-1 = everything): the
        durable high-water mark written by retention vacuums."""
        try:
            payload = json.loads(
                _fs_read(os.path.join(self._log_dir, "_vacuum.json"))
            )
            return int(payload["horizon"])
        except (OSError, ValueError, KeyError, TypeError):
            return -1

    def earliest_readable_version(self) -> int:
        """First version time travel can still reach (0 if the table
        has never been retention-vacuumed)."""
        return max(0, self._vacuum_horizon())

    def _check_time_travel(self, version: Optional[int]) -> None:
        if version is None:
            return
        h = self._vacuum_horizon()
        if version < h:
            raise ValueError(
                f"time travel to version {version} is no longer "
                f"possible: vacuum removed data files only reachable "
                f"from versions before {h} (earliest readable "
                f"version). Lower the vacuum horizon next time if "
                "older snapshots must stay readable."
            )

    def vacuum(
        self,
        horizon_version: Optional[int] = None,
        retain_last: Optional[int] = None,
        dry_run: bool = False,
    ) -> List[str]:
        """Delete unreachable data files. With no arguments this is
        maximally conservative — only ORPHANS go (files on disk that
        appear in NO commit's ``add`` list: crashed writers); every
        committed version stays readable forever.

        With a retention window (``horizon_version=h``, or
        ``retain_last=k`` ≡ ``h = latest - k + 1``) this is the
        Delta-style VACUUM: a data file is deleted iff NO version
        ``>= h`` can reach it — i.e. it is outside
        ``live(h) ∪ {adds after h}`` (a file added and removed
        INSIDE the window is in some retained live set, so it
        stays). ``live(h)`` folds through the newest checkpoint, so
        vacuum respects checkpointed live sets. The horizon is
        persisted (``_log/_vacuum.json``); time travel to any
        version below it then raises a clear error instead of a
        partial scan, and the horizon only ratchets upward.

        Returns the deleted (or would-delete) relative paths.
        Commit files are never deleted — history() stays complete."""
        latest = self.latest_version()
        if latest < 0:
            raise FileNotFoundError(f"no commits at {self.path}")
        if retain_last is not None:
            if retain_last < 1:
                raise ValueError("retain_last must be >= 1")
            h = latest - retain_last + 1
            if horizon_version is not None and horizon_version != h:
                raise ValueError(
                    "pass horizon_version OR retain_last, not both"
                )
            horizon_version = h
        data_root = os.path.join(self.path, "data")
        on_disk = []
        for dirpath, _dirs, names in os.walk(data_root):
            for n in names:
                if n.endswith(".parquet"):
                    on_disk.append(
                        os.path.relpath(
                            os.path.join(dirpath, n), self.path
                        )
                    )
        dv_root = os.path.join(self.path, "_dv")
        dv_on_disk = sorted(
            os.path.join("_dv", n)
            for n in (_fs_list(dv_root) if os.path.isdir(dv_root) else [])
        )
        if horizon_version is None:
            referenced = set()
            ckpt = self._latest_checkpoint()
            if ckpt is not None:
                # commits are never deleted, so every checkpointed
                # live file also appears in some commit's add list —
                # folding it anyway keeps the invariant explicit
                referenced.update(ckpt.get("live") or [])
            for c in self._commits():
                referenced.update(c.get("add", []))
            doomed = sorted(f for f in on_disk if f not in referenced)
            # conservative: a sidecar survives while ANY commit
            # points at it (commits are never deleted)
            dv_referenced = set()
            for c in self._commits():
                dv_referenced.update(
                    v for v in (c.get("dv") or {}).values() if v
                )
            doomed_dvs = [
                d for d in dv_on_disk if d not in dv_referenced
            ]
            new_horizon = None
        else:
            h = max(0, min(int(horizon_version), latest))
            prior = self._vacuum_horizon()
            if h < prior:
                raise ValueError(
                    f"vacuum horizon can only ratchet upward: "
                    f"{h} < current horizon {prior}"
                )
            pinned = {
                n: v for n, v in self._tags().items() if v < h
            }
            if pinned:
                # tags promise readability — refuse to GC under them
                raise ValueError(
                    f"tags pin versions below the horizon {h}: "
                    f"{pinned}; untag() them first or lower the "
                    "horizon"
                )
            fold_h = self._fold_state(h)
            reachable = set(fold_h.live)
            dv_referenced = set(fold_h.dvs.values())
            for c in self._commits(after=h):
                reachable.update(c.get("add", []))
                dv_referenced.update(
                    v for v in (c.get("dv") or {}).values() if v
                )
            doomed = sorted(f for f in on_disk if f not in reachable)
            doomed_dvs = [
                d for d in dv_on_disk if d not in dv_referenced
            ]
            new_horizon = h
        if not dry_run:
            for d in doomed_dvs:
                shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)
            cfg = self._bloom_config()
            for f in doomed:
                try:
                    os.remove(os.path.join(self.path, f))
                except OSError:
                    pass
                if cfg:  # bloom sidecars die with their data file
                    for c in cfg["columns"]:
                        try:
                            os.remove(self._bloom_sidecar(f, c))
                        except OSError:
                            pass
            if new_horizon is not None and new_horizon > self._vacuum_horizon():
                with open(
                    os.path.join(self._log_dir, "_vacuum.json"), "w"
                ) as fh:
                    fh.write(json.dumps({"horizon": new_horizon}))
        return doomed + doomed_dvs

    def last_committed_batch(self, app_id: str) -> Optional[int]:
        """Highest streaming batch id committed under ``app_id``
        (the Delta txn-action idempotence device), or None.
        Checkpoint-accelerated: folds the newest checkpoint's txn
        high-water marks plus only the log tail."""
        return self._fold_state(None).txns.get(app_id)

    def append_batch(
        self, df: DataFrame, app_id: str, batch_id: int
    ) -> Optional[int]:
        """IDEMPOTENT append for exactly-once streaming ingestion:
        the commit records ``(app_id, batch_id)``, and a replayed
        batch (Structured Streaming re-runs the last micro-batch
        after a crash) with ``batch_id <=`` the last committed one
        is SKIPPED — at-least-once delivery plus idempotent commits
        equals exactly-once table contents. Returns the committed
        version, or None when skipped."""
        last = self.last_committed_batch(app_id)
        if last is not None and int(batch_id) <= last:
            return None
        df = self._apply_generated(df)
        self._enforce_table_constraints(df)
        files = self._write_data(df)
        return self._commit(
            "append",
            files,
            [],
            df.schema,
            self.latest_version() + 1,
            txn={"app_id": app_id, "batch_id": int(batch_id)},
        )

    def streaming_sink(self, app_id: str):
        """``foreachBatch`` adapter: ``writeStream.foreachBatch(
        table.streaming_sink("my-app")).start()`` turns any stream
        into exactly-once lake ingestion — every micro-batch lands
        as one versioned commit, replays dedupe on batch id, and the
        change feed / time travel / IVM machinery applies to the
        live stream for free."""

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            self.append_batch(batch_df, app_id, batch_id)

        return sink

    def merge_batch(
        self,
        df: DataFrame,
        on: Sequence[str],
        app_id: str,
        batch_id: int,
        when_matched: str = "update",
        when_not_matched: str = "insert",
    ) -> Optional[int]:
        """IDEMPOTENT MERGE for exactly-once CDC apply: the merge
        commit records ``(app_id, batch_id)`` and a replayed
        micro-batch with ``batch_id <=`` the last committed one is
        SKIPPED — upsert streams (Debezium-style change capture) get
        the same exactly-once contract append_batch gives inserts.
        An empty batch commits nothing (replaying it is a no-op
        anyway); the first batch into an EMPTY table is a plain
        idempotent append (there is nothing to match against).
        Returns the committed version, or None when skipped."""
        last = self.last_committed_batch(app_id)
        if last is not None and int(batch_id) <= last:
            return None
        if df.limit(1).count() == 0:
            return None
        if self.latest_version() < 0:
            return self.append_batch(df, app_id, batch_id)
        return self.merge(
            df,
            on,
            when_matched=when_matched,
            when_not_matched=when_not_matched,
            txn={"app_id": app_id, "batch_id": int(batch_id)},
        )

    def streaming_merge_sink(self, on: Sequence[str], app_id: str):
        """``foreachBatch`` adapter for CDC upsert streams:
        ``writeStream.foreachBatch(table.streaming_merge_sink(
        ["id"], "cdc-app")).start()`` — each micro-batch MERGEs into
        the table exactly once (matched rows update, new rows
        insert), and the change feed / IVM / vector-index refresh
        machinery sees honest row-level deltas."""

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            self.merge_batch(batch_df, list(on), app_id, batch_id)

        return sink

    def overwrite(
        self,
        df: DataFrame,
        txn: Optional[dict] = None,
        partition_by=_PB_INHERIT,
    ) -> int:
        """Replace the table contents. ``txn`` records an
        ``{app_id, batch_id}`` idempotence marker in the commit —
        the device :class:`MaterializedAggregate` uses to make view
        refreshes replay-safe. ``partition_by`` hive-partitions the
        replacement files and records their partition values in the
        commit (same log-pruning contract as :meth:`append`).

        Default (argument omitted): the replacement INHERITS the
        table's current partition columns — an ``INSERT OVERWRITE``
        on a partitioned table must not silently degrade log pruning
        to full scans. Pass an explicit list to re-partition, or
        ``None`` to drop partitioning (what ``CREATE OR REPLACE``
        without a PARTITIONED BY clause means — a new table
        definition)."""
        base_version = self.latest_version()
        if base_version >= 0:
            df = self._apply_generated(df, base_version)
            self._enforce_table_constraints(df, base_version)
        prior = [
            os.path.relpath(p, self.path)
            for p in self.snapshot_files(version=base_version)
        ] if base_version >= 0 else []
        mapping = self._mapping(base_version) if base_version >= 0 else None
        new_mapping = _MAPPING_UNSET
        out = df
        if mapping is not None:
            # keep physical slots for surviving logical columns,
            # assign fresh ones for new columns, forget the rest
            kept = {
                c: mapping.get(c) or self._fresh_physical(c, mapping)
                for c in df.columns
            }
            if kept != mapping:
                new_mapping = kept
            mapping = kept
            out = self._to_physical(df, mapping)
        if partition_by is _PB_INHERIT:
            phys_pb = (
                self._partition_columns(base_version)
                if base_version >= 0
                else None
            )
            if phys_pb and mapping is not None:
                # recorded partition columns are PHYSICAL names;
                # translate back to logical for the shared path below
                inv = {p: l for l, p in mapping.items()}
                partition_by = [inv.get(p, p) for p in phys_pb]
            else:
                partition_by = phys_pb
            # a replacement that drops a partition column cannot
            # keep the layout — fall back to unpartitioned
            if partition_by and not all(
                c in df.columns for c in partition_by
            ):
                partition_by = None
        pb = list(partition_by) if partition_by else None
        if pb and mapping is not None:
            pb = [mapping[c] for c in pb]
        parts = None
        if pb:
            files, parts = self._write_data_partitioned(out, pb)
        else:
            files = self._write_data(out)
        return self._commit(
            "overwrite", files, prior, df.schema,
            base_version + 1, txn=txn, mapping=new_mapping,
            parts=parts,
        )

    def delete(self, condition, mode: str = "rewrite") -> int:
        """Remove rows matching ``condition`` (a Column or SQL
        string).

        ``mode="rewrite"`` (default): rewrite ONLY the files that
        contain matches; every other live file carries over by
        reference. ``mode="dv"``: merge-on-read DELETION VECTORS —
        record the doomed rows' (file, row_index) pairs in a
        ``_dv/`` sidecar and rewrite NOTHING; reads anti-join the
        pairs out. At 100 TB a sub-percent delete costs kilobytes of
        sidecar instead of terabytes of rewrite; compact()/
        optimize() later materialize survivors and drop the vectors.
        Either way, rows where the condition is NULL survive, and
        rows already dv-deleted are never double-counted (the
        matching scan is DV-aware)."""
        if mode not in ("rewrite", "dv"):
            raise ValueError(
                f"mode must be 'rewrite' or 'dv', got {mode!r}"
            )
        cond = F.expr(condition) if isinstance(condition, str) else condition
        cond_t = F.coalesce(cond, F.lit(False))
        base_version = self.latest_version()
        fold = self._fold_state(base_version)
        if not fold.live:
            return base_version
        # ONE scan finds the matching rows' files (and, for dv mode,
        # their row indexes); the condition runs over logical names
        matched = self._scan(fold, fold.live, keep_meta=True).filter(cond_t)
        touched = self._touched(fold, matched)
        if not touched:
            return base_version
        if mode == "dv":
            return self._rewrite(
                "delete", base_version, fold, touched, dv_rows=matched
            )
        return self._rewrite(
            "delete", base_version, fold, touched,
            lambda rows: rows.filter(~cond_t),
        )

    def update(self, condition, set: dict, mode: str = "rewrite") -> int:
        """UPDATE ... SET: assign new values to rows matching
        ``condition``. ``set`` maps column → expression (SQL string
        or Column); assignments are cast to the column's existing
        type, so the table schema never drifts.

        ``mode="rewrite"``: rewrite only the files containing
        matches (non-matching rows in those files carry over
        unchanged). ``mode="dv"``: merge-on-read — ONE atomic commit
        dv-deletes the old row versions and adds a file with the new
        versions; at 100 TB a sub-percent update writes the changed
        rows only, never the touched terabytes. The change feed
        reports old versions as deletes and new versions as inserts
        either way."""
        if mode not in ("rewrite", "dv"):
            raise ValueError(
                f"mode must be 'rewrite' or 'dv', got {mode!r}"
            )
        cond = F.expr(condition) if isinstance(condition, str) else condition
        cond_t = F.coalesce(cond, F.lit(False))
        base_version = self.latest_version()
        fold = self._fold_state(base_version)
        if not fold.live:
            return base_version
        schema = StructType.fromJson(json.loads(fold.schema_json))
        names = {f.name for f in schema.fields}
        unknown = {c for c in set} - names
        if unknown:
            raise ValueError(f"SET names unknown columns: {sorted(unknown)}")
        types = {f.name: f.dataType for f in schema.fields}
        assigns = {
            c: (F.expr(e) if isinstance(e, str) else e).cast(types[c])
            for c, e in set.items()
        }
        matched = self._scan(fold, fold.live, keep_meta=True).filter(cond_t)
        touched = self._touched(fold, matched)
        if not touched:
            return base_version

        def assign(rows: DataFrame) -> DataFrame:
            # matching rows take the SET values, the rest carry over
            return rows.select(
                *[
                    F.when(cond_t, assigns[f.name])
                    .otherwise(F.col(f.name))
                    .alias(f.name)
                    if f.name in assigns
                    else F.col(f.name)
                    for f in schema.fields
                ]
            )

        return self._rewrite(
            "update", base_version, fold, touched, assign,
            dv_rows=matched if mode == "dv" else None, check=True,
        )

    def _touched(self, fold: _Snapshot, matched: DataFrame) -> Dict[str, str]:
        """{live relpath: scanned ``_fp``} for the files holding a row
        of ``matched`` (a :meth:`_scan` with ``keep_meta``), in live
        order — one distinct-path job. A scanned URI resolves by its
        decoded suffix after the last ``/data/`` (:meth:`_dv_suffix`),
        the key that also matches shallow-clone entries
        (``../src/data/...``)."""
        scanned = {
            self._dv_suffix(_local_path(r["_fp"])): r["_fp"]
            for r in matched.select("_fp").distinct().collect()
        }
        return {
            rel: scanned[self._dv_suffix(rel)]
            for rel in fold.live
            if self._dv_suffix(rel) in scanned
        }

    def _file_bytes(self, rel: str) -> int:
        try:
            return os.path.getsize(os.path.join(self.path, rel))
        except OSError:
            return 0

    def _rewrite(
        self,
        operation: str,
        base_version: int,
        fold: _Snapshot,
        files: Sequence[str],
        transform: Optional[Callable[[DataFrame], DataFrame]] = None,
        *,
        dv_rows: Optional[DataFrame] = None,
        remove: bool = True,
        target_file_bytes: Optional[int] = None,
        zorder_by: Optional[Sequence[str]] = None,
        check: bool = False,
        txn: Optional[dict] = None,
    ) -> int:
        """The one file-rewrite primitive under every DML, compaction
        and deletion-vector commit — the Delta shape: a file-level
        rewrite plus ONE atomic add/remove commit. Callers supply a
        file selection, a row transform and a layout.

        ``files`` (live relpaths) are read through :meth:`_scan`;
        ``transform`` maps that logical frame to the rows replacing
        them (None: the same rows), and the commit removes ``files``
        (``remove=False``: the written rows only add). With
        ``dv_rows`` — the matched rows carrying ``_fp``/``_ri``, and
        ``files`` the :meth:`_touched` map — the files stay live: one
        new sidecar holds their merged deletion vectors, and
        ``transform`` maps the matched rows to their new versions
        (None: write nothing).

        Layout: without ``target_file_bytes`` (DML), rows on a
        partitioned table land in hive dirs by their actual partition
        values, so new and changed rows keep the log-pruning tier;
        ``check`` first fills/validates generated columns and
        enforces the CHECK constraints. ``target_file_bytes`` marks a
        compaction (same rows): a selection spanning several
        partitions of a partitioned table shuffles to its hive dirs,
        fat partitions salt-split to ~target-sized files; otherwise
        each partition's files pack into ~target-sized plain files
        that re-record its values. ``zorder_by`` sorts every file on
        the Morton key; packed files are also range-partitioned on it.

        The commit records the fold's schema and reconciles with
        concurrent commits (:meth:`_commit_reconciled`)."""

        def physical(rows: DataFrame):
            """(physical frame, z-key column or None)."""
            if not zorder_by:
                return self._to_physical(rows, fold.mapping), None
            from replay_spark.utils.layout import ZOrderLayout

            z = ZOrderLayout(list(zorder_by))
            return (
                self._to_physical(
                    z.transform(rows), fold.mapping, keep=(z.output_column,)
                ),
                z.output_column,
            )

        groups: Dict[tuple, List[str]] = {}
        for rel in files:
            groups.setdefault(fold.part_key(rel), []).append(rel)
        pb = fold.partition_columns
        add: List[str] = []
        parts: dict = {}
        if target_file_bytes and not (pb and len(groups) > 1):

            def pack(rels: List[str]) -> List[str]:
                total = sum(self._file_bytes(r) for r in rels)
                n = int(max(1, -(-total // target_file_bytes)))
                phys, zcol = physical(self._scan(fold, rels))
                if zcol is None:
                    return self._write_data(phys, num_files=n)
                # range layout kept: coalescing would merge the
                # sorted ranges back
                return self._write_data(
                    phys.repartitionByRange(n, zcol)
                    .sortWithinPartitions(zcol)
                    .drop(zcol)
                )

            todo = sorted(groups.items())
            # a 100 TB table accreting small files across thousands
            # of partition values must not serialize thousands of
            # tiny Spark jobs on the driver: group writes submit
            # through a bounded thread pool (job submission is
            # thread-safe, uuid write dirs never collide; map keeps
            # the sorted order, so the commit is deterministic)
            if len(todo) > 1:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=min(8, len(todo))) as pool:
                    written = list(pool.map(lambda kr: pack(kr[1]), todo))
            else:
                written = [pack(rels) for _, rels in todo]
            for (key, _), out in zip(todo, written):
                add.extend(out)
                if key:
                    parts.update({f: dict(key) for f in out})
        else:
            if dv_rows is not None:
                rows = transform and transform(dv_rows.drop("_fp", "_ri"))
            else:
                rows = self._scan(fold, files)
                if transform:
                    rows = transform(rows)
            if rows is not None:
                if check:
                    rows = self._apply_generated(rows, base_version)
                    self._enforce_table_constraints(rows, base_version)
                phys, zcol = physical(rows)
                if pb and all(c in phys.columns for c in pb):
                    arranged = (
                        self._partition_arranged(
                            phys, pb, fold, files, target_file_bytes
                        )
                        if target_file_bytes
                        else phys.repartition(*pb)
                    )
                    if zcol is not None:
                        arranged = arranged.sortWithinPartitions(zcol).drop(zcol)
                    add, parts = self._write_data_partitioned(arranged, pb)
                else:
                    add = self._write_data(phys)
        dv = None
        if dv_rows is not None:
            from replay_spark.utils.spark_utils import local_df

            # pointer-replacement semantics: one sidecar holds each
            # touched file's COMPLETE vector; the pair relation itself
            # never touches the driver
            lookup = local_df(
                self.spark,
                [(fp, rel) for rel, fp in files.items()],
                "_fp string, file string",
            )
            pairs = dv_rows.join(F.broadcast(lookup), "_fp").select(
                "file", F.col("_ri").cast("long").alias("row_index")
            )
            existing = self._dv_rows(fold.dvs, list(files))
            if existing is not None:
                pairs = pairs.unionByName(existing.select("file", "row_index"))
            sidecar = self._write_dv_sidecar(pairs.distinct())
            dv = {rel: sidecar for rel in sorted(files)}
        return self._commit_reconciled(
            operation,
            add,
            list(files) if remove and dv is None else [],
            StructType.fromJson(json.loads(fold.schema_json)),
            base_version,
            txn=txn,
            parts=parts or None,
            dv=dv,
        )

    def _partition_columns(self, version: Optional[int] = None):
        """The table's partition columns when EVERY live file carries
        the same recorded partition-key set, else None — the guard
        that lets compaction stay partition-preserving."""
        return self._fold_state(version).partition_columns

    def _partition_arranged(
        self,
        df: DataFrame,
        pb: Sequence[str],
        fold: _Snapshot,
        files: Sequence[str],
        target_file_bytes: int,
    ) -> DataFrame:
        """Shuffle rows to their hive partition, SPLITTING fat
        partitions into ~``target_file_bytes`` buckets via a
        per-partition salt. ``repartition(*pb)`` alone lands one file
        per partition per task — at 100 TB a fat partition would
        become one giant file; here each partition gets
        ``ceil(bytes / target)`` salt buckets sized from ``files``'
        recorded partition values (driver-side metadata only, no data
        I/O)."""
        sizes: dict = {}
        for rel in files:
            key = fold.part_key(rel)
            sizes[key] = sizes.get(key, 0) + self._file_bytes(rel)
        n_files = {
            k: int(max(1, -(-b // target_file_bytes)))
            for k, b in sizes.items()
        }
        if all(n == 1 for n in n_files.values()):
            return df.repartition(*pb)
        # dense global bucket ids: partition tuple -> [offset,
        # offset+n); repartitionByRange with an EXPLICIT partition
        # count pins one bucket per output task (AQE won't coalesce
        # a user-specified count), so each hive dir gets exactly its
        # ceil(bytes/target) files
        rows, offset = [], 0
        for k, n in sorted(n_files.items()):
            rows.append(tuple(dict(k).get(c) for c in pb) + (n, offset))
            offset += n
        total_buckets = offset
        schema = (
            ", ".join(f"`_pv_{c}` string" for c in pb)
            + ", `_nf` int, `_off` int"
        )
        from replay_spark.utils.spark_utils import local_df

        lut = local_df(self.spark, rows, schema)
        cond = None
        for c in pb:
            e = F.col(c).cast("string").eqNullSafe(F.col(f"_pv_{c}"))
            cond = e if cond is None else (cond & e)
        data_cols = list(df.columns)
        out = (
            df.join(F.broadcast(lut), cond, "left")
            .withColumn(
                "_bucket",
                F.coalesce(F.col("_off"), F.lit(0))
                + F.pmod(
                    F.xxhash64(*[F.col(c) for c in data_cols]),
                    F.coalesce(F.col("_nf"), F.lit(1)),
                ),
            )
            .repartitionByRange(total_buckets, F.col("_bucket"))
        )
        return out.select(*data_cols)

    def _partition_selected(
        self, base_version: int, partition_filter: dict
    ):
        """Live files PROVABLY inside every (col == value) of
        ``partition_filter`` per their recorded partition values —
        the selection a partition-scoped rewrite may touch. Files
        without a recorded value are excluded (a rewrite must only
        move rows it can prove belong to the target partition)."""
        fold = self._fold_state(base_version)
        selected = []
        for rel in fold.live:
            p = fold.parts.get(rel) or {}
            if all(
                c in p and p[c] == (None if v is None else str(v))
                for c, v in partition_filter.items()
            ):
                selected.append(rel)
        return selected

    def compact(
        self,
        target_file_bytes: int = 128 * 1024 * 1024,
        partition_filter: Optional[dict] = None,
        zorder_by: Optional[Sequence[str]] = None,
    ) -> int:
        """Rewrite live files into ~``target_file_bytes`` ones;
        same rows, new layout, one atomic swap. PARTITION-PRESERVING
        on partitioned tables: rows re-shuffle on the partition
        columns (fat partitions split into ~target-sized salt
        buckets) and land in fresh hive dirs whose values are
        re-recorded in the commit — compaction never silently kills
        the zero-I/O log-pruning tier (on an unpartitioned table the
        path is the plain size-targeted rewrite).

        ``partition_filter`` ({col: value}) scopes the rewrite to
        ONE partition's files — Delta's ``OPTIMIZE ... WHERE``: at
        100 TB the hot partition compacts in minutes while the other
        files carry by reference, untouched. Scoped rewrites go
        through the DV-aware scan, so the compacted partition's
        deletion vectors materialize away while other partitions
        keep theirs.

        ``zorder_by`` (with ``partition_filter``) Morton-clusters
        the scoped rewrite — ``OPTIMIZE ... WHERE ... ZORDER BY``,
        the hot-partition clustering move: range-partitioned on the
        z-key into ~target-sized files sorted within, so footer
        min/max stats skip files on later box queries. Without
        ``partition_filter``, a ``zorder_by`` is the unscoped
        clustering path of :meth:`optimize` rather than silently
        doing a plain rewrite."""
        return self._compact(target_file_bytes, partition_filter, zorder_by)

    def _compact(
        self,
        target_file_bytes: int,
        partition_filter: Optional[dict],
        zorder_by: Optional[Sequence[str]],
    ) -> int:
        """compact() and optimize(): every live file, or one
        partition's, rewritten into ~target-sized files; the commit
        is an ``optimize`` for an unscoped z-order, else a
        ``compact``."""
        base_version = self.latest_version()
        fold = self._fold_state(base_version)
        files = (
            self._partition_selected(base_version, partition_filter)
            if partition_filter
            else fold.live
        )
        if not files:
            return base_version
        return self._rewrite(
            "optimize" if zorder_by and not partition_filter else "compact",
            base_version, fold, files,
            target_file_bytes=target_file_bytes, zorder_by=zorder_by,
        )

    def compact_small_files(
        self,
        target_file_bytes: int = 128 * 1024 * 1024,
        small_file_bytes: Optional[int] = None,
    ) -> int:
        """Bin-pack ONLY the live files smaller than
        ``small_file_bytes`` (default: the instance's
        ``small_file_bytes``) into ~``target_file_bytes`` ones —
        Delta's OPTIMIZE semantics: files already at a healthy size
        carry by reference, untouched. This is the maintenance move
        that stays cheap at 100 TB: a table accreting streaming
        micro-batch files rewrites ONLY the small-file tail, never
        the terabytes that are already well-laid-out (the plain
        :meth:`compact` is a full rewrite by design — it exists to
        materialize deletion vectors away and re-cluster).

        Small files are grouped by their recorded partition values,
        each group rewritten DV-aware into its own bin-packed files
        carrying the SAME partition metadata (log pruning survives),
        all swapped in ONE atomic commit. Singleton groups are left
        alone — rewriting one small file gains nothing. Returns the
        new version (or the current one when there is nothing to
        pack)."""
        return self._compact_small_files(
            target_file_bytes,
            small_file_bytes
            if small_file_bytes is not None
            else self.small_file_bytes,
        )

    def _compact_small_files(
        self, target_file_bytes: int, small_file_bytes: int
    ) -> int:
        base_version = self.latest_version()
        fold = self._fold_state(base_version)
        groups: dict = {}
        for rel in fold.live:
            try:
                size = os.path.getsize(os.path.join(self.path, rel))
            except OSError:
                continue
            if size < small_file_bytes:
                groups.setdefault(fold.part_key(rel), []).append(rel)
        files = [
            rel
            for _, rels in sorted(groups.items())
            if len(rels) >= 2
            for rel in rels
        ]
        if not files:
            return base_version
        return self._rewrite(
            "compact", base_version, fold, files,
            target_file_bytes=target_file_bytes,
        )

    def optimize(
        self,
        zorder_by: Optional[Sequence[str]] = None,
        target_file_bytes: int = 128 * 1024 * 1024,
        partition_filter: Optional[dict] = None,
    ) -> int:
        """Delta-style OPTIMIZE: rewrite the live files into
        ~``target_file_bytes`` ones, optionally Z-order-clustered on
        ``zorder_by`` — same rows, new layout, one atomic swap.
        After a z-ordered optimize, :meth:`read_where` box queries
        skip most files via footer statistics. ``partition_filter``
        scopes the rewrite to one partition (``OPTIMIZE ... WHERE
        ... ZORDER BY`` — see :meth:`compact`)."""
        return self._compact(target_file_bytes, partition_filter, zorder_by)

    def read_where(
        self, bounds: dict, version: Optional[int] = None
    ):
        """Pruned scan in two metadata tiers, then a residual filter
        (conservative at every step — the result EQUALS the
        full-scan answer, with read()'s columns). Returns ``(df,
        n_files_kept, n_files_total)``.

        Tier 1, LOG-ONLY: files written with ``partition_by`` carry
        their partition values in the commit record, so a bound on a
        partition column eliminates files from the driver-side fold
        with ZERO file I/O (the Delta partition-pruning shape). Files
        without a recorded value for the column are kept.
        Tier 2, FOOTERS: survivors go through parquet-stats interval
        pruning (one metadata task per file). The kept files are read
        through :meth:`_scan`, like read()."""
        from replay_spark.utils.layout import bounds_filter, pruned_files

        self._check_time_travel(version)
        fold = self._fold_state(version)
        if not fold.live:
            raise FileNotFoundError(f"no snapshot at {self.path}@{version}")
        # files, parts and stats are keyed by PHYSICAL names on a
        # column-mapped table: prune physically, filter logically
        mapping = fold.mapping or {}
        phys_bounds = {mapping.get(c, c): v for c, v in bounds.items()}
        types = {
            mapping.get(f.name, f.name): f.dataType.simpleString()
            for f in StructType.fromJson(json.loads(fold.schema_json))
        }
        total = len(fold.live)
        kept_rel = [
            rel
            for rel in fold.live
            if self._partition_overlaps(fold.parts.get(rel), phys_bounds, types)
        ]
        # Tier 1a, LOG-EMBEDDED COLUMN STATS: commits carry per-file
        # min/max for stats-indexed columns, so range bounds prune
        # during the fold — zero file I/O, same conservative contract
        if fold.stats and kept_rel:
            kept_rel = [
                rel
                for rel in kept_rel
                if all(
                    self._stat_overlaps(
                        (fold.stats.get(rel) or {}).get(c), lo, hi
                    )
                    for c, (lo, hi) in phys_bounds.items()
                )
            ]
        # Tier 1b, BLOOM SIDECARS: point predicates (lo == hi) on a
        # bloom-indexed column skip files whose bitset proves the
        # value absent — the equality case footer min/max can't
        # prune when every file spans the key domain
        cfg = self._bloom_config()
        if cfg and kept_rel:
            points = {
                c: lo
                for c, (lo, hi) in phys_bounds.items()
                if c in cfg["columns"]
                and lo is not None
                and lo == hi
            }
            if points:
                kept_rel = [
                    rel
                    for rel in kept_rel
                    if self._bloom_admits(rel, points)
                ]
        # log-level telemetry covers BOTH log tiers (partition +
        # stats fold AND bloom sidecars) — recorded only after the
        # last zero-file-I/O prune so it never overstates kept files
        self.last_log_pruned = (len(kept_rel), total)
        if kept_rel:
            paths = {os.path.join(self.path, rel): rel for rel in kept_rel}
            kept_paths, _ = pruned_files(self.spark, list(paths), phys_bounds)
            kept = set(kept_paths)
            kept_rel = [rel for p, rel in paths.items() if p in kept]
        df = self._scan(fold, kept_rel).filter(bounds_filter(bounds))
        return df, len(kept_rel), total

    @staticmethod
    def _partition_overlaps(
        pvals: Optional[dict], bounds: dict, types: dict
    ) -> bool:
        """Conservative log-level test: False only when a recorded
        partition value provably violates a bound. Values are stored
        as hive strings; compare through the column's table type
        (``types``: physical name -> simple type string)."""
        if not pvals:
            return True
        for col, (lo, hi) in bounds.items():
            if col not in pvals:
                continue
            raw = pvals[col]
            if raw is None:
                # null partition value can never satisfy a bound
                if lo is not None or hi is not None:
                    return False
                continue
            t = types.get(col, "string")
            try:
                if t in ("bigint", "int", "smallint", "tinyint"):
                    val = int(raw)
                elif t in ("double", "float"):
                    val = float(raw)
                elif t == "date":
                    import datetime

                    val = datetime.date.fromisoformat(raw)
                elif t.startswith("timestamp"):
                    import datetime

                    val = datetime.datetime.fromisoformat(raw)
                else:
                    val = raw
            except (ValueError, TypeError):
                continue  # unparseable: keep (conservative)
            try:
                if lo is not None and val < lo:
                    return False
                if hi is not None and val > hi:
                    return False
            except TypeError:
                continue  # incomparable bound types: keep
        return True

    def merge(
        self,
        source: DataFrame,
        on: Sequence[str],
        when_matched: str = "update",
        when_not_matched: str = "insert",
        broadcast_key_limit: int = 1_000_000,
        txn: Optional[dict] = None,
        matched_condition: Optional[str] = None,
        update_set: Optional[Dict[str, str]] = None,
        not_matched_condition: Optional[str] = None,
        when_not_matched_by_source: str = "ignore",
        not_matched_by_source_condition: Optional[str] = None,
        update_set_by_source: Optional[Dict[str, str]] = None,
        matched_clauses: Optional[List[dict]] = None,
    ) -> int:
        """MERGE INTO this table (see :func:`merge_into`). File
        granularity: rewrites the files containing matched keys (one
        key-scan to find them), carries the rest by reference, and
        appends the merged output. ``matched_condition`` /
        ``update_set`` add Delta's ``WHEN MATCHED AND <cond>`` and
        column-level ``UPDATE SET c = expr`` (target columns bare,
        source columns as ``source.<col>``); the touched-file scan
        still keys on the join columns alone, so condition-false
        matches rewrite unchanged — a superset rewrite, never a
        wrong one. ``not_matched_condition`` filters inserts.
        ``when_not_matched_by_source`` (+condition/update map) acts
        on target rows with NO source match — those rows can live in
        ANY file, so a by-source clause rewrites every live file
        (the same full-table cost Delta pays for it).

        The touched-file key scan broadcasts the source's distinct
        keys only while they are provably small (≤
        ``broadcast_key_limit`` rows — right for the common CDC-delta
        source); a large backfill source falls back to a shuffled
        semi-join instead of OOMing executors on the broadcast."""
        base_version = self.latest_version()
        fold = self._fold_state(base_version)
        if not fold.schema_json:
            raise FileNotFoundError(f"no snapshot at {self.path}@{base_version}")
        pure_insert = (
            when_matched == "ignore"
            and matched_clauses is None
            and when_not_matched_by_source == "ignore"
        )
        if pure_insert or when_not_matched_by_source != "ignore":
            # by-source clauses act on rows whose keys are NOT in the
            # source — they can live in ANY file, so every live file
            # is in scope (Delta pays the same full-table cost). An
            # insert-only merge changes no existing row: it reads the
            # whole table to suppress existing keys, rewrites no
            # file, and commits a pure append of the inserts
            files = fold.live
        else:
            keys = source.select(*on).distinct()
            # Cheap exact gate: LIMIT n+1 + count touches at most
            # limit+1 rows of the distinct-key relation, so the
            # probe itself never materializes an unbounded set on
            # the driver.
            small = (
                keys.limit(broadcast_key_limit + 1).count()
                <= broadcast_key_limit
            )
            key_side = F.broadcast(keys) if small else keys
            # materialized _fp (not input_file_name(), which cannot
            # resolve over the DV-aware union scan)
            matched = self._scan(fold, fold.live, keep_meta=True).join(
                key_side, list(on), "left_semi"
            )
            files = list(self._touched(fold, matched))

        def merged(base: DataFrame) -> DataFrame:
            if not pure_insert:
                return merge_into(
                    base, source, on, when_matched, when_not_matched,
                    matched_condition=matched_condition,
                    update_set=update_set,
                    not_matched_condition=not_matched_condition,
                    when_not_matched_by_source=when_not_matched_by_source,
                    not_matched_by_source_condition=(
                        not_matched_by_source_condition
                    ),
                    update_set_by_source=update_set_by_source,
                    matched_clauses=matched_clauses,
                )
            if when_not_matched != "insert":  # ignore + ignore: a no-op
                return base.limit(0)
            # anti-join against the FULL current table: existing keys
            # anywhere must suppress their inserts
            inserts = source.join(base, list(on), "left_anti")
            # filter on RAW source rows (before projection), so
            # conditions may reference source-only columns and see
            # pre-cast values — same contract as the rich path, which
            # filters the anti-join directly
            if not_matched_condition is not None:
                inserts = inserts.filter(
                    F.coalesce(F.expr(not_matched_condition), F.lit(False))
                )
            # cast to the table schema: the union path coerces types
            # implicitly (INT literal into BIGINT col); this direct
            # append must do the same or mixed-type files break later
            # merged-schema reads
            return inserts.select(
                *[
                    F.col(c).cast(base.schema[c].dataType).alias(c)
                    for c in base.columns
                ]
            )

        return self._rewrite(
            "merge", base_version, fold, files, merged,
            remove=not pure_insert, check=True, txn=txn,
        )

    def drop(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def refresh_aggregate(
    snapshot_agg: DataFrame,
    changes: DataFrame,
    group_columns: Sequence[str],
    count_column: str = "n_rows",
    sum_columns: Optional[dict] = None,
) -> DataFrame:
    """Incremental view maintenance: apply a change feed (the
    :meth:`LakeTable.changes` shape — ``_change_type`` 'insert' |
    'delete') to a maintained count/sum aggregate WITHOUT
    recomputing it from the base table.

    ``snapshot_agg`` is the view as of the feed's start version
    (``group_columns`` + ``count_column`` + the keys of
    ``sum_columns``); ``sum_columns`` maps output column → source
    column in the feed (e.g. ``{"sum_chars": "n_chars"}``). Count
    and sum are the self-maintainable aggregates (a delete is just a
    −1/−value contribution); min/max are not — they need the base
    table on deletes, so this function deliberately excludes them.

    Plan: the feed aggregates to signed per-group deltas (map-side
    combined — cost follows the CHANGES, not the 100 TB base), then
    a single full-outer join merges deltas into the snapshot and
    drops groups whose count reaches 0. Exact for integer sums;
    float sums drift like any incremental float pipeline would.
    """
    keys = list(group_columns)
    sums = dict(sum_columns or {})
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    aggs = [F.sum(sign).alias(f"_d_{count_column}")]
    for out_col, src_col in sums.items():
        aggs.append(F.sum(sign * F.col(src_col)).alias(f"_d_{out_col}"))
    delta = changes.groupBy(*keys).agg(*aggs)
    merged = snapshot_agg.join(delta, on=keys, how="full_outer")
    new_count = F.coalesce(F.col(count_column), F.lit(0)) + F.coalesce(
        F.col(f"_d_{count_column}"), F.lit(0)
    )
    cols = [F.col(k) for k in keys] + [new_count.alias(count_column)]
    for out_col in sums:
        cols.append(
            (
                F.coalesce(F.col(out_col), F.lit(0))
                + F.coalesce(F.col(f"_d_{out_col}"), F.lit(0))
            ).alias(out_col)
        )
    return merged.select(*cols).filter(F.col(count_column) > 0)


_SOURCE_REF_RE = re.compile(r"\bsource\s*\.\s*`?(\w+)`?")


def _rewrite_source_refs(expr: str, source_cols: Sequence[str]) -> str:
    """Rewrite ``source.<col>`` references in a merge expression to
    the renamed join-side columns (``__s_<col>``); key columns (not
    renamed — the join coalesces them) stay bare. Quoted string
    literals are never rewritten (``'source.bak'`` stays a
    literal)."""
    from replay_spark.lake_sql import _sub_outside_quotes

    renamed = set(source_cols)

    def sub(m: "re.Match") -> str:
        c = m.group(1)
        return f"`__s_{c}`" if c in renamed else f"`{c}`"

    return _sub_outside_quotes(_SOURCE_REF_RE, sub, expr)


def merge_into(
    target: DataFrame,
    source: DataFrame,
    on: Sequence[str],
    when_matched: str = "update",
    when_not_matched: str = "insert",
    matched_condition: Optional[str] = None,
    update_set: Optional[Dict[str, str]] = None,
    not_matched_condition: Optional[str] = None,
    when_not_matched_by_source: str = "ignore",
    not_matched_by_source_condition: Optional[str] = None,
    update_set_by_source: Optional[Dict[str, str]] = None,
    matched_clauses: Optional[List[dict]] = None,
) -> DataFrame:
    """MERGE semantics as pure DataFrame algebra (schemas must
    match). ``when_matched``: ``"update"`` (source row replaces
    target row) or ``"delete"``; ``when_not_matched``: ``"insert"``
    or ``"ignore"``. Rows only in the target survive unless a
    by-source clause says otherwise.

    ``matched_condition`` (Delta's ``WHEN MATCHED AND <cond>``): a
    SQL expression evaluated per matched pair — target columns BARE,
    source columns as ``source.<col>``; matched rows where it is
    false or NULL take no action (the target row survives).
    ``update_set`` (Delta's column-level ``UPDATE SET c = expr``):
    per-column expressions over the same namespace; unmentioned
    target columns keep their values. ``not_matched_condition``
    (Delta's ``WHEN NOT MATCHED AND <cond>``): filters which
    unmatched SOURCE rows insert (source columns BARE — there is no
    target row in scope). ``when_not_matched_by_source`` (Delta's
    ``WHEN NOT MATCHED BY SOURCE``): ``"delete"``, ``"update"``
    (with ``update_set_by_source`` — target columns only), or
    ``"ignore"`` (default) for TARGET rows with no source match,
    optionally gated by ``not_matched_by_source_condition`` (target
    columns only). Source must carry one row per key when any
    conditional/column-level option is used (same multiple-match
    hazard Delta errors on).

    The plain whole-row path is anti/semi joins on the key columns —
    no row-level merge logic, so the plan broadcasts when the source
    is small and shuffles only on the keys otherwise. The
    conditional/column-level/by-source path streams the target
    through ONE left join + per-row CASE projection (same
    shuffle/broadcast shape) so both sides' columns are in scope.
    """
    if when_matched not in ("update", "delete", "ignore"):
        raise ValueError(
            "when_matched must be 'update', 'delete' or 'ignore'"
        )
    if when_not_matched not in ("insert", "ignore"):
        raise ValueError("when_not_matched must be 'insert' or 'ignore'")
    if when_not_matched_by_source not in ("update", "delete", "ignore"):
        raise ValueError(
            "when_not_matched_by_source must be 'update', 'delete' "
            "or 'ignore'"
        )
    if update_set and when_matched != "update":
        raise ValueError("update_set requires when_matched='update'")
    if update_set_by_source and when_not_matched_by_source != "update":
        raise ValueError(
            "update_set_by_source requires "
            "when_not_matched_by_source='update'"
        )
    if (
        when_not_matched_by_source == "update"
        and not update_set_by_source
    ):
        raise ValueError(
            "when_not_matched_by_source='update' needs "
            "update_set_by_source (there is no source row to copy)"
        )
    if not_matched_condition is not None and when_not_matched != "insert":
        raise ValueError(
            "not_matched_condition requires when_not_matched='insert'"
        )
    # matched_clauses: the MULTI-CLAUSE form (Delta's several WHEN
    # MATCHED clauses, first-true-condition wins). Each clause is
    # {"action": "update"|"delete", "condition": str|None,
    # "set": dict|None}; only the LAST may omit its condition. When
    # given, it supersedes when_matched/matched_condition/update_set.
    if matched_clauses is not None:
        if matched_condition is not None or update_set is not None:
            raise ValueError(
                "pass either matched_clauses or "
                "matched_condition/update_set, not both"
            )
        if not matched_clauses:
            raise ValueError("matched_clauses must not be empty")
        for i, cl in enumerate(matched_clauses):
            if cl.get("action") not in ("update", "delete"):
                raise ValueError(
                    f"matched_clauses[{i}].action must be 'update' "
                    "or 'delete'"
                )
            if cl.get("set") and cl["action"] != "update":
                raise ValueError(
                    f"matched_clauses[{i}]: set requires action "
                    "'update'"
                )
            if (
                cl.get("condition") is None
                and i != len(matched_clauses) - 1
            ):
                raise ValueError(
                    "only the last matched clause may omit its "
                    "condition (every earlier row would be shadowed)"
                )
    on = list(on)
    rich = (
        matched_condition is not None
        or update_set is not None
        or not_matched_condition is not None
        or when_not_matched_by_source != "ignore"
        or matched_clauses is not None
    )
    if not rich:
        if when_matched == "ignore":
            # insert-only merge: every target row survives as-is
            parts = [target]
        else:
            untouched = target.join(source, on, "left_anti")
            parts = [untouched]
            if when_matched == "update":
                parts.append(source.join(target, on, "left_semi"))
        if when_not_matched == "insert":
            parts.append(source.join(target, on, "left_anti"))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    # normalize the single-clause scalar form into the clause list
    if matched_clauses is None:
        if when_matched == "ignore":
            clauses: List[dict] = []
        else:
            clauses = [
                {
                    "action": when_matched,
                    "condition": matched_condition,
                    "set": update_set,
                }
            ]
    else:
        clauses = [dict(cl) for cl in matched_clauses]
    # SET keys resolve case-insensitively onto the target's stored
    # casing (Spark identifier semantics)
    by_lower = {c.lower(): c for c in target.columns}
    keys_lower = {k.lower() for k in on}
    if update_set_by_source:
        update_set_by_source = {
            by_lower.get(k.lower(), k): v
            for k, v in update_set_by_source.items()
        }
    for i, cl in enumerate(clauses):
        cset = cl.get("set")
        if cset:
            cset = {
                by_lower.get(k.lower(), k): v for k, v in cset.items()
            }
            cl["set"] = cset
            unknown = sorted(set(cset) - set(target.columns))
            if unknown:
                raise ValueError(
                    f"matched clause {i}: set names columns not in "
                    f"the target: {unknown}"
                )
            bad_keys = sorted(
                k for k in cset if k.lower() in keys_lower
            )
            if bad_keys:
                raise ValueError(
                    f"matched clause {i}: cannot assign merge key "
                    f"columns: {bad_keys}"
                )
    # ONE pass over the target: left-join the (renamed) source and
    # project untouched / condition-false / acted rows with per-row
    # CASE logic — at 100 TB the target streams through a single
    # key join instead of three (anti + kept + acted) scans. A
    # marker column makes "matched" unambiguous even when every
    # source payload column is NULL. Multiple matched clauses chain
    # first-true-condition-wins: clause i acts only where every
    # earlier clause's condition was false/NULL.
    nonkey_src = [c for c in source.columns if c not in on]
    src_ren = source.select(
        *on,
        F.lit(1).alias("__s_matched"),
        *[F.col(c).alias(f"__s_{c}") for c in nonkey_src],
    )
    joined = target.join(src_ren, on, "left")
    matched = F.col("__s_matched").isNotNull()
    preds = []
    prior_unfired = F.lit(True)
    for cl in clauses:
        if cl.get("condition") is not None:
            fired = F.coalesce(
                F.expr(
                    _rewrite_source_refs(cl["condition"], nonkey_src)
                ),
                F.lit(False),
            )
        else:
            fired = F.lit(True)
        preds.append(matched & prior_unfired & fired)
        prior_unfired = prior_unfired & ~fired
    if not_matched_by_source_condition is not None:
        bs_cond = F.expr(not_matched_by_source_condition)
    else:
        bs_cond = F.lit(True)
    bs_acted = (
        (~matched) & F.coalesce(bs_cond, F.lit(False))
        if when_not_matched_by_source != "ignore"
        else F.lit(False)
    )

    def _clause_proj(cl: dict, c: "str"):
        """Value of column ``c`` when ``cl`` fires (update only)."""
        if cl["action"] != "update":
            return None
        cset = cl.get("set")
        if cset:
            if c in cset:
                return F.expr(
                    _rewrite_source_refs(cset[c], nonkey_src)
                ).cast(target.schema[c].dataType)
            return None  # unmentioned column keeps the target value
        if c in nonkey_src:
            return F.col(f"__s_{c}")  # whole-row replace
        return None

    def _by_source_proj(c: "str"):
        """Value of column ``c`` for an unmatched-by-source acted
        row (update action only; target columns in scope)."""
        if when_not_matched_by_source != "update":
            return None
        if update_set_by_source and c in update_set_by_source:
            return F.expr(update_set_by_source[c]).cast(
                target.schema[c].dataType
            )
        return None

    proj = []
    for c in target.columns:
        col = F.col(c)
        bv = _by_source_proj(c)
        if bv is not None:
            col = F.when(bs_acted, bv).otherwise(col)
        # predicates are pairwise disjoint, so wrap order is free
        for cl, pred in zip(clauses, preds):
            cv = _clause_proj(cl, c)
            if cv is not None:
                col = F.when(pred, cv).otherwise(col)
        proj.append(col.alias(c))
    out = joined
    for cl, pred in zip(clauses, preds):
        if cl["action"] == "delete":
            out = out.filter(~pred)
    if when_not_matched_by_source == "delete":
        out = out.filter(~bs_acted)
    out = out.select(*proj)
    if when_not_matched == "insert":
        inserts = source.join(target, on, "left_anti")
        if not_matched_condition is not None:
            inserts = inserts.filter(
                F.coalesce(
                    F.expr(not_matched_condition), F.lit(False)
                )
            )
        out = out.unionByName(inserts)
    return out


def apply_scd2(
    dim: DataFrame,
    updates: DataFrame,
    key_columns: Sequence[str],
    effective_column: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    is_current: str = "is_current",
    open_end=None,
) -> DataFrame:
    """Slowly-changing-dimension type 2: apply an update batch to a
    history table, closing out the current row of every updated key
    and inserting the new attribute row as current.

    ``dim`` carries ``valid_from``/``valid_to``/``is_current``;
    ``updates`` carries the key columns, the new attribute values,
    and ``effective_column`` (the change timestamp, which becomes the
    new row's ``valid_from`` and the old row's ``valid_to``).
    ``open_end`` is the sentinel for "still valid" (NULL default).
    One update row per key per batch (enforce upstream with a
    dedup/last-wins step). The plan is two key joins — broadcastable
    for dimension-sized updates, shuffle-on-key otherwise.
    """
    keys = list(key_columns)
    upd_keyed = updates.select(
        *keys, F.col(effective_column).alias("_new_from")
    )
    closed = (
        dim.join(upd_keyed, keys, "left")
        .withColumn(
            valid_to,
            F.when(
                (F.col(is_current) == F.lit(True))
                & F.col("_new_from").isNotNull(),
                F.col("_new_from"),
            ).otherwise(F.col(valid_to)),
        )
        .withColumn(
            is_current,
            F.when(
                (F.col(is_current) == F.lit(True))
                & F.col("_new_from").isNotNull(),
                F.lit(False),
            ).otherwise(F.col(is_current)),
        )
        .drop("_new_from")
    )
    attr_cols = [
        c for c in updates.columns if c not in keys and c != effective_column
    ]
    fresh = updates.select(
        *keys,
        *attr_cols,
        F.col(effective_column).alias(valid_from),
        F.lit(open_end).cast(dim.schema[valid_to].dataType).alias(valid_to),
        F.lit(True).alias(is_current),
    )
    return closed.unionByName(fresh.select(*closed.columns))


class MaterializedAggregate:
    """A continuously-maintained aggregate VIEW over a
    :class:`LakeTable` — streaming IVM end to end, composing three
    proven pieces: the exactly-once lake sink (txn idempotence), the
    change data feed, and :func:`refresh_aggregate`.

    The view is itself a LakeTable (versioned, time-travelable);
    each :meth:`refresh` reads ONLY the base commits since the last
    refresh through the change feed and merges signed per-group
    deltas into the maintained snapshot — cost follows the changes,
    never the 100 TB base. The view commit records
    ``txn={app_id, batch_id=base_version}``, so a replayed refresh
    (crash between base commit and view commit, foreachBatch re-run)
    is SKIPPED — the view is exactly-once with respect to base
    versions.

    ``streaming_sink`` returns a ``foreachBatch`` callable that
    lands each micro-batch in the base table (idempotent append)
    AND refreshes the view in the same hook: a live, incrementally-
    maintained aggregate over a stream with exactly-once semantics
    on both tables.
    """

    def __init__(
        self,
        base: "LakeTable",
        view_path: str,
        group_columns: Sequence[str],
        count_column: str = "n_rows",
        sum_columns: Optional[dict] = None,
        name: str = "ivm",
    ):
        self.base = base
        self.view = LakeTable(base.spark, view_path)
        self.group_columns = list(group_columns)
        self.count_column = count_column
        self.sum_columns = dict(sum_columns or {})
        self._app_id = f"ivm:{name}"

    def _full_aggregate(self, df: DataFrame) -> DataFrame:
        aggs = [
            F.count(F.lit(1)).cast("long").alias(self.count_column)
        ]
        for out_col, src_col in self.sum_columns.items():
            aggs.append(F.sum(src_col).alias(out_col))
        return df.groupBy(*self.group_columns).agg(*aggs)

    def last_refreshed_version(self) -> Optional[int]:
        return self.view.last_committed_batch(self._app_id)

    def refresh(self) -> Optional[int]:
        """Advance the view to the base table's latest version.
        Returns the new view version, or None when already current
        (or when this exact refresh already committed — replay)."""
        base_v = self.base.latest_version()
        if base_v < 0:
            return None
        last = self.last_refreshed_version()
        if last is not None and base_v <= last:
            return None
        txn = {"app_id": self._app_id, "batch_id": base_v}
        if last is None:
            # first materialization: one full aggregate of the base
            snapshot = self._full_aggregate(
                self.base.read(version=base_v)
            )
            return self.view.overwrite(snapshot, txn=txn)
        changes = self.base.changes(last, base_v)
        refreshed = refresh_aggregate(
            self.view.read(),
            changes,
            self.group_columns,
            count_column=self.count_column,
            sum_columns=self.sum_columns,
        )
        # the refreshed plan reads the view's CURRENT files, which
        # the overwrite is about to replace — materialize first
        # (the round-7 recacheByPath lesson: read-modify-overwrite
        # must sever lineage from the files it rewrites)
        refreshed = refreshed.localCheckpoint(eager=True)
        return self.view.overwrite(refreshed, txn=txn)

    def read(self) -> DataFrame:
        return self.view.read()

    def streaming_sink(self, app_id: str):
        """``foreachBatch`` adapter: exactly-once base ingestion +
        incremental view refresh per micro-batch."""
        def sink(batch_df: DataFrame, batch_id: int) -> None:
            self.base.append_batch(batch_df, app_id, batch_id)
            self.refresh()

        return sink
