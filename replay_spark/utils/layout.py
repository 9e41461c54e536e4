"""Physical data-layout optimization: Z-order (Morton) clustering.

The ``OPTIMIZE ... ZORDER BY`` primitive: interleave the bits of
per-column integer ranks so rows that are close in N-dimensional
space land in the same output file — multi-column min/max statistics
then prune scans on ANY prefix/subset of the layout columns, not
just the leading sort key. At 100 TB this is the difference between
reading every file and reading a few percent for selective
multi-dimensional predicates.

Everything is expression-level integer arithmetic:

* ranks — ONE aggregate pass collects each column's (min, max); a
  column maps to a ``bits``-wide rank with exact BIGINT math
  ``(v - min) * (2^bits - 1) div (max - min)`` (no floats, so any
  engine reproduces the key bit-for-bit);
* zkey — a static shift/or expression tree interleaving the rank
  bits (column j contributes bit b at position ``b * k + j``) —
  whole-stage-codegen friendly, no UDFs, no shuffle;
* layout — ``repartitionByRange`` on the zkey: one range shuffle
  (sampled boundaries) that directs each Morton bucket to one
  partition; downstream ``write.parquet`` emits files whose
  per-column min/max ranges are tight.

Doubles are supported by scaling through the same integer grid after
an exact ``(v - min) / (max - min)`` normalization; deterministic
within an engine, so the contract gate pins integer columns only.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    TimestampType,
)

from replay_spark.utils.spark_utils import plan_bytes

__all__ = [
    "ZOrderLayout",
    "compact_parquet",
    "collect_file_stats",
    "collect_file_stats_rows",
    "prune_files",
    "read_pruned",
]


def compact_parquet(
    spark,
    input_path: str,
    output_path: str,
    target_file_mb: int = 512,
    zorder_by: Optional[Sequence[str]] = None,
) -> int:
    """Small-file compaction — the maintenance pass every long-lived
    100 TB table needs (streaming sinks and over-parallel writers
    leave thousands of KB-scale files; scan cost is then dominated by
    open/footer overhead, not bytes).

    Sizes the output from the INPUT BYTES (spark reports the scan's
    ``sizeInBytes`` through the file index), not row counts:
    ``ceil(input_bytes / target_file_mb)`` output files via one round
    of ``repartition`` (or, with ``zorder_by``, a Morton-key range
    repartition so the compaction ALSO clusters for data skipping —
    compact + optimize in a single shuffle). Returns the number of
    output files planned. Parquet-level stats (min/max per file)
    come free from the writer.
    """
    df = spark.read.parquet(input_path)
    # logical-plan statistics reflect the file-index byte size
    input_bytes = plan_bytes(df)
    n_files = max(1, int((input_bytes + target_file_mb * 2**20 - 1)
                         // (target_file_mb * 2**20)))
    if zorder_by:
        z = ZOrderLayout(list(zorder_by))
        out = z.layout(df, num_partitions=n_files).drop(z.output_column)
    else:
        out = df.repartition(n_files)
    out.write.mode("overwrite").parquet(output_path)
    return n_files


class ZOrderLayout:
    """Z-order (Morton-curve) layout over up to 8 columns.

    Parameters
    ----------
    columns: layout columns (numeric). Bit budget is ``bits`` per
        column; ``k * bits`` must fit in 63 bits.
    bits: rank width per column (default 16).
    output_column: name of the emitted key column.
    """

    def __init__(
        self,
        columns: Sequence[str],
        bits: int = 16,
        output_column: str = "zkey",
    ):
        cols = list(columns)
        if not 1 <= len(cols) <= 8:
            raise ValueError("1..8 layout columns")
        if bits < 1 or bits * len(cols) > 63:
            raise ValueError("bits * len(columns) must be <= 63")
        self.columns = cols
        self.bits = bits
        self.output_column = output_column
        self.stats: Optional[Dict[str, Tuple[float, float]]] = None

    # -- internals ----------------------------------------------------

    def _collect_stats(self, df: DataFrame) -> None:
        aggs = []
        for c in self.columns:
            aggs.append(F.min(c).alias(f"_mn_{c}"))
            aggs.append(F.max(c).alias(f"_mx_{c}"))
        row = df.agg(*aggs).collect()[0]
        self.stats = {
            c: (row[f"_mn_{c}"], row[f"_mx_{c}"]) for c in self.columns
        }

    def _rank(self, c: str) -> Column:
        mn, mx = self.stats[c]
        top = (1 << self.bits) - 1
        col = F.col(c)
        if mx == mn:
            return F.lit(0).cast("long")
        if isinstance(mn, int) and isinstance(mx, int):
            # exact integer grid — engine-portable bit-for-bit
            return F.expr(
                f"CAST((CAST(`{c}` AS DECIMAL(38,0)) - {mn}) * {top} "
                f"div {mx - mn} AS BIGINT)"
            )
        span = float(mx) - float(mn)
        scaled = F.floor(
            (col.cast("double") - float(mn)) / span * top
        ).cast("long")
        return F.least(F.greatest(scaled, F.lit(0)), F.lit(top))

    def zkey_expr(self) -> Column:
        """The interleaved Morton key as a static expression
        (requires stats; ``transform`` computes them)."""
        if self.stats is None:
            raise ValueError("stats not computed - call transform()")
        k = len(self.columns)
        ranks: List[Column] = [self._rank(c) for c in self.columns]
        key = F.lit(0).cast("long")
        for b in range(self.bits):
            for j, r in enumerate(ranks):
                bit = F.shiftright(r, b).bitwiseAND(F.lit(1))
                key = key.bitwiseOR(F.shiftleft(bit, b * k + j))
        return key

    # -- API ----------------------------------------------------------

    def transform(self, df: DataFrame) -> DataFrame:
        """Add the Morton key column (one stats agg + one projection)."""
        if self.stats is None:
            self._collect_stats(df)
        return df.withColumn(self.output_column, self.zkey_expr())

    def layout(
        self, df: DataFrame, num_partitions: Optional[int] = None
    ) -> DataFrame:
        """Range-repartition by the Morton key (the write-side step:
        follow with ``.write.parquet(...)``). The key column is kept
        so downstream audits can verify clustering."""
        keyed = self.transform(df)
        if num_partitions:
            return keyed.repartitionByRange(
                num_partitions, self.output_column
            )
        return keyed.repartitionByRange(self.output_column)


# -- data-skipping manifests ----------------------------------------------

_STATS_FIELDS = [
    ("n_rows", LongType()),
    ("n_row_groups", IntegerType()),
    ("column", StringType()),
    ("null_count", LongType()),
    ("min_long", LongType()),
    ("max_long", LongType()),
    ("min_double", DoubleType()),
    ("max_double", DoubleType()),
    ("min_str", StringType()),
    ("max_str", StringType()),
    ("min_ts", TimestampType()),
    ("max_ts", TimestampType()),
]


def _footer_rows(fname: str, wanted) -> list:
    """Per-file stats rows from ONE parquet footer — the shared core
    of the distributed manifest pass (``collect_file_stats``) and the
    zero-job driver path (``collect_file_stats_rows``). Returns the
    exact dict-rows the mapInPandas batch yields for that file, in
    the same (sorted-column) order."""
    import datetime

    import pyarrow.parquet as pq

    meta = pq.ParquetFile(fname).metadata
    schema = meta.schema
    agg: dict = {}
    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = schema.column(ci).name
            if wanted is not None and name not in wanted:
                continue
            stats = col.statistics
            if stats is None or not stats.has_min_max:
                continue
            cur = agg.setdefault(
                name, {"null": 0, "min": None, "max": None}
            )
            cur["null"] += int(stats.null_count or 0)
            mn, mx = stats.min, stats.max
            if isinstance(mn, bytes):
                mn = mn.decode("utf-8", "replace")
                mx = mx.decode("utf-8", "replace")
            if isinstance(mn, datetime.datetime):
                # normalize to UTC-naive: every session in this
                # engine pins session.timeZone=UTC, so naive literals
                # compare correctly; the residual filter keeps the
                # answer exact regardless
                if mn.tzinfo is not None:
                    mn = mn.astimezone(
                        datetime.timezone.utc
                    ).replace(tzinfo=None)
                    mx = mx.astimezone(
                        datetime.timezone.utc
                    ).replace(tzinfo=None)
            elif isinstance(mn, datetime.date):
                # date32 stats arrive as datetime.date; promote to
                # midnight datetime so they land in min_ts/max_ts
                # (date values ARE whole days, so midnight is exact —
                # otherwise the stats row carries all-NULL typed
                # min/max and a date-bounded prune would drop the
                # file)
                mn = datetime.datetime.combine(mn, datetime.time())
                mx = datetime.datetime.combine(mx, datetime.time())
            cur["min"] = mn if cur["min"] is None else min(cur["min"], mn)
            cur["max"] = mx if cur["max"] is None else max(cur["max"], mx)
    rows = []
    if not agg:
        # a file with zero stat-bearing columns must still appear in
        # the manifest — otherwise it vanishes from both the kept
        # list and the file total (data loss, not just a missed
        # prune)
        rows.append(
            {
                "file": fname,
                "n_rows": int(meta.num_rows),
                "n_row_groups": int(meta.num_row_groups),
                "column": None,
                "null_count": None,
                "min_long": None, "max_long": None,
                "min_double": None, "max_double": None,
                "min_str": None, "max_str": None,
                "min_ts": None, "max_ts": None,
            }
        )
    for name, cur in sorted(agg.items()):
        mn, mx = cur["min"], cur["max"]
        is_bool = isinstance(mn, bool)
        is_int = isinstance(mn, int) and not is_bool
        is_float = isinstance(mn, float)
        import datetime as _dt

        is_dt = isinstance(mn, _dt.datetime)
        rows.append(
            {
                "file": fname,
                "n_rows": int(meta.num_rows),
                "n_row_groups": int(meta.num_row_groups),
                "column": name,
                "null_count": cur["null"],
                "min_long": int(mn) if is_int else None,
                "max_long": int(mx) if is_int else None,
                "min_double": float(mn) if is_float else None,
                "max_double": float(mx) if is_float else None,
                "min_str": mn if isinstance(mn, str) else None,
                "max_str": mx if isinstance(mx, str) else None,
                "min_ts": mn if is_dt else None,
                "max_ts": mx if is_dt else None,
            }
        )
    return rows


def collect_file_stats_rows(files, columns=None) -> list:
    """Driver-side footer pass: the same rows ``collect_file_stats``
    would produce, as plain dicts, with ZERO Spark jobs. The right
    tool when the file list is a handful (a single commit's adds):
    launching a distributed job to read a few footers costs ~0.1 s of
    task scheduling + a Python-worker round-trip per call, while the
    driver reads the same footers with the same code in ~1 ms each.
    Large lists (backfill, OPTIMIZE) belong on the distributed pass —
    O(files) tiny tasks across the cluster."""
    wanted = set(columns) if columns else None
    return [r for f in sorted(files) for r in _footer_rows(f, wanted)]


def collect_file_stats(spark, path: str, columns=None) -> "DataFrame":
    """Per-file column statistics from parquet FOOTERS only — the
    data-skipping manifest a lakehouse table format (Delta/Iceberg/
    Hudi) maintains, built directly from what the parquet writer
    already recorded. Reads O(files) footers, not O(data): the file
    list is parallelized and each executor opens only metadata via
    pyarrow, so a 100 TB table costs one tiny task per file.

    Returns one row per (file, column): row count, null count, and
    min/max in the matching typed column (``min_long``/
    ``min_double``/``min_str``); pair it with :func:`prune_files` /
    :func:`read_pruned`. ``columns=None`` keeps every leaf column
    with statistics.
    """
    import os

    if isinstance(path, (list, tuple)):  # explicit file list (lake)
        files = sorted(path)
    else:
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    if not files:
        raise ValueError(f"no parquet files under {path!r}")
    from replay_spark.utils.spark_utils import local_df, map_rows

    file_df = local_df(spark, [(f,) for f in files], "file string")
    wanted = set(columns) if columns else None
    names = [name for name, _ in _STATS_FIELDS]

    def footers(fname):
        for row in _footer_rows(fname, wanted):
            yield tuple(row[n] for n in names)

    return map_rows(file_df, ["file"], footers, ["file", *_STATS_FIELDS])


def prune_files(manifest: "DataFrame", bounds: dict) -> "DataFrame":
    """Files that can contain rows matching EVERY ``col: (lo, hi)``
    interval (closed; ``None`` end = unbounded): a file survives iff
    each bounded column's [min, max] overlaps its interval — the
    standard conservative skip test (false positives possible, false
    negatives impossible). A file with NO statistics for a bounded
    column (writer skipped stats, all-null column, legacy INT96
    timestamps) is KEPT — absence of evidence must never skip data.
    Returns the manifest's distinct surviving ``file`` rows."""
    all_files = manifest.select("file").distinct()
    if not bounds:
        return all_files
    survivors = None
    for col, (lo, hi) in bounds.items():
        m = manifest.filter(F.col("column") == col)
        import datetime as _dt

        typed_min = F.coalesce("min_long", "min_double")
        typed_max = F.coalesce("max_long", "max_double")
        if isinstance(lo, str) or isinstance(hi, str):
            typed_min, typed_max = F.col("min_str"), F.col("max_str")
        elif isinstance(lo, (_dt.datetime, _dt.date)) or isinstance(
            hi, (_dt.datetime, _dt.date)
        ):
            typed_min, typed_max = F.col("min_ts"), F.col("max_ts")
        cond = F.lit(True)
        # NULL typed min/max (stats row exists but the value landed in
        # a different typed slot, or the writer recorded no usable
        # min/max) must KEEP the file — coalesce to true so a NULL
        # comparison can never exclude (false negatives impossible)
        if lo is not None:
            cond = cond & F.coalesce(typed_max >= F.lit(lo), F.lit(True))
        if hi is not None:
            cond = cond & F.coalesce(typed_min <= F.lit(hi), F.lit(True))
        overlap = m.filter(cond).select("file")
        # conservative: files with no stats row for this column
        # cannot be excluded
        no_stats = all_files.join(
            m.select("file").distinct(), "file", "left_anti"
        )
        keep = overlap.unionByName(no_stats)
        survivors = keep if survivors is None else survivors.join(
            keep, "file", "left_semi"
        )
    return survivors.distinct()


def pruned_files(spark, path, bounds: dict, manifest=None):
    """``(kept_files, n_files_total)``: the files :func:`prune_files`
    keeps under ``bounds``, from ``manifest`` (default: a footer pass
    over ``path``, a directory or an explicit file list). The
    kept-file list is collected on the driver — O(files), the same
    scale every query planner's file index already handles."""
    if manifest is None:
        manifest = collect_file_stats(spark, path, list(bounds))
    manifest = manifest.persist()
    try:
        total = manifest.select("file").distinct().count()
        kept = [r.file for r in prune_files(manifest, bounds).collect()]
    finally:
        manifest.unpersist()
    return kept, total


def bounds_filter(bounds: dict):
    """The predicate of ``col: (lo, hi)`` closed intervals (``None``
    end = unbounded) as one Column — the residual filter a pruned
    scan re-applies."""
    pred = F.lit(True)
    for col, (lo, hi) in bounds.items():
        if lo is not None:
            pred = pred & (F.col(col) >= F.lit(lo))
        if hi is not None:
            pred = pred & (F.col(col) <= F.lit(hi))
    return pred


def read_pruned(spark, path: str, bounds: dict, manifest=None):
    """Scan only the files :func:`pruned_files` keeps, then re-apply
    the predicate as a residual filter (pruning is conservative, so
    the result is EXACTLY the full-scan answer). Returns
    ``(df, n_files_kept, n_files_total)``. A lake table's pruned read
    is :meth:`replay_spark.lake.LakeTable.read_where`, which takes its
    rows through the table's own reader."""
    kept, total = pruned_files(spark, path, bounds, manifest)
    if kept:
        df = spark.read.parquet(*kept)
    else:
        first = path[0] if isinstance(path, (list, tuple)) else path
        df = spark.read.parquet(first).limit(0)
    return df.filter(bounds_filter(bounds)), len(kept), total
