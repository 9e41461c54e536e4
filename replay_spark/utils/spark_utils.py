"""Generic relational operators shared by every model/metric.

Rebuild of the reference's operator library
(``replay/utils/spark_utils.py``) with two deliberate departures:

* vector math uses Spark SQL higher-order functions
  (``aggregate``/``zip_with``) instead of Python UDFs over
  ``VectorUDT`` (reference ``spark_utils.py:186-298``) — the
  expressions stay JVM-side inside whole-stage codegen;
* all top-k paths keep the reference's deterministic tie-break
  (rating desc, item asc — ``spark_utils.py:172-174``) so results
  are hash-stable under an order-insensitive oracle.
"""

from __future__ import annotations

import os
import shutil
import warnings
from typing import Any, Callable, Iterable, Optional, Sequence, Tuple, Union

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructField, StructType

__all__ = [
    "get_top_k",
    "get_top_k_recs",
    "filter_cold",
    "get_unique_entities",
    "fallback",
    "join_or_return",
    "horizontal_explode",
    "get_stats",
    "get_log_info",
    "process_timestamp_column",
    "is_timestamp_like",
    "vector_dot_expr",
    "cosine_similarity_expr",
    "vector_euclidean_similarity_expr",
    "multiply_vector_expr",
    "kth_smallest",
    "ordered_row_numbers",
    "ordered_prefix_sums",
    "stable_round",
    "write_bucketed",
    "asof_join",
    "range_join",
    "profile_columns",
    "corr_matrix",
    "grouped_exact_quantiles",
    "diagnose_skew",
    "local_df",
    "plan_bytes",
    "release",
    "observed_metrics",
    "observed_rows",
    "fixpoint",
    "bucketed_apply_in_pandas",
    "map_rows",
]


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Small driver-local rows -> DataFrame through pandas.

    A plain ``createDataFrame(list)`` parallelizes ANY list into
    ``defaultParallelism`` Python slices — a 32-task Python-worker
    job to materialize a 3-row control frame, paid on every action
    over it. The pandas route lands in O(rows) partitions and
    transfers columnar when Arrow is enabled (~0.1 s vs ~0.5 s warm
    per action at 32 cores). Use for SMALL metadata/control frames
    of plain values (int/float/str/bytes, no nulls in numeric
    columns — pandas would promote those to NaN floats); falls back
    to the plain path for empty input and for dict rows, which the
    fast lane cannot read by position.
    """
    import pandas as pd

    from pyspark.sql.types import NumericType

    rows = list(rows)
    if not rows or not all(isinstance(row, (tuple, list)) for row in rows):
        return spark.createDataFrame(rows, schema)
    # real DDL parse (a naive comma-split mis-reads nested types like
    # map<string,int> / decimal(10,2)); None in a NUMERIC column would
    # become NaN through pandas — fall back to the plain row path for
    # those rows, correctness over the fast lane
    struct = (
        StructType.fromDDL(schema) if isinstance(schema, str) else schema
    )
    names = [f.name for f in struct.fields]
    numeric_idx = [
        i
        for i, f in enumerate(struct.fields)
        if isinstance(f.dataType, NumericType)
    ]
    if numeric_idx and any(
        row[i] is None for row in rows for i in numeric_idx
    ):
        return spark.createDataFrame(rows, schema)
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=names), schema
    )


def stable_round(col: Union[str, Column], scale: int = 6) -> Column:
    """Cross-engine-stable decimal rounding of a double expression.

    ``F.round`` on a double goes through the value's SHORTEST decimal
    string in Spark ("46.3835" -> 46.384) while DuckDB and most other
    engines round the binary double itself (46.38349999999999 ->
    46.383) — bit-identical inputs diverge whenever the value lands
    exactly on a ``.xxx5`` rounding boundary. Adding ``1e-9`` before
    rounding pushes boundary values the same way on every engine and
    is far below half the rounding grid (``5e-7`` at scale 6), so all
    non-boundary values are untouched. Oracle SQL must mirror the
    guard: ``round(x + 1e-9, scale)``. Root-caused in d25b766; this
    helper is the one shared implementation for operators and gates.
    """
    if isinstance(col, str):
        col = F.col(col)
    return F.round(col + F.lit(1e-9), scale)


def _ordered_partition_scan(
    df: DataFrame, order_exprs: list, value_col: Optional[str]
) -> DataFrame:
    """Shared engine of :func:`ordered_row_numbers` /
    :func:`ordered_prefix_sums`: range-partition by the sort keys
    (ordered, contiguous ranges), sort within partitions (narrow,
    local), then append ``(_pid, _local)`` in ONE Arrow-batched
    narrow pass — ``_local`` is the within-partition 1-based row
    number (``value_col is None``) or the inclusive running sum of
    ``value_col``.

    Earlier revisions computed ``_local`` with a
    ``Window.partitionBy(_pid)``, which forced a SECOND full-data
    ``hashpartitioning(_pid)`` exchange carrying zero information —
    the rows were already laid out by ``_pid``; that is what range
    partitioning produced. The mapInPandas cumsum is narrow:
    total shuffle volume is ONE range exchange, halving the shuffle
    cost of every prefix-sum/numbering consumer (SequencePacker,
    Sessionizer reference ids, BPE vocabulary, ...). Requires
    ``order_exprs`` to be a total order (unique keys), which every
    caller satisfies and the hash gates pin.
    """
    import numpy as np

    part = df.repartitionByRange(*order_exprs).sortWithinPartitions(
        *order_exprs
    )
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", `_pid` int, `_local` long"

    def scan(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        acc = 0
        for pdf in batches:
            n = len(pdf)
            if value_col is None:
                local = np.arange(acc + 1, acc + n + 1, dtype="int64")
                acc += n
            else:
                vals = pdf[value_col].to_numpy(dtype="int64")
                local = acc + np.cumsum(vals)
                if n:
                    acc = int(local[-1])
            pdf = pdf.copy()
            pdf["_pid"] = pid
            pdf["_local"] = local
            yield pdf

    return part.mapInPandas(scan, schema=schema)


def _add_partition_offsets(
    numbered: DataFrame, spark_df: DataFrame, out_col: str,
    value_col: Optional[str] = None,
) -> DataFrame:
    """Driver-computed per-partition offsets broadcast-joined back.

    The per-partition total is ``count(*)`` for row numbering and
    ``sum(value_col)`` for prefix sums — NOT ``max(_local)``: the
    running sum's maximum equals its final value only when every
    ``value_col`` is non-negative, and the public API makes no such
    promise (an earlier revision silently did).
    """
    total_expr = (
        F.count(F.lit(1)) if value_col is None else F.sum(value_col)
    )
    totals = sorted(
        (r["_pid"], r["_t"])
        for r in numbered.groupBy("_pid").agg(
            total_expr.alias("_t")
        ).collect()
    )
    rows, acc = [], 0
    for pid, tot in totals:
        rows.append((pid, acc))
        acc += tot if tot is not None else 0
    offsets = local_df(
        spark_df.sparkSession, rows, "_pid int, _offset long"
    )
    return (
        numbered.join(F.broadcast(offsets), on="_pid")
        .withColumn(out_col, F.col("_local") + F.col("_offset"))
        .drop("_pid", "_local", "_offset")
    )


def ordered_row_numbers(
    df: DataFrame, order_exprs: list, out_col: str = "rank"
) -> DataFrame:
    """Global 1-based ``row_number`` over ``order_exprs`` WITHOUT a
    single-task sort, over any total sort order.

    One range exchange + a narrow Arrow numbering pass
    (:func:`_ordered_partition_scan`), then driver-computed
    per-partition offsets via a broadcast join. Eager (two actions:
    persist + per-partition totals); the intermediate stays persisted
    for the caller's downstream action and is evicted LRU. A caller
    that can release it persists :func:`_ordered_partition_scan`
    itself and numbers it with :func:`_add_partition_offsets`. Use for
    frames too large for a one-task window — callers below a size
    threshold should keep the plain window (zero extra jobs).
    """
    numbered = _ordered_partition_scan(df, order_exprs, None).persist()
    return _add_partition_offsets(numbered, df, out_col)


def ordered_prefix_sums(
    df: DataFrame, order_exprs: list, value_col: str, out_col: str = "prefix_sum"
) -> DataFrame:
    """Global inclusive prefix sum of ``value_col`` over the total
    order given by ``order_exprs`` WITHOUT a single-task sort — the
    running-SUM sibling of :func:`ordered_row_numbers`. Same
    one-exchange plan shape (see :func:`_ordered_partition_scan`)."""
    numbered = _ordered_partition_scan(df, order_exprs, value_col).persist()
    return _add_partition_offsets(numbered, df, out_col, value_col)


def kth_smallest(
    df: DataFrame,
    colname: str,
    k: int,
    max_slice: int = 1_000_000,
    rel_err: float = 1e-4,
    n: Optional[int] = None,
):
    """Exact k-th smallest value of a numeric column, distributed —
    no global sort.

    Each pass brackets the target rank with ``approxQuantile`` (rank
    error ≤ rel_err·n guaranteed), keeps only the bracket slice, and
    re-anchors k with an exact strictly-less count; the remainder is
    resolved with a distributed top-k. Two passes suffice at 10^12
    rows with the defaults. Used by TimeSplitter's fractional cut and
    QuantileItemsFilter's midpoint quantile.
    """
    from pyspark.sql import functions as sfn

    cur, cur_k = df, k
    for _ in range(8):
        # callers that already counted the frame pass ``n`` to skip
        # the first-pass recount action; later passes recount their
        # (filtered) slice as before
        if n is None:
            n = cur.count()
        if n <= max_slice:
            break
        p = cur_k / n
        lo, hi = cur.stat.approxQuantile(
            colname,
            [max(0.0, p - 2 * rel_err), min(1.0, p + 2 * rel_err)],
            rel_err,
        )
        if lo == hi:
            return lo
        c_lo = cur.filter(sfn.col(colname) < lo).count()
        cur = cur.filter(
            (sfn.col(colname) >= lo) & (sfn.col(colname) <= hi)
        )
        cur_k = cur_k - c_lo
        n = None
    return cur.sort(colname).limit(cur_k).agg(sfn.max(colname)).first()[0]


def get_top_k(
    dataframe: DataFrame,
    partition_by_col: Column,
    order_by: list,
    k: int,
) -> DataFrame:
    """Top-k rows per partition under an explicit ordering.

    Parity: reference ``spark_utils.py:101-153``. The caller supplies
    the full ordering (including tie-breaks) so output is
    deterministic.
    """
    return (
        dataframe.withColumn(
            "temp_rank",
            F.row_number().over(Window.partitionBy(partition_by_col).orderBy(*order_by)),
        )
        .filter(F.col("temp_rank") <= k)
        .drop("temp_rank")
    )


def get_top_k_recs(
    recs: DataFrame,
    k: int,
    query_column: str = "query_id",
    item_column: str = "item_id",
    rating_column: str = "rating",
) -> DataFrame:
    """Top-k recommendations per query: rating desc, item asc tie-break.

    Parity: reference ``spark_utils.py:156-181``.
    """
    return get_top_k(
        recs,
        F.col(query_column),
        [F.col(rating_column).desc(), F.col(item_column).asc()],
        k,
    )


def filter_cold(
    df: Optional[DataFrame],
    warm_df: DataFrame,
    col_name: str,
) -> tuple[int, Optional[DataFrame]]:
    """Drop rows whose ``col_name`` is absent from ``warm_df``.

    Returns ``(num_cold, filtered_df)``. Parity: reference
    ``spark_utils.py:724-747`` (anti-join count + semi join). The
    warm universe is usually small (distinct ids) → broadcast it.
    """
    if df is None:
        return 0, None
    warm = warm_df.select(col_name).distinct()
    num_cold = df.join(F.broadcast(warm), on=col_name, how="left_anti").count()
    if num_cold == 0:
        return 0, df
    return num_cold, df.join(F.broadcast(warm), on=col_name, how="left_semi")


def get_unique_entities(
    df: Union[DataFrame, Iterable],
    column: str,
    spark: Optional[SparkSession] = None,
) -> DataFrame:
    """One-column DataFrame of distinct entities.

    Parity: reference ``spark_utils.py:750-768`` — accepts a
    DataFrame or an iterable of ids.
    """
    if isinstance(df, DataFrame):
        return df.select(column).distinct()
    spark = spark or SparkSession.getActiveSession()
    values = list(df)
    return spark.createDataFrame([(v,) for v in values], [column]).distinct()


def join_or_return(first: DataFrame, second: Optional[DataFrame], on, how: str) -> DataFrame:
    """Join if ``second`` is not None, else pass-through.

    Parity: reference ``spark_utils.py:465-477``.
    """
    if second is None:
        return first
    return first.join(second, on=on, how=how)


def fallback(
    base: DataFrame,
    fill: DataFrame,
    k: int,
    query_column: str = "query_id",
    item_column: str = "item_id",
    rating_column: str = "rating",
) -> DataFrame:
    """Complete short recommendation lists in ``base`` with ``fill``.

    Fallback ratings are shifted strictly below the minimum base
    rating so they never displace a base rec, then both sets merge
    through a full-outer join + coalesce + top-k window. Parity:
    reference ``spark_utils.py:480-514``.
    """
    if fill is None:
        return base
    margin = 0.1
    min_max_margin = (
        fill.agg(
            F.min(rating_column).alias("min"),
            F.max(rating_column).alias("max"),
        )
        .withColumn("margin", F.lit(margin))
        .first()
    )
    base_min = base.agg(F.min(rating_column).alias("min")).first()["min"]
    if base_min is None:
        base_min = 0.0
    diff = min_max_margin["max"] - base_min + min_max_margin["margin"]
    fill = fill.withColumnRenamed(rating_column, "rating_fallback").withColumn(
        "rating_fallback", F.col("rating_fallback") - F.lit(diff)
    )
    recs = base.join(fill, on=[query_column, item_column], how="full_outer")
    recs = recs.withColumn(
        rating_column, F.coalesce(F.col(rating_column), F.col("rating_fallback"))
    ).select(query_column, item_column, rating_column)
    return get_top_k_recs(recs, k, query_column, item_column, rating_column)


def convert2spark(data, spark: Optional[SparkSession] = None) -> DataFrame:
    """pandas (or list-of-rows) → Spark DataFrame (Arrow path).

    Parity: reference ``spark_utils.py:78-98``.
    """
    if isinstance(data, DataFrame):
        return data
    spark = spark or SparkSession.getActiveSession()
    return spark.createDataFrame(data)


def save_picklable_to_parquet(obj, path: str) -> None:
    """Pickle an arbitrary object into a 1-row parquet (HDFS-safe).

    Parity: reference ``spark_utils.py:789-818`` — lets model params
    live next to model dataframes on any Hadoop-compatible FS.
    """
    import pickle

    spark = SparkSession.getActiveSession()
    payload = bytearray(pickle.dumps(obj))
    spark.createDataFrame([(payload,)], "payload binary").write.mode(
        "overwrite"
    ).parquet(path)


def load_pickled_from_parquet(path: str):
    import pickle

    spark = SparkSession.getActiveSession()
    row = spark.read.parquet(path).first()
    return pickle.loads(bytes(row["payload"]))


def cache_temp_view(df: DataFrame, name: str) -> None:
    """Materialize a named cached view (reference ``spark_utils.py:654``)."""
    spark = SparkSession.getActiveSession()
    df.createOrReplaceTempView(name)
    spark.sql(f"CACHE TABLE {name}")


def drop_temp_view(name: str) -> None:
    spark = SparkSession.getActiveSession()
    spark.catalog.dropTempView(name)


def plan_bytes(df: DataFrame) -> int:
    """The optimizer's size estimate of ``df`` in bytes (the file
    index's bytes for a scan, a row-width share of it for a
    projection); reading it runs no job."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def release(df: Optional[DataFrame]) -> None:
    """Free the storage behind ``df``: a cached frame's cache entry,
    or a local checkpoint's blocks. ``unpersist()`` does nothing on a
    checkpoint: its blocks belong to the checkpointed RDD, not to the
    cache manager. Anything that still reads a released checkpoint
    fails, so only its owner calls this, once nothing reads it."""
    if df is None:
        return
    if df.is_cached:
        df.unpersist()
        return
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def observed_metrics(df: DataFrame) -> dict:
    """``{name: {metric: value}}`` of the named ``observe``s that ran in
    ``df``'s own execution (not in a checkpoint's); a branch AQE pruned
    has no entry. Never an ``Observation``: it leaves the session an
    unserializable manager that breaks Spark ML closures."""
    out = {}
    entries = df._jdf.queryExecution().observedMetrics().iterator()
    while entries.hasNext():
        entry = entries.next()
        row = entry._2()
        fields = row.schema().fieldNames()
        out[entry._1()] = {f: row.get(i) for i, f in enumerate(fields)}
    return out


def observed_rows(seen: dict, name: str) -> int:
    """The ``rows`` metric of the observe ``name``; 0 if it did not run."""
    return seen.get(name, {}).get("rows", 0)


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame, dict], Optional[DataFrame]],
    max_rounds: int,
    name: str,
    done: Optional[Callable[[dict], bool]] = None,
) -> Tuple[DataFrame, int, dict]:
    """Iterate ``state = step(state, seen)``; return ``(state, rounds,
    seen)``. Each round is one eager ``localCheckpoint`` of ``step``'s
    frame, and ``seen`` is that frame's :func:`observed_metrics` (``{}``
    before the first round), so a round's convergence figures cost no
    action of their own. Each spent round is released once the next is
    stored; the input ``state`` and the returned one are the caller's.
    Stops when ``done(seen)`` holds or ``step`` returns ``None``; runs
    out of ``max_rounds`` with ``done`` still false, it warns."""
    current, rounds, seen = state, 0, {}
    while rounds < max_rounds:
        frame = step(current, seen)
        if frame is None:
            return current, rounds, seen
        stored, seen = frame.localCheckpoint(eager=True), observed_metrics(frame)
        if current is not state:
            release(current)
        current, rounds = stored, rounds + 1
        if done is not None and done(seen):
            return current, rounds, seen
    if done is not None:
        warnings.warn(
            f"{name} did not converge within {max_rounds} rounds (the last "
            f"one observed {seen}); raise its round limit",
            RuntimeWarning,
            stacklevel=2,
        )
    return current, rounds, seen


def bucketed_apply_in_pandas(
    df: DataFrame, key: str, fn, schema: Union[str, StructType]
) -> DataFrame:
    """Run the CPU-bound pandas ``fn`` over buckets of whole ``key``
    groups: ``pmod(xxhash64(key), n)`` with
    ``n = max(2 * defaultParallelism, 8)``.

    One ``applyInPandas`` group per BUCKET, not per key: each group
    pays ~1-2 ms of pandas construction, which dominates at 10⁴+
    keys. ``fn`` gets every row of its bucket's keys (plus the
    ``_bucket`` column) and returns rows of ``schema``.

    The numbered repartition pins the stage's parallelism
    (REPARTITION_BY_NUM is the one shuffle origin AQE never
    coalesces): the bucket exchange carries few bytes but each bucket
    is seconds of Python CPU, so byte-targeted coalescing — which the
    cached-plan AQE conf also applies to cached results — would
    collapse the stage onto one task (the SLIM solve measured
    6.6 -> 20.9 s on the ml1m-shaped corpus). ``groupBy`` reuses the
    pinned partitioning, so there is no second exchange.
    """
    n_buckets = max(2 * df.sparkSession.sparkContext.defaultParallelism, 8)
    return (
        df.withColumn("_bucket", F.pmod(F.xxhash64(key), F.lit(n_buckets)))
        .repartition(n_buckets, "_bucket")
        .groupBy("_bucket")
        .applyInPandas(fn, schema)
    )


def map_rows(
    df: DataFrame,
    inputs: Sequence[str],
    fn: Callable[..., Iterable[tuple]],
    columns: Sequence[Union[str, Tuple[str, DataType]]],
    per_batch: Optional[Callable[[], Any]] = None,
) -> DataFrame:
    """Row-wise Python stage: ``fn(*values)`` gets the ``inputs``
    values of one row and yields one tuple per output row (zero, one
    or many), and each output row is laid out as ``columns``:

    * a name is a column of ``df`` carried through unchanged from the
      row that produced it, typed by its ``df.schema`` field;
    * a ``(name, DataType)`` pair is a column ``fn`` computes; its
      tuples hold these columns' values in order.

    The stage reads only the kept and the input columns, and its
    schema is a ``StructType`` (no DDL text, so any column name
    works). It runs as one ``mapInPandas``, so the plan holds it as an
    opaque node: a filter on an output column never re-runs ``fn``
    (a scalar pandas UDF under such a filter is evaluated twice).

    State: ``fn`` is unpickled once per task, so a cache in its
    closure lives for one partition; ``per_batch``, when given, is
    called at the start of every Arrow batch and its result is passed
    to ``fn`` as the first argument, for state that must not outlive
    the batch.
    """
    inputs = list(inputs)
    names = [c if isinstance(c, str) else c[0] for c in columns]
    kept = [c for c in columns if isinstance(c, str)]
    made = [c[0] for c in columns if not isinstance(c, str)]
    schema = StructType(
        [
            df.schema[c] if isinstance(c, str) else StructField(c[0], c[1])
            for c in columns
        ]
    )
    read = list(dict.fromkeys(kept + inputs))
    if read != df.columns:
        df = df.select(
            *[F.col("`" + c.replace("`", "``") + "`") for c in read]
        )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            state = (per_batch(),) if per_batch is not None else ()
            rows, src = [], []
            for i, values in enumerate(zip(*(pdf[c] for c in inputs))):
                before = len(rows)
                rows.extend(fn(*state, *values))
                src += [i] * (len(rows) - before)
            # an empty list makes a float64 column, which Arrow cannot
            # convert to an array, map or timestamp; object can
            out = {c: pd.Series([], dtype=object) for c in made}
            out.update(zip(made, map(list, zip(*rows))))
            one_each = src == list(range(len(pdf)))
            for c in kept:
                s = pdf[c]
                out[c] = s if one_each else s.take(src).reset_index(drop=True)
            yield pd.DataFrame({c: out[c] for c in names})

    return df.mapInPandas(run, schema=schema)


def sample_top_k_recs(
    pairs: DataFrame,
    k: int,
    seed: Optional[int] = None,
    query_column: str = "query_id",
    item_column: str = "item_id",
    rating_column: str = "rating",
) -> DataFrame:
    """Sample k items per query with probability ∝ rating.

    Weighted sampling without replacement via per-group pandas UDF
    (Arrow-batched), seeded per query for reproducibility. Parity:
    reference ``spark_utils.py:671-721``.
    """
    import numpy as np
    import pandas as pd

    probability_sum = Window.partitionBy(query_column)
    pairs = pairs.withColumn(
        "_prob",
        F.col(rating_column) / F.sum(rating_column).over(probability_sum),
    )

    def sample_group(pdf: pd.DataFrame) -> pd.DataFrame:
        query_id = pdf[query_column].iloc[0]
        local_rng = np.random.default_rng(
            None if seed is None else seed + int(query_id)
        )
        # draw over item order, not arrival order: the rows of a
        # query reach its bucket in partitioning-dependent order
        pdf = pdf.sort_values(item_column)
        n = min(k, len(pdf))
        probs = pdf["_prob"].to_numpy()
        probs = probs / probs.sum()
        chosen = local_rng.choice(len(pdf), size=n, p=probs, replace=False)
        return pdf.iloc[chosen]

    def sample_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        out = [
            sample_group(g)
            for _, g in pdf.groupby(query_column, sort=False)
        ]
        return pd.concat(out).drop(columns=["_bucket", "_prob"])

    return bucketed_apply_in_pandas(
        pairs, query_column, sample_bucket, pairs.drop("_prob").schema
    )


def horizontal_explode(
    dataframe: DataFrame,
    column_to_explode: str,
    prefix: str,
    other_columns: list,
) -> DataFrame:
    """array<T> column → ``{prefix}_0 .. {prefix}_{n-1}`` scalar columns.

    Parity: reference ``spark_utils.py:419-462``. Array length is
    probed from one row (driver scalar pull, same as reference).
    """
    num_columns = len(dataframe.select(column_to_explode).head()[0])
    return dataframe.select(
        *other_columns,
        *[
            F.element_at(F.col(column_to_explode), i + 1).alias(f"{prefix}_{i}")
            for i in range(num_columns)
        ],
    )


def get_stats(
    log: DataFrame,
    group_by: str = "query_id",
    target_column: str = "rating",
) -> DataFrame:
    """Per-entity rating stats: mean/max/min/median/count.

    Parity: reference ``spark_utils.py:362-405``.
    """
    agg = [
        F.avg(target_column).alias(f"mean_{target_column}"),
        F.max(target_column).alias(f"max_{target_column}"),
        F.min(target_column).alias(f"min_{target_column}"),
        F.count(target_column).alias(f"{target_column}_count"),
        F.expr(f"percentile_approx({target_column}, 0.5)").alias(f"median_{target_column}"),
    ]
    return log.groupBy(group_by).agg(*agg)


def get_log_info(
    log: DataFrame,
    query_column: str = "query_id",
    item_column: str = "item_id",
    approximate_rsd: Optional[float] = None,
) -> str:
    """'total lines / distinct users / distinct items' summary string.

    Parity: reference ``spark_utils.py:325-359``. Single pass —
    counts computed in one aggregate instead of three jobs.

    ``approximate_rsd`` switches the distinct counts to HyperLogLog++
    (``approx_count_distinct``) with that relative standard deviation
    — at 100-TB scale the exact distinct forces a full shuffle of
    every key while the sketch is a fixed-size map-side merge; use it
    whenever the summary is informational rather than asserted.
    """
    if approximate_rsd is not None:
        distinct = lambda c: F.approx_count_distinct(c, rsd=approximate_rsd)  # noqa: E731
    else:
        distinct = F.countDistinct
    row = log.agg(
        F.count(F.lit(1)).alias("total"),
        distinct(query_column).alias("queries"),
        distinct(item_column).alias("items"),
    ).first()
    return f"total lines: {row['total']}, total users: {row['queries']}, total items: {row['items']}"


def is_timestamp_like(dtype: str) -> bool:
    """True when a ``df.dtypes`` simple string denotes a timestamp column.

    Spark reads parquet ``timestamp[us]``-without-timezone as
    TIMESTAMP_NTZ (dtype string ``timestamp_ntz``); any dispatch on
    ``dtype == "timestamp"`` alone silently misroutes NTZ columns into
    numeric/string branches. Every dtype-based timestamp check in the
    package must go through this helper.
    """
    return dtype in ("timestamp", "timestamp_ntz")


def process_timestamp_column(
    dataframe: DataFrame,
    column_name: str,
    date_format: Optional[str] = None,
) -> DataFrame:
    """Normalize a timestamp column to TimestampType.

    Accepts native timestamps (incl. TIMESTAMP_NTZ, reinterpreted in
    the session timezone), unix seconds (int/long), or formatted
    strings. Parity: reference ``spark_utils.py:573-609``.
    """
    dtype = dict(dataframe.dtypes)[column_name]
    if dtype == "timestamp":
        return dataframe
    if dtype == "timestamp_ntz":
        return dataframe.withColumn(
            column_name, F.col(column_name).cast("timestamp")
        )
    if dtype in ("int", "bigint", "long", "smallint"):
        return dataframe.withColumn(
            column_name, F.to_timestamp(F.from_unixtime(F.col(column_name)))
        )
    return dataframe.withColumn(
        column_name, F.to_timestamp(F.col(column_name), date_format)
    )


# ---------------------------------------------------------------------------
# Vector expressions (JVM-side; replace the reference's Python/Scala UDFs:
# spark_utils.py:186-298, ScalaPySparkUDFs.scala:11-17)
# ---------------------------------------------------------------------------


def vector_dot_expr(left: Union[str, Column], right: Union[str, Column]) -> Column:
    """Dot product of two array<numeric> columns, fully JVM-side."""
    left = F.col(left) if isinstance(left, str) else left
    right = F.col(right) if isinstance(right, str) else right
    return F.aggregate(
        F.zip_with(left, right, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm_expr(col: Column) -> Column:
    return F.sqrt(F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_similarity_expr(left: Union[str, Column], right: Union[str, Column]) -> Column:
    """Cosine similarity of two array<numeric> columns."""
    left = F.col(left) if isinstance(left, str) else left
    right = F.col(right) if isinstance(right, str) else right
    return vector_dot_expr(left, right) / (_norm_expr(left) * _norm_expr(right))


def vector_euclidean_similarity_expr(
    left: Union[str, Column], right: Union[str, Column]
) -> Column:
    """1 / (1 + euclidean distance) similarity (reference ``spark_utils.py:637``)."""
    left = F.col(left) if isinstance(left, str) else left
    right = F.col(right) if isinstance(right, str) else right
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(left, right, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return F.lit(1.0) / (F.lit(1.0) + dist)


def multiply_vector_expr(scalar: Union[str, Column], vec: Union[str, Column]) -> Column:
    """scalar * array<numeric> (reference Scala ``multiplyUDF``)."""
    scalar = F.col(scalar) if isinstance(scalar, str) else scalar
    vec = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(vec, lambda x: x * scalar)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: Union[str, list],
    num_buckets: int,
    sort_by: Optional[Union[str, list]] = None,
    mode: str = "overwrite",
) -> DataFrame:
    """Persist ``df`` as a BUCKETED (and optionally sorted) table and
    return the re-read frame — the co-located-join primitive for
    repeatedly-joined big tables.

    A join between two tables bucketed on the same keys with the same
    bucket count plans with NO Exchange on either side (the bucketing
    IS the partitioning, proven by ``tests/test_plan_shapes.py``) —
    at 100 TB that converts every recurring fact↔fact join from a
    full shuffle into a zip of pre-sorted buckets. Spark's bucketing
    rides ``saveAsTable`` (parquet under the warehouse dir; no Hive
    needed with the in-memory catalog).

    Requires ``spark.sql.sources.bucketing.enabled`` (default true).
    Set ``spark.sql.shuffle.partitions``-sized ``num_buckets`` so a
    bucket is one task's worth of data at the target scale.
    """
    cols = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    spark = df.sparkSession
    if mode == "overwrite":
        # the in-memory catalog forgets managed tables between
        # sessions but their warehouse directories persist — an
        # overwrite must clear the orphaned location too
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        warehouse = spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        )
        local = warehouse
        for prefix in ("file://", "file:"):
            if local.startswith(prefix):
                local = local[len(prefix):]
                break
        orphan = os.path.join(local, table.split(".")[-1].lower())
        if os.path.isdir(orphan):
            shutil.rmtree(orphan, ignore_errors=True)
    writer = df.write.mode(mode).bucketBy(num_buckets, *cols)
    if sort_by is not None:
        sort_cols = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)
    return spark.table(table)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: Union[str, Iterable[str]] = (),
    direction: str = "backward",
    tolerance: Optional[float] = None,
    suffix: str = "_right",
) -> DataFrame:
    """Temporal as-of join — the operator Spark's join family lacks:
    for each left row, attach the SINGLE nearest right row at-or-
    before (``backward``) / at-or-after (``forward``) / on either
    side (``nearest`` — ties go backward, pandas ``merge_asof``
    semantics) of its ``on`` time within the same ``by`` keys; no
    match (or a match farther than ``tolerance`` seconds) yields
    nulls. ``nearest`` shares one hash exchange between its two
    directional carries (two sorts, no extra shuffle).

    Plan shape (the 100 TB argument): both sides are UNIONED with a
    side tag, hash-shuffled ONCE on ``by``, and merged by a per-key
    ordered window that carries the latest right-side row forward as
    a struct (``last(ignorenulls)``) — linear merge work per key,
    never a per-left × per-right range scan, and never a
    BroadcastNestedLoopJoin. Right rows sort BEFORE left rows at
    equal timestamps, so equal-time matches are inclusive (pandas
    ``merge_asof`` semantics). A single hot key serializes into one
    task — inherent to ordered-merge semantics; pre-split hot keys
    upstream if that matters.

    Right-side columns (including its ``on`` time) come back
    suffixed. Ties among right rows at the same (key, time) resolve
    to the row latest in the union order; give right a unique
    timestamp per key (or pre-aggregate) for full determinism —
    DuckDB's native ASOF JOIN has the same contract, which is what
    the ``q_asof_join`` gate cross-checks.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown direction: {direction!r}")
    by = [by] if isinstance(by, str) else list(by)
    payload = [c for c in right.columns if c not in by]
    if on not in right.columns:
        raise ValueError(f"right side needs the {on!r} column")
    r2 = right.select(
        *by,
        F.col(on).alias("_t"),
        F.lit(0).alias("_side"),
        F.struct(*payload).alias("_rp"),
    )
    l2 = left.select(
        *left.columns, F.col(on).alias("_t"), F.lit(1).alias("_side")
    )
    u = l2.unionByName(r2, allowMissingColumns=True)
    # numeric 'on' columns (epoch seconds, sequence numbers) are
    # first-class: gaps and tolerance stay in the column's own units
    # (pandas merge_asof semantics); timestamps convert to µs
    _t_is_ts = dict(u.dtypes)["_t"].startswith("timestamp")
    if _t_is_ts:
        _units = F.unix_micros
        tol_us = (
            int(tolerance * 1_000_000) if tolerance is not None else None
        )
    else:
        _units = lambda c: c.cast("double")  # noqa: E731
        tol_us = float(tolerance) if tolerance is not None else None

    def _carry(dir_: str):
        """Match struct + non-negative gap (µs) for one direction."""
        order = [F.col("_t").asc(), F.col("_side").asc()]
        if dir_ == "forward":
            order = [F.col("_t").desc(), F.col("_side").asc()]
        w = (
            Window.partitionBy(*by)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        m = F.last("_rp", ignorenulls=True).over(w)
        gap = _units(F.col("_t")) - _units(m[on])
        if dir_ == "forward":
            gap = -gap
        return m, gap

    if direction == "nearest":
        # both carries share the hash partitioning on ``by`` — one
        # exchange, two sorts; candidates beyond tolerance are
        # dropped BEFORE choosing, ties at equal gap go backward
        # (pandas merge_asof semantics)
        mb, gb = _carry("backward")
        mf, gf = _carry("forward")
        matched = (
            u.withColumn("_rb", mb)
            .withColumn("_gb", gb)
            .withColumn("_rf", mf)
            .withColumn("_gf", gf)
            .filter(F.col("_side") == 1)
        )
        ok_b = F.col("_rb").isNotNull()
        ok_f = F.col("_rf").isNotNull()
        if tol_us is not None:
            ok_b = ok_b & (F.col("_gb") <= F.lit(tol_us))
            ok_f = ok_f & (F.col("_gf") <= F.lit(tol_us))
        use_b = ok_b & (~ok_f | (F.col("_gb") <= F.col("_gf")))
        chosen = F.when(use_b, F.col("_rb")).when(ok_f, F.col("_rf"))
        matched = matched.withColumn("_rm", chosen)
        ok = F.col("_rm").isNotNull()
    else:
        m, gap = _carry(direction)
        matched = u.withColumn("_rm", m).filter(F.col("_side") == 1)
        ok = F.col("_rm").isNotNull()
        if tol_us is not None:
            ok = ok & (
                _units(F.col("_t")) - _units(F.col("_rm")[on])
                <= tol_us
                if direction == "backward"
                else _units(F.col("_rm")[on]) - _units(F.col("_t"))
                <= tol_us
            )
    out_cols = [F.col(c) for c in left.columns]
    out_cols += [
        F.when(ok, F.col("_rm")[c]).alias(f"{c}{suffix}") for c in payload
    ]
    return matched.select(*out_cols)


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_time: str,
    right_start: str,
    right_end: str,
    by: Union[str, Iterable[str]] = (),
    bucket_seconds: int = 300,
) -> DataFrame:
    """Interval (range) join: every (left row, right interval) pair
    with ``right_start <= left_time <= right_end`` within the same
    ``by`` keys.

    Spark plans a raw inequality join as BroadcastNestedLoop (a scan
    of every interval per row). This instead BUCKETS time into
    ``bucket_seconds`` cells: each interval explodes to the cells it
    covers (span/bucket rows — pick a bucket comparable to typical
    interval length), each left row keys to its single cell, and the
    match becomes a hash EQUI-join on (by, cell) plus the exact
    predicate. Each matching pair meets in exactly one cell (the
    left row's own), so no dedup pass is needed. One shuffle each
    side, join fan-out bounded by true selectivity.
    """
    by = [by] if isinstance(by, str) else list(by)
    cell = lambda c: F.floor(F.unix_micros(F.col(c)) / (bucket_seconds * 1_000_000))  # noqa: E731
    r2 = right.withColumn(
        "_cell",
        F.explode(F.sequence(cell(right_start), cell(right_end))),
    )
    l2 = left.withColumn("_cell", cell(left_time))
    joined = l2.join(r2, on=by + ["_cell"], how="inner").filter(
        (F.col(left_time) >= F.col(right_start))
        & (F.col(left_time) <= F.col(right_end))
    )
    return joined.drop("_cell")


def profile_columns(
    df: DataFrame, columns: Optional[Iterable[str]] = None
) -> DataFrame:
    """Per-column data-quality profile — the first pass a pipeline
    runs on an unfamiliar 100 TB table: one row per column with
    ``[column, dtype, n_rows, n_nulls, n_distinct, min_value,
    max_value]`` (min/max rendered as strings so mixed types share a
    schema).

    ONE aggregation job total: every column's counts/extremes are
    expressions in a single agg (map-side combined), then the 1-row
    result unpivots via ``stack`` — no per-column scans, no driver
    loops over data. ``n_distinct`` is exact; profile a
    pathologically wide/high-cardinality table with the HLL sketch
    (``preprocessing.text.HyperLogLog``) instead if the exact
    distinct map-side state matters.
    """
    cols = list(columns) if columns is not None else list(df.columns)
    if not cols:
        raise ValueError("no columns to profile")
    dtypes = dict(df.dtypes)
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"_nn_{c}"),
            F.countDistinct(F.col(c)).alias(f"_nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"_mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"_mx_{c}"),
        ]
    one = df.agg(*aggs)
    return one.select(
        "_rows",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.lit(dtypes[c]).alias("dtype"),
                        F.col(f"_nn_{c}").alias("n_nulls"),
                        F.col(f"_nd_{c}").alias("n_distinct"),
                        F.col(f"_mn_{c}").alias("min_value"),
                        F.col(f"_mx_{c}").alias("max_value"),
                    )
                    for c in cols
                ]
            )
        ).alias("_p"),
    ).select(
        F.col("_p.column").alias("column"),
        F.col("_p.dtype").alias("dtype"),
        F.col("_rows").alias("n_rows"),
        F.col("_p.n_nulls").alias("n_nulls"),
        F.col("_p.n_distinct").alias("n_distinct"),
        F.col("_p.min_value").alias("min_value"),
        F.col("_p.max_value").alias("max_value"),
    )


def corr_matrix(
    df: DataFrame, columns: Iterable[str], exact_integer: bool = True
) -> DataFrame:
    """Pairwise Pearson correlation over ``columns`` in ONE
    map-side-combined scan: all p + p(p+1)/2 moments (per-column
    sum/sumsq, per-pair dot product) are expressions in a single
    ``agg`` — at 100 TB this replaces p²/2 separate ``corr()`` jobs
    with one pass, the same argument as ``profile_columns``.

    Output: one row per unordered pair (a < b in ``columns`` order)
    with the EXACT BIGINT moments (``n, sum_a, sum_b, sumsq_a,
    sumsq_b, dot``) plus the derived ``corr`` double, computed as
    ``(n·dot − sa·sb) / (sqrt(n·qa − sa²) · sqrt(n·qb − sb²))`` in
    that order and stable-rounded to 6 — engine-portable because
    every operand is an exactly-representable integer (requires
    integer-valued inputs when ``exact_integer=True``; pre-floor
    doubles upstream). Zero-variance columns yield NULL corr.
    Rows with a NULL in ANY of the columns are excluded wholesale
    (listwise deletion) so every pair shares one consistent ``n``.
    """
    cols = list(columns)
    if len(cols) < 2:
        raise ValueError("need at least two columns")
    clean = df.na.drop(subset=cols)
    cast = "long" if exact_integer else "double"
    vals = {c: F.col(c).cast(cast) for c in cols}
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(F.sum(vals[c]).alias(f"_s_{c}"))
        aggs.append(F.sum(vals[c] * vals[c]).alias(f"_q_{c}"))
    pairs = [
        (a, b) for i, a in enumerate(cols) for b in cols[i + 1:]
    ]
    for a, b in pairs:
        aggs.append(F.sum(vals[a] * vals[b]).alias(f"_d_{a}_{b}"))
    one = clean.agg(*aggs)
    structs = []
    for a, b in pairs:
        n = F.col("_n")
        sa, sb = F.col(f"_s_{a}"), F.col(f"_s_{b}")
        qa, qb = F.col(f"_q_{a}"), F.col(f"_q_{b}")
        d = F.col(f"_d_{a}_{b}")
        # derive in DOUBLE: n·q − s² overflows BIGINT once sums pass
        # ~3e9 even though each stored moment still fits; double
        # arithmetic in this fixed order is engine-portable
        nd = n.cast("double")
        sad, sbd = sa.cast("double"), sb.cast("double")
        var_a = nd * qa.cast("double") - sad * sad
        var_b = nd * qb.cast("double") - sbd * sbd
        corr = F.when(
            (var_a > 0) & (var_b > 0),
            stable_round(
                (nd * d.cast("double") - sad * sbd)
                / (F.sqrt(var_a) * F.sqrt(var_b)),
                6,
            ),
        )
        structs.append(F.struct(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            n.alias("n"),
            sa.alias("sum_a"),
            sb.alias("sum_b"),
            qa.alias("sumsq_a"),
            qb.alias("sumsq_b"),
            d.alias("dot"),
            corr.alias("corr"),
        ))
    return one.select(F.explode(F.array(*structs)).alias("_p")).select(
        "_p.col_a", "_p.col_b", "_p.n", "_p.sum_a", "_p.sum_b",
        "_p.sumsq_a", "_p.sumsq_b", "_p.dot", "_p.corr"
    )


def diagnose_skew(
    df: DataFrame, key_cols: Union[str, Iterable[str]], top_n: int = 10
) -> DataFrame:
    """Join/groupBy-key skew diagnosis — run this BEFORE a big
    shuffle to decide whether salting or AQE skew-join handling is
    needed: one row per heavy key (the ``top_n`` largest) with its
    row count and share, plus a ``__total__`` summary row carrying
    the key cardinality and the max-key share (the number that
    predicts the straggler task).

    One map-side-combined aggregation + a ``top_n`` TakeOrdered —
    no full sort, nothing driver-side beyond the tiny result.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if top_n < 1:
        raise ValueError("top_n must be >= 1")
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("key_rows"))
    totals = counts.agg(
        F.sum("key_rows").alias("_total"),
        F.count(F.lit(1)).alias("_n_keys"),
        F.max("key_rows").alias("_max_rows"),
    )
    key_str = F.concat_ws("|", *[F.col(k).cast("string") for k in keys])
    top = (
        counts.crossJoin(F.broadcast(totals))
        .orderBy(F.col("key_rows").desc(), key_str.asc())
        .limit(top_n)
        .select(
            key_str.alias("key"),
            "key_rows",
            stable_round(
                F.col("key_rows") / F.col("_total").cast("double"), 6
            ).alias("share"),
            F.lit(None).cast("long").alias("n_keys"),
        )
    )
    summary = totals.select(
        F.lit("__total__").alias("key"),
        F.col("_total").alias("key_rows"),
        stable_round(
            F.col("_max_rows") / F.col("_total").cast("double"), 6
        ).alias("share"),
        F.col("_n_keys").alias("n_keys"),
    )
    return top.unionByName(summary)


def skew_join(
    left: DataFrame,
    right: DataFrame,
    on: Union[str, Iterable[str]],
    how: str = "inner",
    hot_key_threshold: int = 1_000_000,
    num_salts: int = 16,
    max_hot_keys: int = 10_000,
) -> DataFrame:
    """Skew-safe equi-join: split hot keys out and salt ONLY them.

    AQE's skew-join handles sort-merge stragglers, but a key whose
    rows exceed one executor's memory still needs salting. This is
    the production two-phase pattern, made deterministic:

    1. one map-side-combined count finds keys with
       ``>= hot_key_threshold`` left rows (top ``max_hot_keys`` by
       count, ties broken by key — a bounded driver list, because
       hot keys are few by definition; a warning-worthy corpus with
       10k+ hot keys should raise the threshold);
    2. cold keys join normally (semi/anti splits keep the cold right
       side small);
    3. hot left rows get a deterministic per-row salt (xxhash64 of
       all columns — no rand(), so retries reproduce), the hot right
       rows replicate ``num_salts`` ways via ``explode``, and the
       salted join spreads each hot key over ``num_salts`` tasks.

    Result equals the plain join exactly (gate `q_skew_join`);
    supports ``inner`` and ``left``. The hot-key COUNT is on the
    left side — pass the bigger/skewed side as ``left``.
    """
    keys = [on] if isinstance(on, str) else list(on)
    if how not in ("inner", "left"):
        raise ValueError("skew_join supports how='inner' or 'left'")
    if num_salts < 2:
        raise ValueError("num_salts must be >= 2")
    hot = (
        left.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= hot_key_threshold)
        .orderBy(F.col("_n").desc(), *[F.col(k) for k in keys])
        .limit(max_hot_keys)
        .select(*keys)
    )
    hot_rows = hot.collect()
    if not hot_rows:
        return left.join(right, keys, how)
    hot_df = F.broadcast(
        left.sparkSession.createDataFrame(hot_rows, hot.schema)
    )
    cold_l = left.join(hot_df, keys, "left_anti")
    cold_r = right.join(hot_df, keys, "left_anti")
    cold = cold_l.join(cold_r, keys, how)
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(num_salts)
    ).cast("int")
    hot_l = left.join(hot_df, keys, "left_semi").withColumn("_salt", salt)
    hot_r = (
        right.join(hot_df, keys, "left_semi")
        .withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1)))
        )
        .withColumn("_salt", F.col("_salt").cast("int"))
    )
    salted = hot_l.join(hot_r, keys + ["_salt"], how).drop("_salt")
    return cold.unionByName(salted)


def grouped_exact_quantiles(
    df: DataFrame,
    group_cols,
    value_col: str,
    probs: Iterable[float],
) -> DataFrame:
    """EXACT per-group discrete quantiles — the distributed
    ``GROUP BY`` twin of :func:`exact_quantiles`, with the same rank
    semantics (value at 1-based sorted position
    ``max(1, ceil(p·n_g))`` among the group's non-null values).

    Plan: ONE keyed window (row_number per group ordered by value —
    the only per-group ordering work, linear per key) plus a keyed
    count; the target ranks explode from the tiny count table and
    join back on (group, rank). No driver loop, no per-quantile
    pass — adding probabilities costs join rows, not scans
    (vs the global helper's ~2 passes per quantile). Ties share a
    value, so the output is deterministic even though row_number
    among equals is not. Output: ``[*group_cols, prob, value]``.
    """
    import math

    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    probs = list(probs)
    if not probs:
        raise ValueError("need at least one probability")
    for p in probs:
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"prob {p} outside [0, 1]")
    clean = df.select(*groups, value_col).filter(
        F.col(value_col).isNotNull()
    )
    w = Window.partitionBy(*groups).orderBy(F.col(value_col))
    ranked = clean.withColumn("_rn", F.row_number().over(w))
    counts = clean.groupBy(*groups).agg(F.count(F.lit(1)).alias("_n"))
    # ranks in EXACT rational arithmetic — float ceil(p·n) is
    # engine-dependent whenever p·n lands on an integer (double 0.99
    # gives 0.99·2500 = 2475.0000000000005 → ceil 2476; decimal
    # engines give 2475): ceil(n·num/den) = (n·num + den − 1) div den
    # with the minimal num/den of p
    from fractions import Fraction

    def _rank(p):
        frac = Fraction(str(float(p))).limit_denominator(10**6)
        num, den = frac.numerator, frac.denominator
        exact = F.floor(
            (F.col("_n") * F.lit(num) + F.lit(den - 1)) / F.lit(den)
        ).cast("int")
        return F.greatest(F.lit(1), exact)

    targets = counts.select(
        *groups,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(float(p)).alias("prob"),
                        _rank(p).alias("_k"),
                    )
                    for p in probs
                ]
            )
        ).alias("_t"),
    ).select(*groups, "_t.prob", "_t._k")
    # rename the target side's key columns: targets and ranked share
    # the `clean` lineage, so qualified refs stay ambiguous
    renamed = targets.select(
        *[F.col(g).alias(f"_g_{g}") for g in groups], "prob", "_k"
    )
    cond = F.col("_k") == F.col("_rn")
    for g in groups:
        cond = cond & (F.col(f"_g_{g}") == F.col(g))
    return renamed.join(ranked, cond).select(
        *[F.col(f"_g_{g}").alias(g) for g in groups],
        "prob",
        F.col(value_col).alias("value"),
    )


def exact_quantiles(
    df: DataFrame, colname: str, probs: Iterable[float]
) -> list:
    """EXACT discrete quantiles of a numeric column, distributed —
    no global sort, no approximation.

    Rank semantics match ``quantile_disc``: the value at 1-based
    sorted position ``max(1, ceil(p * n))``. Each probability
    resolves through :func:`kth_smallest` (approxQuantile bracket +
    exact re-anchor — ~2 passes per quantile at any scale). Use
    ``df.stat.approxQuantile`` when bounded rank error is
    acceptable; use this when the number must be exact (discretizer
    cut points, SLA percentiles).
    """
    from fractions import Fraction

    probs = list(probs)
    if not probs:
        return []
    n = df.count()
    if n == 0:
        return [None for _ in probs]
    out = []
    for p in probs:
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"prob {p} outside [0, 1]")
        # exact rational ceil — float ceil(p·n) overshoots by one
        # whenever p·n lands on an integer (0.99·2500 in doubles is
        # 2475.0000000000005)
        frac = Fraction(str(float(p))).limit_denominator(10**6)
        k = max(1, -((-n * frac.numerator) // frac.denominator))
        out.append(kth_smallest(df, colname, k, n=n))
    return out


def ensure_min_parallelism(
    df: DataFrame,
    min_partitions: Optional[int] = None,
    rows_per_task: int = 256,
    n: Optional[int] = None,
) -> DataFrame:
    """Round-robin repartition a DataFrame UP toward
    ``min_partitions`` (default ``sparkContext.defaultParallelism``)
    before a CPU-bound Python stage — a no-op when the plan already
    has at least that many partitions.

    Why this exists: a CPU-bound Python stage (``mapInPandas`` /
    ``applyInPandas`` decode, tokenize, featurize) inherits the
    SCAN's partitioning. A small parquet file reads as ONE partition
    (``spark.sql.files.maxPartitionBytes`` is 128 MB), so the whole
    Python stage runs serially on one core no matter how many the
    cluster has. At 100 TB the scan naturally has thousands of
    partitions and this helper disappears (the ``>=`` check
    short-circuits before any extra job); on a small input it
    unlocks the cores for the expensive stage at the cost of
    shuffling the few surviving rows.

    ``rows_per_task`` keeps tasks MEATY: a Python task carries fixed
    overhead (worker handshake + Arrow batch setup, tens of ms), so
    splitting 2 000 rows into 32 tasks of 60 rows is slower than 8
    tasks of 250 — measured 0.49 s vs 0.76 s on the JPEG decode
    gate. The target is ``min(cap, ceil(rows / rows_per_task))``;
    the row count costs one extra job only on the already-small
    under-partitioned path, never at scale. Bytes would be the wrong
    yardstick here: Python codec cost tracks rows (ms/row), not
    bytes — a 0.8 MB embeddings file carries 4 s of decode work.

    Use it IMMEDIATELY before the Python-heavy stage, after filters
    (so the shuffle moves only surviving rows). JVM-only pipelines
    don't need it: their aggregations re-shuffle to
    ``spark.sql.shuffle.partitions`` anyway.

    ``n``: callers that already know the row count (a ``fit`` that
    counted the corpus one line earlier) pass it to skip the
    small-path count job entirely; partitioning is a no-results
    concern, so a stale-but-close count is harmless.
    """
    cap = min_partitions
    if cap is None:
        cap = df.sparkSession.sparkContext.defaultParallelism
    if cap <= 1:
        return df
    if n is not None:
        # known-count fast path: decide the target BEFORE touching
        # df.rdd — when one task suffices, skip plan finalization and
        # the count job both (the r15 bench measured that machinery
        # at ~0.3 s on the tiny-input PQ encode path)
        target = min(cap, -(-n // max(1, rows_per_task)))
        if target <= 1:
            return df
        if df.rdd.getNumPartitions() >= target:
            return df
        return df.repartition(target)
    current = df.rdd.getNumPartitions()
    if current >= cap:
        return df
    n = df.count()
    target = min(cap, -(-n // max(1, rows_per_task)))
    if current >= target:
        return df
    return df.repartition(target)
