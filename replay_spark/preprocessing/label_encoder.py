"""Label encoding: dense 0..n-1 codes for categorical columns.

Rebuild of reference ``replay/preprocessing/label_encoder.py`` with
the key scale fix flagged in SURVEY §4: the fitted mapping stays a
DataFrame joined at transform time — the reference pulls it to the
driver with ``rdd.collectAsMap`` (``label_encoder.py:185``), which
dies at 10^9 distinct ids; a broadcast-or-shuffle join does not.

Fitting numbers every column of a fit in ONE Spark action
(:func:`_number_columns`), and a transform runs at most one
unknown-value check, covering every ``handle_unknown='error'`` rule.
"""

from __future__ import annotations

import json
import operator
from functools import reduce
from pathlib import Path
from typing import Optional, Sequence, Union

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["LabelEncodingRule", "SequenceEncodingRule", "LabelEncoder"]

_HANDLE_UNKNOWN = ("error", "use_default_value", "drop")


def _number_columns(
    values: Sequence[DataFrame], bases: Sequence[int]
) -> tuple[DataFrame, list]:
    """Dense ascending codes for several columns in ONE Spark action.

    ``values[i]`` is a one-column frame (column ``_v``) of column
    ``i``'s fit values; its codes start at ``bases[i]``. Returns the
    persisted code table and, per column, ``(mapping, saw_null)``:
    ``mapping`` is a lazy ``(_v, _code)`` projection over the table and
    ``saw_null`` says whether the fit values held a null (which, as in
    the reference's ``row_number().over(orderBy)``, takes the first
    code).

    The distinct values of every column are stacked into one frame
    ``(_c, _v0.._vn)``, each ``_vi`` keeping its column's type (null
    outside column ``i``'s rows). The frame is range-partitioned and
    sorted within partitions by ``(_c, _v0.._vn)``, so each column's
    values run in ascending order over contiguous partitions, and
    ``_local`` is the row's 0-based index in its partition
    (``monotonically_increasing_id`` minus the partition bits): no
    single-task sort and no window exchange. The one action is a
    ``groupBy(_pid, _c)`` collect of row counts and null flags;
    from it the driver computes, per column and partition, the offset
    that turns ``_local`` into the code: the column's rows in earlier
    partitions, minus the rows of earlier columns in the same
    partition. That is O(partitions x columns) driver work, and the
    offsets ride each mapping's plan as an array literal.

    The table is persisted MEMORY_AND_DISK: evicted blocks spill
    instead of being dropped, so the codes every mapping reads are
    never renumbered by a recompute. The caller owns the table and
    unpersists it when it is refitted.
    """
    keys = [f"_v{i}" for i in range(len(values))]
    types = [v.schema["_v"].dataType for v in values]
    stacked = reduce(
        DataFrame.unionByName,
        [
            v.select(
                F.lit(i).alias("_c"),
                *[
                    (F.col("_v") if j == i else F.lit(None).cast(t)).alias(k)
                    for j, (k, t) in enumerate(zip(keys, types))
                ],
            )
            for i, v in enumerate(values)
        ],
    ).distinct()
    order = ["_c", *keys]
    table = (
        stacked.repartitionByRange(*order)
        .sortWithinPartitions(*order)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_local",
            F.monotonically_increasing_id()
            - F.shiftleft(F.col("_pid").cast("long"), 33),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    all_null = reduce(operator.and_, [F.col(k).isNull() for k in keys])
    stats = table.groupBy("_pid", "_c").agg(
        F.count(F.lit(1)).alias("n"), F.max(all_null).alias("has_null")
    ).collect()
    counts = {(r["_c"], r["_pid"]): r["n"] for r in stats}
    saw_null = [False] * len(values)
    for r in stats:
        saw_null[r["_c"]] = saw_null[r["_c"]] or r["has_null"]
    n_parts = max((r["_pid"] for r in stats), default=0) + 1
    offsets = [[0] * n_parts for _ in values]
    before = [int(b) for b in bases]  # column c's codes in earlier partitions
    for pid in range(n_parts):
        earlier = 0  # rows of earlier columns in this partition
        for c in range(len(values)):
            offsets[c][pid] = before[c] - earlier
            n = counts.get((c, pid), 0)
            before[c] += n
            earlier += n
    mappings = [
        (
            table.filter(F.col("_c") == c).select(
                F.col(keys[c]).alias("_v"),
                (
                    F.col("_local")
                    + F.element_at(
                        F.array(*map(F.lit, offsets[c])).cast("array<bigint>"),
                        F.col("_pid") + 1,
                    )
                ).alias("_code"),
            ),
            saw_null[c],
        )
        for c in range(len(values))
    ]
    return table, mappings


def _fit_rules(fits: Sequence[tuple]) -> list:
    """Fit every ``(rule, df)`` pair in one action; returns the code
    tables persisted (none for no rules), which the caller owns."""
    if not fits:
        return []
    table, mappings = _number_columns(
        [rule._fit_values(df) for rule, df in fits], [0] * len(fits)
    )
    for (rule, _), (mapping, saw_null) in zip(fits, mappings):
        rule._set_fit(mapping, saw_null)
    return [table]


def _release(tables: Sequence[DataFrame]) -> None:
    for table in tables:
        table.unpersist()


def _raise_on_unknown(probes: Sequence[tuple]) -> None:
    """One ``limit(1)`` action over every ``(column, unknown_rows)``
    probe; the error names the column of the row it found."""
    if not probes:
        return
    found = (
        reduce(
            DataFrame.unionByName,
            [rows.select(F.lit(column).alias("_column")) for column, rows in probes],
        )
        .limit(1)
        .collect()
    )
    if found:
        raise ValueError(
            f"Found unknown values in column {found[0]['_column']} during transform"
        )


class LabelEncodingRule:
    """Encode one column to dense codes 0..n-1.

    Same mapping as the reference's ``distinct`` +
    ``row_number().over(Window.orderBy(col)) - 1``
    (``label_encoder.py:172-185``) but numbered by
    :func:`_number_columns`: no single-task global sort. The mapping
    is a lazy projection over a persisted code table. A standalone
    ``fit``/``partial_fit`` owns the tables it persisted and releases
    them on the next ``fit``; a rule fitted by a :class:`LabelEncoder`
    or ``DatasetLabelEncoder`` shares that owner's table and never
    releases it. ``partial_fit`` appends codes for unseen values after
    the current max.
    """

    def __init__(
        self,
        column: str,
        mapping: Optional[dict] = None,
        handle_unknown: str = "error",
        default_value: Optional[Union[int, str]] = None,
    ):
        if handle_unknown not in _HANDLE_UNKNOWN:
            raise ValueError(f"handle_unknown must be one of {_HANDLE_UNKNOWN}")
        self._validate_default(default_value)
        self.column = column
        self.handle_unknown = handle_unknown
        self.default_value = default_value
        self._mapping_df: Optional[DataFrame] = None
        self._tables: list = []  # code tables this rule's own fits persisted
        self._fit_saw_null = True  # unknown unless this rule's fit saw its data
        if mapping is not None:
            from replay_spark.utils.spark_utils import local_df

            spark = SparkSession.getActiveSession()
            # driver-local mapping frame via pandas: O(rows) partitions
            # instead of defaultParallelism Python slices per action
            self._mapping_df = local_df(
                spark,
                [(k, v) for k, v in mapping.items()],
                f"{column} string, {self.encoded_column} long",
            )
        self._is_fitted = mapping is not None

    @staticmethod
    def _validate_default(value) -> None:
        """Reference semantics (label_encoder.py:86-120): an int code,
        None (unknowns stay null), or the sentinel "last" (= mapping
        size, the next unassigned code)."""
        if value is not None and not isinstance(value, int) and value != "last":
            raise ValueError(
                f'default_value must be int, None or "last", got {value!r}'
            )

    def _default_code(self) -> Optional[int]:
        """Resolve default_value to a concrete code (None = keep null)."""
        if self.default_value is None:
            return None
        if self.default_value == "last":
            return self._mapping_df.count()
        return int(self.default_value)

    @property
    def encoded_column(self) -> str:
        return f"{self.column}_encoded"

    @property
    def mapping_df(self) -> Optional[DataFrame]:
        return self._mapping_df

    def get_mapping(self) -> dict:
        """Pull the mapping to the driver (small-cardinality use only)."""
        return {
            row[self.column]: row[self.encoded_column]
            for row in self._mapping_df.collect()
        }

    def _fit_values(self, df: DataFrame) -> DataFrame:
        """The values this rule numbers, as one column ``_v``."""
        return df.select(F.col(self.column).alias("_v"))

    def _unknown_values(self, df: DataFrame) -> DataFrame:
        """Rows of ``df`` whose value has no code (nulls included)."""
        return self._fit_values(df).join(
            self._mapping_df.select(F.col(self.column).alias("_v")),
            on="_v",
            how="left_anti",
        )

    def _set_fit(self, mapping: DataFrame, saw_null: bool) -> None:
        self._mapping_df = mapping.select(
            F.col("_v").alias(self.column),
            F.col("_code").alias(self.encoded_column),
        )
        self._fit_saw_null = saw_null
        self._is_fitted = True

    def fit(self, df: DataFrame) -> "LabelEncodingRule":
        _release(self._tables)
        self._tables = _fit_rules([(self, df)])
        return self

    def partial_fit(self, df: DataFrame) -> "LabelEncodingRule":
        if not self._is_fitted:
            return self.fit(df)
        old, old_saw_null = self._mapping_df, self._fit_saw_null
        max_code = old.agg(F.max(self.encoded_column)).first()[0]
        new_values = self._fit_values(df).join(
            old.select(F.col(self.column).alias("_v")), on="_v", how="left_anti"
        )
        # older tables stay persisted: the merged mapping still reads them
        table, [(mapping, saw_null)] = _number_columns(
            [new_values], [0 if max_code is None else max_code + 1]
        )
        self._tables.append(table)
        self._set_fit(mapping, old_saw_null or saw_null)
        self._mapping_df = old.unionByName(self._mapping_df)
        return self

    def _probes(self, df: DataFrame, fitted_on_df: bool = False) -> list:
        """The unknown-value probe ``transform(df)`` must run: none
        unless ``handle_unknown='error'``, and none when ``df`` is the
        table this rule was just fitted on and the fit saw no null,
        where unknowns are impossible by construction."""
        if self.handle_unknown != "error" or (
            fitted_on_df and not self._fit_saw_null
        ):
            return []
        return [(self.column, self._unknown_values(df))]

    def _check_fitted(self) -> None:
        if not self._is_fitted:
            raise RuntimeError(f"{type(self).__name__} is not fitted")

    def transform(self, df: DataFrame) -> DataFrame:
        return self._transform(df)

    def _transform(self, df: DataFrame, fitted_on_df: bool = False) -> DataFrame:
        self._check_fitted()
        _raise_on_unknown(self._probes(df, fitted_on_df))
        return self._encode(df)

    def _encode(self, df: DataFrame) -> DataFrame:
        """Lazy encode; unknowns are handled per policy but under
        ``'error'`` pass through as null (checked by the caller)."""
        joined = df.join(self._mapping_df, on=self.column, how="left")
        if self.handle_unknown == "drop":
            joined = joined.filter(F.col(self.encoded_column).isNotNull())
        elif self.handle_unknown == "use_default_value":
            default = self._default_code()
            if default is not None:
                joined = joined.fillna({self.encoded_column: default})
            # default None: unknowns stay null (reference parity)
        return joined.drop(self.column).withColumnRenamed(
            self.encoded_column, self.column
        )

    def inverse_transform(self, df: DataFrame) -> DataFrame:
        self._check_fitted()
        mapping = self._mapping_df.withColumnRenamed(self.column, "_decoded")
        return (
            df.withColumnRenamed(self.column, self.encoded_column)
            .join(mapping, on=self.encoded_column, how="left")
            .drop(self.encoded_column)
            .withColumnRenamed("_decoded", self.column)
        )

    def set_handle_unknown(self, strategy: str) -> None:
        if strategy not in _HANDLE_UNKNOWN:
            raise ValueError(f"handle_unknown must be one of {_HANDLE_UNKNOWN}")
        self.handle_unknown = strategy

    def set_default_value(self, value) -> None:
        self._validate_default(value)
        self.default_value = value

    def fit_transform(self, df: DataFrame) -> DataFrame:
        return self.fit(df)._transform(df, fitted_on_df=True)


class SequenceEncodingRule(LabelEncodingRule):
    """Label encoding for array columns: explode → encode → re-collect.

    Single-branch plan: ``posexplode_outer`` keeps empty/null-array
    rows alive (they re-assemble as a typed empty array, matching the
    reference's explicit empty-array preservation), and the other
    columns travel through the explode so the per-row id is evaluated
    exactly once — no self-join that could mis-associate rows of a
    nondeterministic input. Under ``handle_unknown='drop'`` unknown
    ELEMENTS are dropped from the re-collected array; the row itself
    survives (with a shorter, possibly empty, array).
    Parity: reference ``label_encoder.py:568``.
    """

    def _fit_values(self, df: DataFrame) -> DataFrame:
        return df.select(F.explode(self.column).alias("_v"))

    def _encode(self, df: DataFrame) -> DataFrame:
        other_cols = [c for c in df.columns if c != self.column]
        code = self.encoded_column
        exploded = df.withColumn(
            "_row_id", F.monotonically_increasing_id()
        ).select(
            *other_cols,
            "_row_id",
            F.posexplode_outer(self.column).alias("_pos", self.column),
        )
        encoded = exploded.join(self._mapping_df, on=self.column, how="left")
        known = F.col("_pos").isNotNull() & F.col(code).isNotNull()
        unknown = F.col("_pos").isNotNull() & F.col(code).isNull()
        if self.handle_unknown == "drop":
            encoded = encoded.filter(F.col("_pos").isNull() | ~unknown)
        elif self.handle_unknown == "use_default_value":
            default = self._default_code()
            if default is not None:
                encoded = encoded.withColumn(
                    code,
                    F.when(unknown, F.lit(default)).otherwise(F.col(code)),
                )
            # default None leaves unknown elements null in the array
            known = F.col("_pos").isNotNull()
        reassembled = encoded.groupBy("_row_id").agg(
            *[F.first(c).alias(c) for c in other_cols],
            F.array_sort(
                F.collect_list(F.when(known, F.struct("_pos", code)))
            )[code].alias(self.column),
        )
        return reassembled.select(
            *other_cols,
            F.coalesce(
                self.column, F.array().cast("array<long>")
            ).alias(self.column),
        )


class LabelEncoder:
    """Apply several encoding rules; save/load mappings.

    ``fit`` numbers every rule's column in one action and owns the
    shared code table, releasing it on the next ``fit``; ``transform``
    runs one unknown-value check covering every ``'error'`` rule.
    Parity: reference ``label_encoder.py:794``.
    """

    def __init__(self, rules: Sequence[LabelEncodingRule]):
        self.rules = list(rules)
        self._tables: list = []

    def fit(self, df: DataFrame) -> "LabelEncoder":
        _release(self._tables)
        self._tables = _fit_rules([(rule, df) for rule in self.rules])
        return self

    def partial_fit(self, df: DataFrame) -> "LabelEncoder":
        for rule in self.rules:
            rule.partial_fit(df)
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        return self._transform(df)

    def _transform(self, df: DataFrame, fitted_on_df: bool = False) -> DataFrame:
        probes = []
        for rule in self.rules:
            rule._check_fitted()
            probes += rule._probes(df, fitted_on_df)
            df = rule._encode(df)
        _raise_on_unknown(probes)
        return df

    def inverse_transform(self, df: DataFrame) -> DataFrame:
        for rule in self.rules:
            df = rule.inverse_transform(df)
        return df

    def fit_transform(self, df: DataFrame) -> DataFrame:
        return self.fit(df)._transform(df, fitted_on_df=True)

    def _rules_by_column(self) -> dict:
        return {rule.column: rule for rule in self.rules}

    def set_handle_unknowns(self, strategies: dict) -> None:
        """Per-column post-fit strategy switch (reference
        ``label_encoder.py:set_handle_unknowns``)."""
        rules = self._rules_by_column()
        for column, strategy in strategies.items():
            if column not in rules:
                raise ValueError(f"No rule for column {column}")
            rules[column].set_handle_unknown(strategy)

    def set_default_values(self, defaults: dict) -> None:
        """Per-column post-fit default codes: int, None (keep null) or
        "last" (= mapping size)."""
        rules = self._rules_by_column()
        for column, value in defaults.items():
            if column not in rules:
                raise ValueError(f"No rule for column {column}")
            rules[column].set_default_value(value)

    def save(self, path: str) -> None:
        base = Path(path)
        base.mkdir(parents=True, exist_ok=True)
        meta = []
        for i, rule in enumerate(self.rules):
            rule._mapping_df.write.mode("overwrite").parquet(
                str(base / f"mapping_{i}.parquet")
            )
            meta.append(
                {
                    "column": rule.column,
                    "handle_unknown": rule.handle_unknown,
                    "default_value": rule.default_value,
                    "type": type(rule).__name__,
                }
            )
        (base / "rules.json").write_text(json.dumps(meta))

    @classmethod
    def load(cls, path: str, spark: Optional[SparkSession] = None) -> "LabelEncoder":
        spark = spark or SparkSession.getActiveSession()
        base = Path(path)
        meta = json.loads((base / "rules.json").read_text())
        rules = []
        for i, entry in enumerate(meta):
            rule_cls = (
                SequenceEncodingRule
                if entry["type"] == "SequenceEncodingRule"
                else LabelEncodingRule
            )
            rule = rule_cls(
                entry["column"],
                handle_unknown=entry["handle_unknown"],
                default_value=entry["default_value"],
            )
            rule._mapping_df = spark.read.parquet(str(base / f"mapping_{i}.parquet"))
            rule._is_fitted = True
            rules.append(rule)
        return cls(rules)
