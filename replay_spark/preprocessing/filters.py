"""Interaction-log filters.

Spark-only rebuild of the reference filter suite
(``replay/preprocessing/filters.py``). Every filter is a lazy
DataFrame transformation built from window functions, groupBy
aggregates, and semi joins — Catalyst handles pushdown and pruning.

Scale notes (100 TB design):

* per-entity counts use window aggregates over a single shuffle on
  the entity key; AQE handles skewed entities;
* ``QuantileItemsFilter`` computes its count-distribution quantile
  distributedly (``percentile``) instead of the reference's
  ``toPandas()`` pull (``filters.py:972``);
* the fixpoint loop in ``InteractionEntriesFilter`` stores each
  round with ``spark_utils.fixpoint``, which releases the round
  before it, so lineage doesn't grow unboundedly.
"""

from __future__ import annotations

import sys
from datetime import datetime, timedelta
from typing import Literal, Optional, Union

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from replay_spark.utils.spark_utils import fixpoint, observed_rows

__all__ = [
    "InteractionEntriesFilter",
    "MinCountFilter",
    "LowRatingFilter",
    "NumInteractionsFilter",
    "EntityDaysFilter",
    "GlobalDaysFilter",
    "TimePeriodFilter",
    "QuantileItemsFilter",
    "ConsecutiveDuplicatesFilter",
    "filter_cold",
]


class _BaseFilter:
    """Common ``transform`` entry point (reference ``filters.py:26-54``)."""

    def transform(self, interactions: DataFrame) -> DataFrame:
        return self._filter(interactions)

    def _filter(self, interactions: DataFrame) -> DataFrame:  # pragma: no cover
        raise NotImplementedError


class InteractionEntriesFilter(_BaseFilter):
    """Iterated min/max interactions per user AND per item until fixpoint.

    A round is a user pass and then an item pass (each pass can
    re-violate the other's constraint), stored by one observed
    ``spark_utils.fixpoint`` checkpoint; the first round that drops
    no row is the fixpoint. Parity: reference
    ``filters.py:57-227``.
    """

    def __init__(
        self,
        query_column: str = "user_id",
        item_column: str = "item_id",
        min_inter_per_user: Optional[int] = None,
        max_inter_per_user: Optional[int] = None,
        min_inter_per_item: Optional[int] = None,
        max_inter_per_item: Optional[int] = None,
    ):
        self.query_column = query_column
        self.item_column = item_column
        self.min_inter_per_user = min_inter_per_user
        self.max_inter_per_user = max_inter_per_user
        self.min_inter_per_item = min_inter_per_item
        self.max_inter_per_item = max_inter_per_item
        if min_inter_per_user is not None and max_inter_per_user is not None:
            assert min_inter_per_user < max_inter_per_user
        if min_inter_per_item is not None and max_inter_per_item is not None:
            assert min_inter_per_item < max_inter_per_item

    def _filter(self, interactions: DataFrame) -> DataFrame:
        # a pass with neither bound filters nothing, and its window
        # is pruned with the column it would add
        passes = (
            (self.query_column, self.item_column,
             self.min_inter_per_user, self.max_inter_per_user),
            (self.item_column, self.query_column,
             self.min_inter_per_item, self.max_inter_per_item),
        )

        def step(log: DataFrame, seen: dict) -> DataFrame:
            log = log.observe("filter_in", F.count(F.lit(1)).alias("rows"))
            for agg_col, other_col, min_i, max_i in passes:
                log = log.withColumn(
                    "_cnt", F.count(other_col).over(Window.partitionBy(agg_col))
                )
                if min_i:
                    log = log.filter(F.col("_cnt") >= min_i)
                if max_i:
                    log = log.filter(F.col("_cnt") <= max_i)
                log = log.drop("_cnt")
            return log.observe("filter_out", F.count(F.lit(1)).alias("rows"))

        # every round but the last drops a row, so the log's size
        # bounds the rounds
        filtered, _, _ = fixpoint(
            interactions,
            step,
            sys.maxsize,
            "InteractionEntriesFilter",
            done=lambda seen: observed_rows(seen, "filter_out")
            == observed_rows(seen, "filter_in"),
        )
        return filtered


class MinCountFilter(_BaseFilter):
    """Keep entities appearing at least ``num_entries`` times.

    Parity: reference ``filters.py:253-294``. Implemented as a window
    count (one shuffle on the entity key, no join).
    """

    def __init__(self, num_entries: int, groupby_column: str = "user_id"):
        assert num_entries > 0
        self.num_entries = num_entries
        self.groupby_column = groupby_column

    def _filter(self, interactions: DataFrame) -> DataFrame:
        return (
            interactions.withColumn(
                "_cnt", F.count(F.lit(1)).over(Window.partitionBy(self.groupby_column))
            )
            .filter(F.col("_cnt") >= self.num_entries)
            .drop("_cnt")
        )


class LowRatingFilter(_BaseFilter):
    """``rating >= value`` (reference ``filters.py:315-343``)."""

    def __init__(self, value: float, rating_column: str = "rating"):
        self.value = value
        self.rating_column = rating_column

    def _filter(self, interactions: DataFrame) -> DataFrame:
        return interactions.filter(F.col(self.rating_column) >= self.value)


class NumInteractionsFilter(_BaseFilter):
    """First/last ``num_interactions`` interactions per query.

    Ordered by timestamp with optional item-id tiebreak. Parity:
    reference ``filters.py:352-460``.
    """

    def __init__(
        self,
        num_interactions: int = 10,
        first: bool = True,
        query_column: str = "user_id",
        timestamp_column: str = "timestamp",
        item_column: Optional[str] = None,
    ):
        assert num_interactions >= 0
        self.num_interactions = num_interactions
        self.first = first
        self.query_column = query_column
        self.timestamp_column = timestamp_column
        self.item_column = item_column

    def _filter(self, interactions: DataFrame) -> DataFrame:
        order = [F.col(self.timestamp_column)]
        if self.item_column is not None:
            order.append(F.col(self.item_column))
        if not self.first:
            order = [c.desc() for c in order]
        window = Window.partitionBy(self.query_column).orderBy(*order)
        return (
            interactions.withColumn("_rank", F.row_number().over(window))
            .filter(F.col("_rank") <= self.num_interactions)
            .drop("_rank")
        )


class EntityDaysFilter(_BaseFilter):
    """First/last ``days`` days of interactions per entity.

    Strict bounds relative to the per-entity min/max timestamp.
    Parity: reference ``filters.py:494-591``.
    """

    def __init__(
        self,
        days: int = 10,
        first: bool = True,
        entity_column: str = "user_id",
        timestamp_column: str = "timestamp",
    ):
        assert days > 0
        self.days = days
        self.first = first
        self.entity_column = entity_column
        self.timestamp_column = timestamp_column

    def _filter(self, interactions: DataFrame) -> DataFrame:
        window = Window.partitionBy(self.entity_column)
        ts = F.col(self.timestamp_column)
        if self.first:
            return (
                interactions.withColumn("_min", F.min(ts).over(window))
                .filter(ts < F.col("_min") + F.expr(f"INTERVAL {self.days} days"))
                .drop("_min")
            )
        return (
            interactions.withColumn("_max", F.max(ts).over(window))
            .filter(ts > F.col("_max") - F.expr(f"INTERVAL {self.days} days"))
            .drop("_max")
        )


class GlobalDaysFilter(_BaseFilter):
    """First/last ``days`` days globally (reference ``filters.py:633-712``).

    Single global min/max scalar (one tiny job), then a pushed-down
    range predicate.
    """

    def __init__(
        self,
        days: int = 10,
        first: bool = True,
        timestamp_column: str = "timestamp",
    ):
        assert days > 0
        self.days = days
        self.first = first
        self.timestamp_column = timestamp_column

    def _filter(self, interactions: DataFrame) -> DataFrame:
        ts = F.col(self.timestamp_column)
        if self.first:
            start = interactions.agg(F.min(ts)).first()[0]
            return interactions.filter(
                ts < F.lit(start).cast("timestamp") + F.expr(f"INTERVAL {self.days} days")
            )
        end = interactions.agg(F.max(ts)).first()[0]
        return interactions.filter(
            ts > F.lit(end).cast("timestamp") - F.expr(f"INTERVAL {self.days} days")
        )


class TimePeriodFilter(_BaseFilter):
    """``[start_date, end_date)`` slice (reference ``filters.py:735-809``)."""

    def __init__(
        self,
        start_date: Union[str, datetime, None] = None,
        end_date: Union[str, datetime, None] = None,
        timestamp_column: str = "timestamp",
        time_column_format: str = "%Y-%m-%d %H:%M:%S",
    ):
        self.start_date = self._parse(start_date, time_column_format)
        self.end_date = self._parse(end_date, time_column_format)
        self.timestamp_column = timestamp_column

    @staticmethod
    def _parse(date, fmt):
        if isinstance(date, str):
            return datetime.strptime(date, fmt)
        return date

    def _filter(self, interactions: DataFrame) -> DataFrame:
        ts = F.col(self.timestamp_column)
        start = self.start_date
        end = self.end_date
        if start is None:
            start = interactions.agg(F.min(ts)).first()[0]
        if end is None:
            end = interactions.agg(F.max(ts)).first()[0] + timedelta(seconds=1)
        return interactions.filter((ts >= F.lit(start)) & (ts < F.lit(end)))


class QuantileItemsFilter(_BaseFilter):
    """Undersample items whose counts exceed the ``alpha_quantile``
    of the item-count distribution.

    For each such item, drop ``items_proportion`` of the excess over
    the largest below-quantile count, removing the rows of the most
    active users first. Parity: reference ``filters.py:833-993``,
    with one scale fix: the reference pulls the whole count
    distribution to the driver (``toPandas`` + pandas
    ``quantile(..., 'midpoint')``, ``filters.py:972``); here the same
    midpoint quantile — the mean of the two order statistics around
    rank (n-1)·alpha — is computed distributedly via exact k-th
    order statistics.
    """

    def __init__(
        self,
        alpha_quantile: float = 0.99,
        items_proportion: float = 0.5,
        query_column: str = "query_id",
        item_column: str = "item_id",
        tiebreak_columns: Optional[list] = None,
    ):
        if not 0 < alpha_quantile < 1:
            raise ValueError("`alpha_quantile` value must be in (0, 1)")
        if not 0 < items_proportion < 1:
            raise ValueError("`items_proportion` value must be in (0, 1)")
        self.alpha_quantile = alpha_quantile
        self.items_proportion = items_proportion
        self.query_column = query_column
        self.item_column = item_column
        # reference orders only by counts_users desc (filters.py:988) —
        # nondeterministic among ties; optional extra sort keys make the
        # drop choice total-ordered (needed for hash-stable results)
        self.tiebreak_columns = tiebreak_columns or []

    def _filter(self, df: DataFrame) -> DataFrame:
        items_distribution = df.groupBy(self.item_column).agg(
            F.count(self.query_column).alias("counts_items")
        )
        users_distribution = df.groupBy(self.query_column).agg(
            F.count(self.item_column).alias("counts_users")
        )
        import math

        from replay_spark.utils.spark_utils import kth_smallest

        items_distribution = items_distribution.cache()
        n_items = items_distribution.count()
        h = (n_items - 1) * self.alpha_quantile
        lo_k, hi_k = int(math.floor(h)) + 1, int(math.ceil(h)) + 1
        lo_val = kth_smallest(
            items_distribution, "counts_items", lo_k, n=n_items
        )
        hi_val = (
            lo_val
            if hi_k == lo_k
            else kth_smallest(
                items_distribution, "counts_items", hi_k, n=n_items
            )
        )
        count_threshold = (lo_val + hi_val) / 2.0
        df_with_counts = df.join(items_distribution, on=self.item_column).join(
            users_distribution, on=self.query_column
        )
        long_tail = df_with_counts.filter(F.col("counts_items") <= count_threshold)
        short_tail = df_with_counts.filter(F.col("counts_items") > count_threshold)
        max_long_tail = long_tail.agg(F.max("counts_items")).first()[0]
        if max_long_tail is None:
            max_long_tail = 0
        short_tail = (
            short_tail.withColumn(
                "_to_delete",
                (
                    F.lit(self.items_proportion)
                    * (F.col("counts_items") - F.lit(max_long_tail))
                ).cast("int"),
            )
            .withColumn(
                "_idx",
                F.row_number().over(
                    Window.partitionBy(self.item_column).orderBy(
                        F.col("counts_users").desc(),
                        *[F.col(c) for c in self.tiebreak_columns],
                    )
                ),
            )
            .filter(F.col("_idx") > F.col("_to_delete"))
        )
        return long_tail.select(df.columns).union(short_tail.select(df.columns))


class ConsecutiveDuplicatesFilter(_BaseFilter):
    """Drop consecutive repeats of the same item per user.

    ``keep='first'`` compares with the previous item (lag), ``'last'``
    with the next (lead). Parity: reference ``filters.py:996-1093``.
    """

    def __init__(
        self,
        keep: Literal["first", "last"] = "first",
        query_column: str = "query_id",
        item_column: str = "item_id",
        timestamp_column: str = "timestamp",
    ):
        if keep not in ("first", "last"):
            raise ValueError("`keep` must be either 'first' or 'last'")
        self.bias = 1 if keep == "first" else -1
        self.query_column = query_column
        self.item_column = item_column
        self.timestamp_column = timestamp_column

    def _filter(self, interactions: DataFrame) -> DataFrame:
        window = Window.partitionBy(self.query_column).orderBy(self.timestamp_column)
        shifted = F.lag(self.item_column, offset=self.bias).over(window)
        return (
            interactions.withColumn("_shifted", shifted)
            .where(
                (F.col(self.item_column) != F.col("_shifted"))
                | F.col("_shifted").isNull()
            )
            .drop("_shifted")
        )


def filter_cold(
    target: DataFrame,
    reference: DataFrame,
    mode: Literal["items", "users", "both"] = "items",
    query_column: str = "query_id",
    item_column: str = "item_id",
) -> DataFrame:
    """Keep only rows whose users/items exist in ``reference``.

    Left-semi join per column. Parity: reference
    ``filters.py:1131-1221``.
    """
    if mode not in {"items", "users", "both"}:
        raise ValueError("mode must be 'items' | 'users' | 'both'")
    columns = {
        "items": [item_column],
        "users": [query_column],
        "both": [query_column, item_column],
    }[mode]
    for column in columns:
        if column not in target.columns or column not in reference.columns:
            raise KeyError(f"Column '{column}' must be in both dataframes")
        allowed = reference.select(column).distinct()
        target = target.join(allowed, on=column, how="left_semi")
    return target
