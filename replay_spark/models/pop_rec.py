"""Popularity-based recommenders."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from replay_spark.data.dataset import Dataset
from replay_spark.models.base import BaseRecommender, NonPersonalizedRecommender

__all__ = ["PopRec", "QueryPopRec"]


class PopRec(NonPersonalizedRecommender):
    """Recommend globally popular items.

    popularity(i) = countDistinct(users who interacted with i) / n_users,
    or sum(rating)/n_users when ``use_rating``. Parity: reference
    ``models/pop_rec.py:10-140``.
    """

    def __init__(
        self,
        use_rating: bool = False,
        add_cold_items: bool = True,
        cold_weight: float = 0.5,
    ):
        self.use_rating = use_rating
        super().__init__(add_cold_items=add_cold_items, cold_weight=cold_weight)

    @property
    def _init_args(self):
        return {
            "use_rating": self.use_rating,
            "add_cold_items": self.add_cold_items,
            "cold_weight": self.cold_weight,
        }

    def _fit(self, dataset: Dataset) -> None:
        if self.use_rating:
            agg = F.sum(self.rating_column).alias(self.rating_column)
        else:
            agg = F.countDistinct(self.query_column).alias(self.rating_column)
        # the popularity divisor (universe query count) rides the plan
        # as a broadcast 1-row aggregate instead of a driver-pulled
        # literal: the count of the cached fit-time query universe is
        # the same value queries_count computes (interactions plus the
        # optional feature union, distinct), but reading it eagerly
        # cost a whole extra action chain per fit — a full
        # distinct-shuffle of the log at scale
        n_q = F.broadcast(
            self._fit_queries_base.agg(F.count(F.lit(1)).alias("_nq"))
        )
        # the cached frame keeps `_nq`, so the one action below reads
        # it back instead of broadcasting the count a second time
        self._popularity = (
            dataset.interactions.groupBy(self.item_column)
            .agg(agg)
            .crossJoin(n_q)
            .withColumn(
                self.rating_column, F.col(self.rating_column) / F.col("_nq")
            )
            .cache()
        )
        self.item_popularity = self._popularity.drop("_nq")
        # ONE action materializes the popularity cache and pulls every
        # scalar the lifecycle needs: the fill value, the exact item
        # universe size (the per-item grouping already IS the distinct
        # item set of the log) and the query universe size
        row = self._popularity.agg(
            F.min(self.rating_column).alias("_fill"),
            F.count(F.lit(1)).alias("_ni"),
            F.max("_nq").alias("_nq"),
        ).first()
        self.fill = row["_fill"] * self.cold_weight
        if row["_nq"] is not None:
            self._num_queries = row["_nq"]
        if dataset.item_features is None:
            self._num_items = row["_ni"]

    def _clear_cache(self) -> None:
        # `item_popularity` is a projection of the cached frame, and
        # unpersisting a projection does not release the cache
        super()._clear_cache()
        cached = getattr(self, "_popularity", None)
        if cached is not None:
            cached.unpersist()


class QueryPopRec(BaseRecommender):
    """Per-query popularity: item share of the query's rating mass.

    Parity: reference ``models/query_pop_rec.py:10-130``. Useful for
    repeated-consumption settings; predicts only for known queries.
    """

    @property
    def _dataframes(self):
        return {"query_item_popularity": self.query_item_popularity}

    def _fit(self, dataset: Dataset) -> None:
        query_rating_sum = dataset.interactions.groupBy(self.query_column).agg(
            F.sum(self.rating_column).alias("_query_rel_sum")
        )
        self.query_item_popularity = (
            dataset.interactions.groupBy(self.query_column, self.item_column)
            .agg(F.sum(self.rating_column).alias("_query_item_rel_sum"))
            .join(query_rating_sum, on=self.query_column, how="inner")
            .select(
                self.query_column,
                self.item_column,
                (F.col("_query_item_rel_sum") / F.col("_query_rel_sum")).alias(
                    self.rating_column
                ),
            )
        )
        self.query_item_popularity.cache().count()

    def _predict(
        self,
        dataset,
        k: int,
        queries: DataFrame,
        items: DataFrame,
        filter_seen_items: bool = True,
    ) -> DataFrame:
        return self.query_item_popularity.join(
            queries, on=self.query_column, how="inner"
        ).join(items, on=self.item_column, how="inner")

    def _predict_pairs(self, pairs: DataFrame, dataset=None) -> DataFrame:
        return pairs.join(
            self.query_item_popularity,
            on=[self.query_column, self.item_column],
            how="inner",
        )
