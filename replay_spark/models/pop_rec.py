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

    Fit is one ``rollup(item)`` over the log: the per-item rows carry
    the score's numerator, and the grand-total row the query universe
    size ``n_users`` (queries in ``query_features`` and a null query
    id count, as in ``queries_count``). One ``first()`` over that
    cached table reads the divisor, the fill and the item count;
    ``item_popularity`` is its item rows divided by the divisor.
    """

    def __init__(
        self,
        use_rating: bool = False,
        add_cold_items: bool = True,
        cold_weight: float = 0.5,
    ):
        self.use_rating = use_rating
        super().__init__(add_cold_items=add_cold_items, cold_weight=cold_weight)

    def _fit(self, dataset: Dataset) -> None:
        q, i, r = self.query_column, self.item_column, self.rating_column
        log, in_log = dataset.interactions, F.lit(True)
        if dataset.query_features is not None:
            # feature-only queries count in the divisor, in no item
            log = log.withColumn("_in_log", in_log).unionByName(
                dataset.query_features.select(q, F.lit(False).alias("_in_log")),
                allowMissingColumns=True,
            )
            in_log = F.col("_in_log")
        if self.use_rating:
            score = F.sum(F.when(in_log, F.col(r)))
        else:
            score = F.countDistinct(F.when(in_log, F.col(q)))
        per_item = log.rollup(i).agg(
            score.alias(r),
            ((F.grouping(i) == 0) & F.max(in_log)).alias("_item"),
            # countDistinct skips the null id that queries_count counts;
            # the grand total covers every group, so it is the max
            (F.countDistinct(q) + F.max(F.col(q).isNull()).cast("long")).alias("_nq"),
        )
        row = self._cache_popularity(
            per_item,
            _min=F.min(F.when(F.col("_item"), F.col(r))),
            _ni=F.count(F.when(F.col("_item"), F.lit(1))),
            _nq=F.max("_nq"),
        )
        n_q = row["_nq"]
        self.item_popularity = self._popularity.where("_item").select(
            i, (F.col(r) / F.lit(n_q)).alias(r)
        )
        # a positive divisor keeps the order: min(x) / n = min(x / n)
        self.fill = row["_min"] / n_q * self.cold_weight
        self._num_queries = n_q


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
