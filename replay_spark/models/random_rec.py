"""RandomRec — sampling recommender.

Parity: reference ``models/random_rec.py:10-220``. The fitted
``item_popularity`` is a normalized sampling distribution; predict
uses the shared per-query weighted-sampling path
(``NonPersonalizedRecommender._predict_with_sampling``).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import functions as F

from replay_spark.data.dataset import Dataset
from replay_spark.models.base import NonPersonalizedRecommender

__all__ = ["RandomRec"]


class RandomRec(NonPersonalizedRecommender):
    """Recommend random items: uniformly, ∝ (popularity + alpha), or
    ∝ summed relevance."""

    _search_space = {
        "distribution": {
            "type": "categorical",
            "args": ["popular_based", "relevance", "uniform"],
        },
        "alpha": {"type": "uniform", "args": [-0.5, 100]},
    }

    sample = True

    def __init__(
        self,
        distribution: str = "uniform",
        alpha: float = 0.0,
        seed: Optional[int] = None,
        add_cold_items: bool = True,
        cold_weight: float = 0.5,
    ):
        if distribution not in ("popular_based", "relevance", "uniform"):
            raise ValueError(
                "distribution can be one of [popular_based, relevance, uniform]"
            )
        if alpha <= -1.0 and distribution == "popular_based":
            raise ValueError("alpha must be bigger than -1")
        self.distribution = distribution
        self.alpha = alpha
        self.seed = seed
        super().__init__(add_cold_items=add_cold_items, cold_weight=cold_weight)

    def _fit(self, dataset: Dataset) -> None:
        if self.distribution == "popular_based":
            pop = (
                dataset.interactions.groupBy(self.item_column)
                .agg(F.countDistinct(self.query_column).alias("_user_count"))
                .select(
                    self.item_column,
                    (F.col("_user_count").cast("float") + F.lit(self.alpha)).alias(
                        self.rating_column
                    ),
                )
            )
        elif self.distribution == "relevance":
            pop = dataset.interactions.groupBy(self.item_column).agg(
                F.sum(self.rating_column).alias(self.rating_column)
            )
        else:
            pop = (
                dataset.interactions.select(self.item_column)
                .distinct()
                .withColumn(self.rating_column, F.lit(1.0))
            )
        r = self.rating_column
        row = self._cache_popularity(
            pop, _total=F.sum(r), _min=F.min(r), _max=F.max(r)
        )
        total = row["_total"]
        self.item_popularity = self._popularity.select(
            self.item_column, (F.col(r) / F.lit(total)).alias(r)
        )
        # dividing by the total keeps the weights' order when it is
        # positive and reverses it when negative
        lowest = row["_min"] if total > 0 else row["_max"]
        self.fill = lowest / total * self.cold_weight
