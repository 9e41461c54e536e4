"""Item-level bandit models: Wilson, UCB, KL-UCB, Thompson sampling.

All fit as one ``groupBy(item).agg(sum, count)`` over binary ratings
followed by a closed-form (or numeric) per-item score — a monoid
aggregate, which is why ``UCB.refit`` can fold new batches in by
union + re-aggregation (streaming-friendly). The per-item counts also
carry the 0/1 rating check, so it rides the fit's one action.
"""

from __future__ import annotations

import math
from typing import Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from replay_spark.data.dataset import Dataset
from replay_spark.models.base import NonPersonalizedRecommender

__all__ = ["Wilson", "UCB", "KLUCB", "ThompsonSampling"]


def _norm_isf(q: float) -> float:
    """Inverse survival function of the standard normal.

    scipy-free implementation (Acklam rational approximation, public
    domain constants) so the hot path has no scipy dependency.
    """
    p = 1.0 - q
    a = [-3.969683028665376e01, 2.209460984245205e02, -2.759285104469687e02,
         1.383577518672690e02, -3.066479806614716e01, 2.506628277459239e00]
    b = [-5.447609879822406e01, 1.615858368580409e02, -1.556989798598866e02,
         6.680131188771972e01, -1.328068155288572e01]
    c = [-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e00,
         -2.549732539343734e00, 4.374664141464968e00, 2.938163982698783e00]
    d = [7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e00,
         3.754408661907416e00]
    plow = 0.02425
    phigh = 1 - plow
    if p < plow:
        ql = math.sqrt(-2 * math.log(p))
        return (((((c[0] * ql + c[1]) * ql + c[2]) * ql + c[3]) * ql + c[4]) * ql + c[5]) / (
            (((d[0] * ql + d[1]) * ql + d[2]) * ql + d[3]) * ql + 1
        )
    if p <= phigh:
        ql = p - 0.5
        r = ql * ql
        return (((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4]) * r + a[5]) * ql / (
            ((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r + b[4]) * r + 1
        )
    ql = math.sqrt(-2 * math.log(1 - p))
    return -(((((c[0] * ql + c[1]) * ql + c[2]) * ql + c[3]) * ql + c[4]) * ql + c[5]) / (
        (((d[0] * ql + d[1]) * ql + d[2]) * ql + d[3]) * ql + 1
    )


def _binary_counts(model: NonPersonalizedRecommender, log: DataFrame) -> DataFrame:
    """Per item: positives, rated rows, all rows, and whether some
    rating is neither 0 nor 1 (``_bad``, the fit's rating check)."""
    r = F.col(model.rating_column)
    return log.groupBy(model.item_column).agg(
        F.sum(r).alias("pos"),
        F.count(r).alias("total"),
        F.count(F.lit(1)).alias("_rows"),
        F.max((r != 1) & (r != 0)).alias("_bad"),
    )


class Wilson(NonPersonalizedRecommender):
    """Wilson score lower bound on binary ratings.

    Parity: reference ``models/wilson.py:12-120``.
    """

    def __init__(
        self,
        alpha: float = 0.05,
        add_cold_items: bool = True,
        cold_weight: float = 0.5,
        sample: bool = False,
        seed: Optional[int] = None,
    ):
        self.alpha = alpha
        self.sample = sample
        self.seed = seed
        super().__init__(add_cold_items=add_cold_items, cold_weight=cold_weight)

    def _fit(self, dataset: Dataset) -> None:
        crit = _norm_isf(self.alpha / 2.0)
        score = (F.col("pos") + F.lit(0.5 * crit**2)) / (
            F.col("total") + F.lit(crit**2)
        ) - F.lit(crit) / (F.col("total") + F.lit(crit**2)) * F.sqrt(
            (F.col("total") - F.col("pos")) * F.col("pos") / F.col("total")
            + crit**2 / 4
        )
        row = self._cache_popularity(
            _binary_counts(self, dataset.interactions), _min=F.min(score)
        )
        self.item_popularity = self._popularity.select(
            self.item_column, score.alias(self.rating_column)
        )
        self.fill = row["_min"] * self.cold_weight


class UCB(NonPersonalizedRecommender):
    """UCB1: mean + sqrt(coef * ln(N) / n_i); supports incremental refit.

    Parity: reference ``models/ucb.py:14-190``. ``refit`` unions the
    stored (pos, total) aggregate with the new batch's — the model
    state is a commutative monoid, so this is exactly a streaming
    update.
    """

    def __init__(
        self,
        coef: float = 2.0,
        add_cold_items: bool = True,
        cold_weight: float = 0.5,
        sample: bool = False,
        seed: Optional[int] = None,
    ):
        self.coef = coef
        self.sample = sample
        self.seed = seed
        super().__init__(add_cold_items=add_cold_items, cold_weight=cold_weight)

    def _fit(self, dataset: Dataset) -> None:
        self._fit_counts(_binary_counts(self, dataset.interactions))

    def refit(self, dataset: Dataset) -> None:
        previous = self._popularity
        counts = (
            previous.unionByName(_binary_counts(self, dataset.interactions))
            .groupBy(self.item_column)
            .agg(
                *(F.sum(c).alias(c) for c in ("pos", "total", "_rows")),
                F.max("_bad").alias("_bad"),
            )
        )
        self._fit_counts(counts)
        # new items are scored, but predict keeps the fit universe
        self._popularity_items = None
        previous.unpersist()  # only now: the new table keeps its cache

    def _fit_counts(self, counts: DataFrame) -> None:
        row = self._cache_popularity(counts, _rows=F.sum("_rows"))
        self.full_count = row["_rows"]
        self.item_popularity = self._popularity.select(
            self.item_column,
            (
                F.col("pos") / F.col("total")
                + F.sqrt(
                    F.lit(self.coef) * F.log(F.lit(self.full_count)) / F.col("total")
                )
            ).alias(self.rating_column),
        )
        self.fill = 1 + math.sqrt(self.coef * math.log(self.full_count))


class KLUCB(NonPersonalizedRecommender):
    """KL-UCB: per-item upper confidence bound from the Bernoulli KL
    divergence, solved by bisection.

    The root-finder runs in an Arrow-batched pandas UDF (one numeric
    solve per distinct item — tiny), replacing the reference's
    row-at-a-time scipy UDF (``models/kl_ucb.py:14-110``).
    """

    def __init__(
        self,
        exploration_coef: float = 0.0,
        add_cold_items: bool = True,
        cold_weight: float = 0.5,
        sample: bool = False,
        seed: Optional[int] = None,
    ):
        self.coef = exploration_coef
        self.sample = sample
        self.seed = seed
        super().__init__(add_cold_items=add_cold_items, cold_weight=cold_weight)

    @property
    def _init_args(self):
        return {
            "exploration_coef": self.coef,
            "add_cold_items": self.add_cold_items,
            "cold_weight": self.cold_weight,
            "sample": self.sample,
            "seed": self.seed,
        }

    def _fit(self, dataset: Dataset) -> None:
        row = self._cache_popularity(
            _binary_counts(self, dataset.interactions), _rows=F.sum("_rows")
        )
        full_count = row["_rows"]
        coef = self.coef

        rhs_const = math.log(full_count) + coef * math.log(math.log(max(full_count, 2)))

        @pandas_udf(DoubleType())
        def kl_ucb_bound(pos: pd.Series, total: pd.Series) -> pd.Series:
            def solve(p_hat, n):
                if n <= 0:
                    return 1.0
                # reference kl_ucb.py:151-161 — the degenerate arms
                # solve the UNSCALED equations (no ×total), with
                # closed forms: ln(1/(1-q)) = rhs → q = 1 - e^-rhs,
                # ln(1/q) = rhs → q = e^-rhs
                if p_hat <= 0.0:
                    return 1.0 - math.exp(-rhs_const)
                if p_hat >= 1.0:
                    return math.exp(-rhs_const)
                rhs = rhs_const / n

                def kl(q):
                    eps = 1e-12
                    p = min(max(p_hat, eps), 1 - eps)
                    qq = min(max(q, eps), 1 - eps)
                    return p * math.log(p / qq) + (1 - p) * math.log((1 - p) / (1 - qq))

                lo, hi = p_hat, 1.0
                for _ in range(50):
                    mid = (lo + hi) / 2
                    if kl(mid) > rhs:
                        hi = mid
                    else:
                        lo = mid
                return (lo + hi) / 2

            p_hat = (pos / total).to_numpy()
            n = total.to_numpy()
            return pd.Series(
                np.array([solve(p, int(t)) for p, t in zip(p_hat, n)])
            )

        # it needs the row count the action read: solved on each read
        self.item_popularity = self._popularity.select(
            self.item_column,
            kl_ucb_bound(F.col("pos").cast("double"), F.col("total").cast("double")).alias(
                self.rating_column
            ),
        )
        # reference kl_ucb.py:173 — optimistic cold-item fill
        self.fill = 1.0 + math.sqrt(self.coef * math.log(full_count))


class ThompsonSampling(NonPersonalizedRecommender):
    """Per-item Beta(pos+1, neg+1) sample as the score.

    Parity: reference ``models/thompson_sampling.py:12-90``; the
    Beta draw happens in a pandas UDF, each item's from a generator
    seeded by ``(seed, item_id)``, so the scores do not depend on
    partitioning or Arrow batching.
    """

    def __init__(
        self,
        seed: Optional[int] = None,
        add_cold_items: bool = True,
        cold_weight: float = 0.5,
        sample: bool = False,
    ):
        self.seed = seed
        self.sample = sample
        super().__init__(add_cold_items=add_cold_items, cold_weight=cold_weight)

    def _fit(self, dataset: Dataset) -> None:
        seed = self.seed

        @pandas_udf(DoubleType())
        def beta_sample(
            item: pd.Series, pos: pd.Series, neg: pd.Series
        ) -> pd.Series:
            # one generator per (seed, item): an item's draw does not
            # depend on which Arrow batch it lands in, or where. A
            # rating outside 0/1 fails the fit after the draws, so a
            # negative count draws nothing rather than raising here
            return pd.Series(
                [
                    np.random.default_rng(
                        None if seed is None else [seed, int(i) & (2**64 - 1)]
                    ).beta(a + 1.0, b + 1.0)
                    if min(a, b) >= 0
                    else np.nan
                    for i, a, b in zip(item, pos, neg)
                ],
                dtype="float64",
            )

        neg = F.col("total") - F.col("pos")
        per_item = _binary_counts(self, dataset.interactions).withColumn(
            self.rating_column,
            beta_sample(
                F.col(self.item_column),
                F.col("pos").cast("double"),
                neg.cast("double"),
            ),
        )
        row = self._cache_popularity(per_item, _min=F.min(self.rating_column))
        # deterministic posterior state (the Beta draw is seeded);
        # exposed so the aggregates are oracle-checkable independently
        self.posterior_params = self._popularity.select(
            self.item_column, "pos", neg.alias("neg")
        )
        self.item_popularity = self._popularity.select(
            self.item_column, self.rating_column
        )
        self.fill = row["_min"] * self.cold_weight
