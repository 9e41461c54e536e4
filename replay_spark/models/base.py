"""Base recommender machinery.

Fresh implementation of the reference's base classes
(``replay/models/base_rec.py``): fit/predict wrappers, cold-entity
filtering, seen-item removal, deterministic top-k truncation, and
the popularity-based (non-personalized) base with optional
per-query weighted sampling.

Scale design: the fit_queries/fit_items universes are broadcast
(they are distinct-id tables, small relative to interactions);
seen-filtering is an anti join on (query, item); all ranking is a
single window per query partition. No driver-side data paths except
tiny scalar pulls (max_seen, fill value).
"""

from __future__ import annotations

import json
from abc import ABC, abstractmethod
from pathlib import Path
from typing import Iterable, Optional, Union

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from replay_spark.data.dataset import Dataset
from replay_spark.utils.spark_utils import (
    bucketed_apply_in_pandas,
    filter_cold,
    get_top_k_recs,
    get_unique_entities,
)

__all__ = ["BaseRecommender", "NonPersonalizedRecommender"]


class BaseRecommender(ABC):
    """Abstract fit/predict recommender (reference ``base_rec.py:99-700``)."""

    can_predict_cold_queries: bool = False
    can_predict_cold_items: bool = False
    # reference OptunaMixin search space ({param: {"type", "args"}});
    # None = model has no tunable space
    _search_space: Optional[dict] = None

    query_column: str = "query_id"
    item_column: str = "item_id"
    rating_column: str = "rating"
    timestamp_column: str = "timestamp"

    def set_params(self, **params) -> None:
        """Set model hyperparameters and drop fitted state (reference
        ``models/common.py:20-28``); used by the optimization loop."""
        for param, value in params.items():
            setattr(self, param, value)
        self._clear_cache()

    def _clear_cache(self) -> None:
        """Unpersist cached fit artifacts; overridden where models
        cache DataFrames."""
        try:
            dataframes = self._dataframes
        except AttributeError:  # not fitted yet
            return
        for df in dataframes.values():
            if df is not None:
                try:
                    df.unpersist()
                except Exception:
                    pass

    def __str__(self) -> str:
        return type(self).__name__

    # -- fit ---------------------------------------------------------------
    def fit(self, dataset: Dataset) -> "BaseRecommender":
        """Bind schema columns, materialize id universes, delegate to _fit."""
        self.query_column = dataset.feature_schema.query_id_column
        self.item_column = dataset.feature_schema.item_id_column
        self.rating_column = (
            dataset.feature_schema.interactions_rating_column or "rating"
        )
        self.timestamp_column = (
            dataset.feature_schema.interactions_timestamp_column or "timestamp"
        )
        queries = dataset.interactions.select(self.query_column)
        if dataset.query_features is not None:
            queries = queries.union(dataset.query_features.select(self.query_column))
        items = dataset.interactions.select(self.item_column)
        if dataset.item_features is not None:
            items = items.union(dataset.item_features.select(self.item_column))
        # the id universes are derived by a DISTINCT over the full log
        # (a complete shuffle of the fact table at scale) and consumed
        # by every predict / filter_cold / predict_pairs — cache them
        # lazily so the shuffle runs once, not once per consumer
        old_q = getattr(self, "_fit_queries_base", None)
        old_i = getattr(self, "_fit_items_base", None)
        for old in (old_q, old_i):
            if old is not None:
                try:
                    old.unpersist()
                except Exception:
                    pass
        self._fit_queries_base = queries.distinct().cache()
        self._fit_items_base = items.distinct().cache()
        self.fit_queries = F.broadcast(self._fit_queries_base)
        self.fit_items = F.broadcast(self._fit_items_base)
        # universe sizes are LAZY: most models never read them on the
        # fit/predict path, and an unread count is a whole skipped
        # action chain (the agg is a full distinct-shuffle of the log
        # at scale). First property access runs the same combined agg
        # the eager path ran — identical values, just on demand.
        for stale in ("_num_queries", "_num_items"):
            if hasattr(self, stale):
                delattr(self, stale)
        self._fit(dataset)
        return self

    def _compute_universe_counts(self) -> None:
        # count the CACHED fit-time universes (identical values to a
        # countDistinct over the log: the bases ARE the distinct id
        # sets, features union included). Pinned to fit-time state —
        # no live reference to the interactions frame survives fit —
        # and when another consumer already materialized the caches
        # these are cache-scan cheap, never a log re-aggregation.
        self._num_queries = self._fit_queries_base.count()
        self._num_items = self._fit_items_base.count()

    @property
    def queries_count(self) -> int:
        if not hasattr(self, "_num_queries"):
            self._compute_universe_counts()
        return self._num_queries

    @property
    def items_count(self) -> int:
        if not hasattr(self, "_num_items"):
            self._compute_universe_counts()
        return self._num_items

    @abstractmethod
    def _fit(self, dataset: Dataset) -> None:
        ...

    # -- predict -----------------------------------------------------------
    def predict(
        self,
        dataset: Optional[Dataset],
        k: int,
        queries: Union[DataFrame, Iterable, None] = None,
        items: Union[DataFrame, Iterable, None] = None,
        filter_seen_items: bool = True,
        recs_file_path: Optional[str] = None,
    ) -> Optional[DataFrame]:
        """Top-k recommendations per query: ``[query_id, item_id, rating]``."""
        # default predict (queries=None, dataset given): queries IS the
        # distinct user set of the (identically cold-filtered)
        # interactions, so restricting interactions to `queries` in the
        # seen-stats scan is a provable no-op — skip that join (at
        # scale it's a full extra pass over the fact table)
        queries_cover_log = queries is None and dataset is not None
        dataset, queries, items = self._prepare_predict_inputs(dataset, queries, items)
        # `queries` is usually a DISTINCT over the interaction log and
        # is consumed by seen-stats, the prediction join AND the final
        # rank — cache the (small) id frame so the log-wide distinct
        # shuffle runs once per predict, not once per consumer. Skip
        # when it's the fit-level universe (already cached in fit).
        own_queries_cache = queries is not self.fit_queries
        if own_queries_cache:
            queries = queries.cache()
        seen_stats = None
        if filter_seen_items and dataset is not None:
            seen_stats = self._compute_seen_stats(
                dataset.interactions, queries, join_queries=not queries_cover_log
            )
        self._shared_seen_stats = seen_stats
        try:
            recs = self._predict(dataset, k, queries, items, filter_seen_items)
            if filter_seen_items and dataset is not None:
                recs = self._filter_seen(
                    recs,
                    dataset.interactions,
                    k,
                    queries,
                    seen_stats,
                    join_queries=not queries_cover_log,
                )
            recs = get_top_k_recs(
                recs, k, self.query_column, self.item_column, self.rating_column
            ).select(self.query_column, self.item_column, self.rating_column)
            if recs_file_path is not None:
                recs.write.mode("overwrite").parquet(recs_file_path)
                return None
            recs = recs.cache()
            recs.count()
            return recs
        finally:
            self._shared_seen_stats = None
            if seen_stats is not None:
                seen_stats[0].unpersist()
            if own_queries_cache:
                queries.unpersist()

    def fit_predict(
        self,
        dataset: Dataset,
        k: int,
        queries: Union[DataFrame, Iterable, None] = None,
        items: Union[DataFrame, Iterable, None] = None,
        filter_seen_items: bool = True,
        recs_file_path: Optional[str] = None,
    ) -> Optional[DataFrame]:
        self.fit(dataset)
        return self.predict(
            dataset, k, queries, items, filter_seen_items, recs_file_path
        )

    def predict_pairs(
        self,
        pairs: DataFrame,
        dataset: Optional[Dataset] = None,
        recs_file_path: Optional[str] = None,
        k: Optional[int] = None,
    ) -> Optional[DataFrame]:
        """Score provided (query, item) pairs."""
        if sorted(pairs.columns) != sorted([self.query_column, self.item_column]):
            raise ValueError(
                "pairs must contain exactly the query and item id columns"
            )
        pred = self._predict_pairs(pairs, dataset)
        if k is not None:
            pred = get_top_k_recs(
                pred, k, self.query_column, self.item_column, self.rating_column
            )
        if recs_file_path is not None:
            pred.write.mode("overwrite").parquet(recs_file_path)
            return None
        return pred

    @abstractmethod
    def _predict(
        self,
        dataset: Optional[Dataset],
        k: int,
        queries: DataFrame,
        items: DataFrame,
        filter_seen_items: bool = True,
    ) -> DataFrame:
        ...

    def _predict_pairs(
        self, pairs: DataFrame, dataset: Optional[Dataset] = None
    ) -> DataFrame:
        """Default: full predict joined back onto the pairs."""
        queries = pairs.select(self.query_column).distinct()
        items = pairs.select(self.item_column).distinct()
        full = self._predict(dataset, self.items_count, queries, items, False)
        return full.join(pairs, on=[self.query_column, self.item_column], how="inner")

    # -- shared helpers ----------------------------------------------------
    def _prepare_predict_inputs(self, dataset, queries, items):
        spark = SparkSession.getActiveSession()
        if queries is None:
            if dataset is not None:
                queries = dataset.interactions.select(self.query_column).distinct()
            else:
                queries = self.fit_queries
        elif not isinstance(queries, DataFrame):
            queries = get_unique_entities(queries, self.query_column, spark)
        else:
            queries = queries.select(self.query_column).distinct()
        if items is None:
            items = self.fit_items
        elif not isinstance(items, DataFrame):
            items = get_unique_entities(items, self.item_column, spark)
        else:
            items = items.select(self.item_column).distinct()
        interactions = dataset.interactions if dataset is not None else None
        if not self.can_predict_cold_queries:
            _, queries = filter_cold(queries, self.fit_queries, self.query_column)
            if interactions is not None:
                _, interactions = filter_cold(
                    interactions, self.fit_queries, self.query_column
                )
        if not self.can_predict_cold_items:
            _, items = filter_cold(items, self.fit_items, self.item_column)
            if interactions is not None:
                _, interactions = filter_cold(
                    interactions, self.fit_items, self.item_column
                )
        if dataset is not None and interactions is not None:
            dataset = Dataset(
                feature_schema=dataset.feature_schema,
                interactions=interactions,
                query_features=dataset.query_features,
                item_features=dataset.item_features,
                check_consistency=False,
            )
        return dataset, queries, items

    def _compute_seen_stats(
        self, interactions: DataFrame, queries: DataFrame, join_queries: bool = True
    ):
        """Per-query seen-interaction stats shared across one predict
        call: (cached stats frame [query, seen_count, num_items],
        broadcast 1-row frame [_max_seen, _max_items]).

        The max scalars ride the plan as a broadcast 1-row aggregate
        instead of a driver ``first()``: the rank-cap filters consume
        them as columns, so the whole predict needs no extra action —
        previously every predict paid a scalar-pull job chain (and at
        scale that job is a full scan of the per-query stats) before
        any recommendation work could even be planned.
        """
        scoped = (
            interactions.join(queries, on=self.query_column)
            if join_queries
            else interactions
        )
        stats = (
            scoped.groupBy(self.query_column)
            .agg(
                F.count(self.item_column).alias("seen_count"),
                F.countDistinct(self.item_column).alias("num_items"),
            )
            .cache()
        )
        maxes = F.broadcast(
            stats.agg(
                F.coalesce(F.max("seen_count"), F.lit(0)).alias("_max_seen"),
                F.coalesce(F.max("num_items"), F.lit(0)).alias("_max_items"),
            )
        )
        return stats, maxes

    def _filter_seen(
        self,
        recs: DataFrame,
        interactions: DataFrame,
        k: int,
        queries: DataFrame,
        seen_stats=None,
        join_queries: bool = True,
    ) -> DataFrame:
        """Remove items already seen by each query; keep enough depth.

        Parity: reference ``base_rec.py:152-201`` — rank cap at
        ``k + max_seen``, per-query cap at ``k + seen_count``, then
        anti join on the seen pairs.
        """
        if seen_stats is not None:
            stats, maxes = seen_stats
            num_seen = stats.select(self.query_column, "seen_count")
            # broadcast 1-row cap: same integer comparison as the old
            # driver-pulled literal, zero extra actions
            max_seen_cap = F.col("_max_seen") + F.lit(k)
            recs = recs.crossJoin(maxes.select("_max_seen"))
        else:
            num_seen = (
                interactions.join(queries, on=self.query_column)
                .groupBy(self.query_column)
                .agg(F.count(self.item_column).alias("seen_count"))
            )
            max_seen_row = num_seen.agg(F.max("seen_count")).first()
            max_seen = max_seen_row[0] if max_seen_row and max_seen_row[0] else 0
            max_seen_cap = F.lit(max_seen + k)
        recs = recs.withColumn(
            "temp_rank",
            F.row_number().over(
                Window.partitionBy(self.query_column).orderBy(
                    F.col(self.rating_column).desc(), F.col(self.item_column).asc()
                )
            ),
        ).filter(F.col("temp_rank") <= max_seen_cap)
        if seen_stats is not None:
            recs = recs.drop("_max_seen")
        recs = (
            recs.join(num_seen, on=self.query_column, how="left")
            .fillna(0, subset=["seen_count"])
            .filter(F.col("temp_rank") <= F.col("seen_count") + F.lit(k))
            .drop("temp_rank", "seen_count")
        )
        seen_src = (
            interactions.join(queries, on=self.query_column)
            if join_queries
            else interactions
        )
        seen_pairs = seen_src.select(
            F.col(self.query_column), F.col(self.item_column)
        )
        return recs.join(
            seen_pairs, on=[self.query_column, self.item_column], how="left_anti"
        )

    def optimize(
        self,
        train_dataset: Dataset,
        test_dataset: Dataset,
        param_borders: Optional[dict] = None,
        criterion=None,
        k: int = 10,
        budget: int = 10,
        new_study: bool = True,
    ) -> Optional[dict]:
        """Hyperparameter search for THIS model (reference
        ``optuna_mixin.py:168-240`` shape): searches
        ``param_borders`` (or the class ``_search_space``), applies
        the best params via ``set_params`` and returns them.
        ``criterion`` is a metric instance or class (default NDCG@k);
        accepts both search-space formats (terse lists or the
        reference's typed dicts, incl. loguniform)."""
        from replay_spark.models.optimization import optimize as _optimize

        space = param_borders if param_borders is not None else self._search_space
        if space is None:
            return None
        if criterion is None:
            from replay_spark.metrics import NDCG

            criterion = NDCG(k)
        elif isinstance(criterion, type):
            criterion = criterion(k)
        base_args = dict(self._init_args)

        def factory(**params):
            return type(self)(**{**base_args, **params})

        result = _optimize(
            model_factory=factory,
            train_dataset=train_dataset,
            test_dataset=test_dataset,
            param_borders=space,
            criterion=lambda recs, gt: criterion(recs, gt),
            k=k,
            budget=budget,
        )
        best = result["best_params"] or {}
        self.set_params(**best)
        return best

    # -- persistence -------------------------------------------------------
    @property
    def _dataframes(self) -> dict:
        return {}

    @property
    def _init_args(self) -> dict:
        return {}

    def save(self, path: str) -> None:
        base = Path(path)
        base.mkdir(parents=True, exist_ok=True)
        meta = {
            "class": type(self).__name__,
            "init_args": self._init_args,
            "columns": {
                "query_column": self.query_column,
                "item_column": self.item_column,
                "rating_column": self.rating_column,
                "timestamp_column": self.timestamp_column,
            },
            "scalars": self._save_scalars(),
        }
        (base / "meta.json").write_text(json.dumps(meta, default=str))
        for name, df in self._dataframes.items():
            if df is not None:
                df.write.mode("overwrite").parquet(str(base / f"{name}.parquet"))
        if hasattr(self, "fit_queries"):
            self.fit_queries.write.mode("overwrite").parquet(str(base / "fit_queries.parquet"))
            self.fit_items.write.mode("overwrite").parquet(str(base / "fit_items.parquet"))

    def _save_scalars(self) -> dict:
        # a fit model always persists its universe sizes (loaded
        # models have no interactions to recount) — force the lazy
        # computation here so saved artifacts match the eager era
        if not hasattr(self, "_num_items") and getattr(
            self, "_fit_queries_base", None
        ) is not None:
            self._compute_universe_counts()
        out = {}
        for attr in ("fill", "_num_queries", "_num_items", "full_count"):
            if hasattr(self, attr):
                out[attr] = getattr(self, attr)
        return out

    def _load_from(self, path: str, spark: SparkSession) -> None:
        base = Path(path)
        meta = json.loads((base / "meta.json").read_text())
        for col, val in meta["columns"].items():
            setattr(self, col, val)
        for p in base.glob("*.parquet"):
            name = p.name[: -len(".parquet")]
            if name in ("fit_queries", "fit_items"):
                continue
            setattr(self, name, spark.read.parquet(str(p)))
        for attr, val in meta["scalars"].items():
            setattr(self, attr, val)
        if (base / "fit_queries.parquet").exists():
            self.fit_queries = spark.read.parquet(str(base / "fit_queries.parquet"))
            self.fit_items = spark.read.parquet(str(base / "fit_items.parquet"))

    @classmethod
    def load(cls, path: str, spark: Optional[SparkSession] = None, **init_kwargs):
        spark = spark or SparkSession.getActiveSession()
        meta = json.loads((Path(path) / "meta.json").read_text())
        model = cls(**{**meta["init_args"], **init_kwargs})
        model._load_from(path, spark)
        return model


class NonPersonalizedRecommender(BaseRecommender, ABC):
    """Popularity-table models (reference ``base_rec.py:1143-1398``).

    ``_fit`` must set ``self.item_popularity``
    (``[item_id, rating]``) and ``self.fill`` (rating assigned to
    cold items = min(pop) * cold_weight).
    """

    can_predict_cold_queries = True
    can_predict_cold_items = True
    sample: bool = False
    seed: Optional[int] = None
    # sampling predict ships the whole item-popularity table to every
    # task (reference semantics, base_rec.py:1283-1364) — driver- and
    # closure-bounded; the cap makes hitting that bound an explicit
    # decision rather than an OOM (same contract as SLIM/CSRConverter)
    max_items_to_collect: int = 10_000_000

    def __init__(self, add_cold_items: bool = True, cold_weight: float = 0.5):
        if not 0 < cold_weight <= 1:
            raise ValueError("`cold_weight` value should be in interval (0, 1]")
        self.add_cold_items = add_cold_items
        self.cold_weight = cold_weight

    @property
    def _dataframes(self):
        return {"item_popularity": self.item_popularity}

    @staticmethod
    def _calc_fill(item_popularity: DataFrame, weight: float, rating_column: str) -> float:
        return item_popularity.agg(F.min(rating_column)).first()[0] * weight

    @staticmethod
    def _check_rating(dataset: Dataset):
        rating_column = dataset.feature_schema.interactions_rating_column
        bad = dataset.interactions.where(
            (F.col(rating_column) != 1) & (F.col(rating_column) != 0)
        )
        if bad.count() > 0:
            raise ValueError("Rating values in interactions must be 0 or 1")

    def _get_selected_item_popularity(self, items: DataFrame) -> DataFrame:
        return self.item_popularity.join(
            items,
            on=self.item_column,
            how="right" if self.add_cold_items else "inner",
        ).fillna(value=self.fill, subset=[self.rating_column])

    def _predict(
        self,
        dataset: Optional[Dataset],
        k: int,
        queries: DataFrame,
        items: DataFrame,
        filter_seen_items: bool = True,
    ) -> DataFrame:
        if self.sample:
            return self._predict_with_sampling(dataset, k, queries, items)
        selected = self._get_selected_item_popularity(items)
        rank_order = [
            F.col(self.rating_column).desc(),
            F.col(self.item_column).desc(),
        ]
        n_items = getattr(self, "_num_items", None)
        if n_items is None and getattr(
            self, "_fit_queries_base", None
        ) is not None:
            # fit model, count not yet pulled: the branch choice needs
            # the true size (a >1M catalog must NOT take the one-task
            # window), so this is a genuine consumer of the lazy count
            n_items = self.items_count
        if (n_items or 0) > 1_000_000:
            # item universe too large for a one-task window: two-phase
            # range-partition numbering (same ranks, no global sort)
            from replay_spark.utils.spark_utils import ordered_row_numbers

            selected = ordered_row_numbers(selected, rank_order, "rank")
        else:
            selected = selected.withColumn(
                "rank", F.row_number().over(Window.orderBy(*rank_order))
            )
        if filter_seen_items and dataset is not None:
            shared = getattr(self, "_shared_seen_stats", None)
            if shared is not None:
                # predict() already computed + cached per-query stats;
                # reuse instead of re-scanning interactions — and take
                # the global rank cap as a broadcast 1-row column, so
                # no scalar-pull action runs here either
                stats, maxes = shared
                query_to_num_items = stats.select(
                    self.query_column, "num_items"
                )
                selected = (
                    selected.crossJoin(maxes.select("_max_items"))
                    .filter(F.col("rank") <= k + F.col("_max_items"))
                    .drop("_max_items")
                )
            else:
                query_to_num_items = (
                    dataset.interactions.join(queries, on=self.query_column)
                    .groupBy(self.query_column)
                    .agg(F.countDistinct(self.item_column).alias("num_items"))
                )
            queries_with_num = queries.join(
                query_to_num_items, on=self.query_column, how="left"
            ).fillna(0, subset=["num_items"])
            if shared is None:
                max_seen = (
                    queries_with_num.agg(
                        F.coalesce(F.max("num_items"), F.lit(0))
                    ).first()[0]
                )
                selected = selected.filter(F.col("rank") <= k + max_seen)
            return queries_with_num.join(
                selected, on=(F.col("rank") <= k + F.col("num_items")), how="left"
            ).drop("rank", "num_items")
        return queries.crossJoin(selected.filter(F.col("rank") <= k)).drop("rank")

    def _predict_with_sampling(
        self, dataset: Optional[Dataset], k: int, queries: DataFrame, items: DataFrame
    ) -> DataFrame:
        """Per-query weighted sampling without replacement
        (reference ``base_rec.py:1283-1364``) via ``applyInPandas``."""
        selected = self._get_selected_item_popularity(items).withColumn(
            self.rating_column,
            F.when(F.col(self.rating_column) == F.lit(0.0), 0.1**6).otherwise(
                F.col(self.rating_column)
            ),
        )
        n_items = selected.count()
        if n_items > self.max_items_to_collect:
            raise ValueError(
                f"Sampling predict would collect {n_items} items to the "
                "driver (> max_items_to_collect="
                f"{self.max_items_to_collect}); raise the cap explicitly "
                "or use the non-sampling predict at this item scale"
            )
        # draw over item order, not the partition order toPandas returns
        items_pd = selected.toPandas().sort_values(
            self.item_column, ignore_index=True
        )
        if len(items_pd) == 0:
            return queries.withColumn(self.item_column, F.lit(None)).withColumn(
                self.rating_column, F.lit(None)
            )
        total = items_pd[self.rating_column].sum()
        items_pd["probability"] = items_pd[self.rating_column] / total
        query_col = self.query_column
        item_col = self.item_column
        rating_col = self.rating_column
        seed = self.seed
        item_ids = items_pd[item_col].values
        probs = items_pd["probability"].values
        ratings = items_pd[rating_col].values
        k_local = min(k, len(items_pd))

        if dataset is not None:
            shared = getattr(self, "_shared_seen_stats", None)
            if shared is not None:
                num_df = shared[0].select(query_col, "num_items")
            else:
                num_df = (
                    dataset.interactions.join(queries, on=query_col)
                    .groupBy(query_col)
                    .agg(F.countDistinct(item_col).alias("num_items"))
                )
            queries = queries.join(num_df, on=query_col, how="left").fillna(
                0, subset=["num_items"]
            )
        else:
            queries = queries.withColumn("num_items", F.lit(0))

        import numpy as np

        def sample_for_query(query_id, num_items) -> tuple:
            n = int(min(k_local + num_items, len(item_ids)))
            local_rng = np.random.default_rng(
                None if seed is None else seed + int(query_id)
            )
            chosen = local_rng.choice(len(item_ids), size=n, p=probs, replace=False)
            return [query_id] * n, item_ids[chosen], ratings[chosen]

        def sample_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
            qs, its, rs = [], [], []
            for qid, ni in zip(pdf[query_col], pdf["num_items"]):
                a, b, c = sample_for_query(qid, ni)
                qs.extend(a)
                its.append(b)
                rs.append(c)
            return pd.DataFrame(
                {
                    query_col: qs,
                    item_col: np.concatenate(its) if its else [],
                    rating_col: np.concatenate(rs) if rs else [],
                }
            )

        schema_item_type = dict(selected.dtypes)[item_col]
        return bucketed_apply_in_pandas(
            queries,
            query_col,
            sample_bucket,
            f"{query_col} long, {item_col} {schema_item_type}, "
            f"{rating_col} double",
        )

    def _predict_pairs(
        self, pairs: DataFrame, dataset: Optional[Dataset] = None
    ) -> DataFrame:
        return (
            pairs.join(self.item_popularity, on=self.item_column, how="left")
            .fillna(value=self.fill, subset=[self.rating_column])
            .select(self.query_column, self.item_column, self.rating_column)
        )
