"""Base recommender machinery.

Fresh implementation of the reference's base classes
(``replay/models/base_rec.py``): fit/predict wrappers, cold-entity
filtering, seen-item removal, deterministic top-k truncation, and
the popularity-based (non-personalized) base with optional
per-query weighted sampling.

Scale design: the fit_queries/fit_items universes are broadcast
(they are distinct-id tables, small relative to interactions).
Personalized models filter seen items with an anti join on
(query, item) and rank with one window per query. Non-personalized
models predict in one seen-aware stage: the catalog, ranked once,
rides a broadcast 1-row array, and each query drops its seen items
(one ``collect_set`` per query) with array functions — no window,
join chain or scalar pull — and fit in one action.
"""

from __future__ import annotations

import inspect
import json
from abc import ABC, abstractmethod
from pathlib import Path
from typing import Iterable, Optional, Union

import pandas as pd

from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from replay_spark.data.dataset import Dataset
from replay_spark.utils.spark_utils import (
    _add_partition_offsets,
    _ordered_partition_scan,
    bucketed_apply_in_pandas,
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
        # default predict (queries=None, dataset given): the queries ARE
        # the log's users, so restricting the log to them is a no-op
        queries_cover_log = queries is None and dataset is not None
        dataset, queries, items = self._prepare_predict_inputs(dataset, queries, items)
        recs, cached = self._top_k(
            dataset, k, queries, items, filter_seen_items, queries_cover_log
        )
        try:
            recs = recs.select(self.query_column, self.item_column, self.rating_column)
            if recs_file_path is not None:
                recs.write.mode("overwrite").parquet(recs_file_path)
                return None
            recs = recs.cache()
            recs.count()
            return recs
        finally:
            for df in cached:
                df.unpersist()

    def _top_k(
        self,
        dataset: Optional[Dataset],
        k: int,
        queries: DataFrame,
        items: DataFrame,
        filter_seen_items: bool,
        queries_cover_log: bool,
    ) -> tuple[DataFrame, list]:
        """The top-k frame and the frames to unpersist once it has run.

        Generic chain: ``_predict``'s candidates, seen pairs removed by
        an anti join, then one per-query window keeps the k best.
        """
        cached = []
        # `queries` is usually a DISTINCT over the interaction log and
        # is consumed by seen-stats, the prediction join AND the final
        # rank — cache the (small) id frame so the log-wide distinct
        # shuffle runs once per predict, not once per consumer. Skip
        # when it's the fit-level universe (already cached in fit).
        if queries is not self.fit_queries:
            queries = queries.cache()
            cached.append(queries)
        recs = self._predict(dataset, k, queries, items, filter_seen_items)
        if filter_seen_items and dataset is not None:
            seen_stats = self._compute_seen_stats(
                dataset.interactions, queries, join_queries=not queries_cover_log
            )
            cached.append(seen_stats[0])
            recs = self._filter_seen(
                recs,
                dataset.interactions,
                k,
                queries,
                seen_stats,
                join_queries=not queries_cover_log,
            )
        return (
            get_top_k_recs(
                recs, k, self.query_column, self.item_column, self.rating_column
            ),
            cached,
        )

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

        def warm(df, universe, column):
            return df.join(F.broadcast(universe), on=column, how="left_semi")

        if not self.can_predict_cold_queries:
            queries = warm(queries, self.fit_queries, self.query_column)
            if interactions is not None:
                interactions = warm(interactions, self.fit_queries, self.query_column)
        if not self.can_predict_cold_items:
            items = warm(items, self.fit_items, self.item_column)
            if interactions is not None:
                interactions = warm(interactions, self.fit_items, self.item_column)
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
        """Per-query seen counts shared across one predict call:
        (cached stats frame [query, seen_count], broadcast 1-row frame
        [_max_seen]).

        The max rides the plan as a broadcast 1-row aggregate instead
        of a driver ``first()``: the rank-cap filter consumes it as a
        column, so the cap costs no extra action.
        """
        scoped = (
            interactions.join(queries, on=self.query_column)
            if join_queries
            else interactions
        )
        stats = (
            scoped.groupBy(self.query_column)
            .agg(F.count(self.item_column).alias("seen_count"))
            .cache()
        )
        maxes = F.broadcast(
            stats.agg(F.coalesce(F.max("seen_count"), F.lit(0)).alias("_max_seen"))
        )
        return stats, maxes

    def _filter_seen(
        self,
        recs: DataFrame,
        interactions: DataFrame,
        k: int,
        queries: DataFrame,
        seen_stats,
        join_queries: bool = True,
    ) -> DataFrame:
        """Remove items already seen by each query; keep enough depth.

        Parity: reference ``base_rec.py:152-201`` — rank cap at
        ``k + max_seen``, per-query cap at ``k + seen_count``, then
        anti join on the seen pairs.
        """
        stats, maxes = seen_stats
        recs = (
            recs.crossJoin(maxes)
            .withColumn(
                "temp_rank",
                F.row_number().over(
                    Window.partitionBy(self.query_column).orderBy(
                        F.col(self.rating_column).desc(), F.col(self.item_column).asc()
                    )
                ),
            )
            .filter(F.col("temp_rank") <= F.col("_max_seen") + F.lit(k))
            .drop("_max_seen")
            .join(stats, on=self.query_column, how="left")
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
        counted = hasattr(self, "_num_queries") and hasattr(self, "_num_items")
        if not counted and getattr(self, "_fit_queries_base", None) is not None:
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

    Fit runs one Spark action. ``_fit`` builds a per-item table over
    the log and hands it to ``_cache_popularity`` with the scalars the
    model needs (the fill, the totals its scores divide by, the 0/1
    rating check); that caches the table and reads every scalar in one
    ``first()``. ``_fit`` then sets ``self.item_popularity``
    (``[item_id, rating]``, a projection of the cached table) and
    ``self.fill`` (the rating of cold items, min(pop) * cold_weight
    unless the model defines its own).

    Every score is the item's, whoever the query is, so predict skips
    the generic candidates → anti join → window chain. It builds the
    seen sets (``groupBy(query).agg(collect_set(item))``, which in the
    default predict is also the query set) and a broadcast 1-row
    array of the catalog ranked by rating desc, item desc. Each query
    slices ``k + |seen|`` entries, drops its seen items and keeps the
    k best by rating desc, item asc — the rows the generic chain
    returns. Sampling predict draws from the same seen sets. When the
    candidate items are the fit universe and the fit saw no
    ``item_features``, ``item_popularity`` already has one row per
    candidate, so the catalog is read from it without the universe.
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

    @property
    def _init_args(self):
        # every constructor argument is kept under its own name
        names = list(inspect.signature(type(self).__init__).parameters)[1:]
        return {name: getattr(self, name) for name in names}

    def fit(self, dataset: Dataset) -> "NonPersonalizedRecommender":
        self._clear_cache()
        super().fit(dataset)
        self._popularity_items = None
        if dataset.item_features is None:
            # one popularity row per log item: the fit item universe
            self._popularity_items = self.fit_items
            self._num_items = self._fit_scalars["_ni"]
        return self

    def _cache_popularity(self, per_item: DataFrame, **scalars) -> Row:
        """The fit's one action: cache ``per_item`` and read ``scalars``
        (aggregates over it, by name) in one ``first()``, with ``_ni``,
        its row count, unless given. A ``_bad`` column is a 0/1 rating
        check: true in any row, the new cache is released and the model
        keeps the table it had."""
        scalars.setdefault("_ni", F.count(F.lit(1)))
        if "_bad" in per_item.columns:
            scalars["_bad"] = F.max("_bad")
        cached = per_item.cache()
        row = cached.agg(*(c.alias(name) for name, c in scalars.items())).first()
        if "_bad" in scalars and row["_bad"]:
            cached.unpersist()
            raise ValueError("Rating values in interactions must be 0 or 1")
        self._popularity, self._fit_scalars = cached, row
        return row

    def _clear_cache(self) -> None:
        # `item_popularity` is a projection: its cache is this table
        if getattr(self, "_popularity", None) is not None:
            self._popularity.unpersist()
        self._popularity = None

    def _get_selected_item_popularity(self, items: DataFrame) -> DataFrame:
        known = F.col(self.item_column).isNotNull()
        if items is getattr(self, "_popularity_items", None):
            # the null id is the one a join on the universe misses
            selected = (
                self.item_popularity.withColumn(
                    self.rating_column, F.when(known, F.col(self.rating_column))
                )
                if self.add_cold_items
                else self.item_popularity.where(known)
            )
        elif self.add_cold_items:
            # a left join can build its right side, so this hint holds
            selected = items.join(
                F.broadcast(self.item_popularity), on=self.item_column, how="left"
            )
        else:
            selected = self.item_popularity.join(items, on=self.item_column)
        return selected.fillna(value=self.fill, subset=[self.rating_column])

    def _top_k(
        self,
        dataset: Optional[Dataset],
        k: int,
        queries: DataFrame,
        items: DataFrame,
        filter_seen_items: bool,
        queries_cover_log: bool,
    ) -> tuple[DataFrame, list]:
        # the seen-aware stage already returns the top k; it caches
        # only above 1M items
        cached = []
        recs = self._predict(
            dataset, k, queries, items, filter_seen_items, queries_cover_log, cached
        )
        return recs, cached

    def _seen_sets(
        self,
        dataset: Optional[Dataset],
        queries: DataFrame,
        items: DataFrame,
        filter_seen_items: bool,
        queries_cover_log: bool,
    ) -> DataFrame:
        """``[query, _seen]``: every query to recommend for, with the
        set of items its log rows name. ``_seen`` is empty for a query
        with no history, and for every query when nothing is filtered.

        In the default predict the grouped log is itself the query set.
        """
        no_seen = F.array().cast(
            ArrayType(items.schema[self.item_column].dataType)
        )
        if not filter_seen_items or dataset is None:
            return queries.withColumn("_seen", no_seen)
        log = dataset.interactions
        if not queries_cover_log:
            log = log.join(queries, on=self.query_column, how="left_semi")
        seen = log.groupBy(self.query_column).agg(
            # a null query equals no query, so like the anti join of
            # the generic chain it removes nothing: empty set
            F.collect_set(
                F.when(F.col(self.query_column).isNotNull(), F.col(self.item_column))
            ).alias("_seen")
        )
        if queries_cover_log:
            return seen
        return queries.join(seen, on=self.query_column, how="left").withColumn(
            "_seen", F.coalesce("_seen", no_seen)
        )

    def _predict(
        self,
        dataset: Optional[Dataset],
        k: int,
        queries: DataFrame,
        items: DataFrame,
        filter_seen_items: bool = True,
        queries_cover_log: bool = False,
        cached: Optional[list] = None,
    ) -> DataFrame:
        """The seen-filtered top k of every query, in one stage.

        The catalog is ranked once (rating desc, item desc) into a
        broadcast 1-row array. Each query slices its first
        ``k + |seen|`` entries — at most ``|seen|`` of them are seen —
        drops its seen items, and keeps the k best by rating desc,
        item asc (the order ``get_top_k_recs`` uses). Frames persisted
        on the way are appended to ``cached``, for the caller to
        unpersist once the result has run.
        """
        seen = self._seen_sets(
            dataset, queries, items, filter_seen_items, queries_cover_log
        )
        if self.sample:
            return self._predict_with_sampling(seen, k, items)
        q, i, r = self.query_column, self.item_column, self.rating_column
        selected = self._get_selected_item_popularity(items)
        n_items = getattr(self, "_num_items", None)
        if n_items is None and getattr(self, "_fit_queries_base", None) is not None:
            # fit model, count not yet pulled: the branch choice needs
            # the true size, so this is a genuine consumer of the lazy count
            n_items = self.items_count
        if (n_items or 0) > 1_000_000:
            # too many items to rank in one task or hold in one row:
            # number them with a range exchange and keep only the
            # k + max |seen| best, the deepest any query slices
            depth = F.broadcast(
                seen.agg(F.coalesce(F.max(F.size("_seen")), F.lit(0)).alias("_depth"))
            )
            numbered = _ordered_partition_scan(
                selected, [F.col(r).desc(), F.col(i).desc()], None
            ).persist()
            if cached is not None:
                cached.append(numbered)
            selected = (
                _add_partition_offsets(numbered, selected, "_rank")
                .crossJoin(depth)
                .filter(F.col("_rank") <= F.lit(k) + F.col("_depth"))
                .drop("_rank", "_depth")
            )
        # struct order is field order, so a descending sort of
        # (rating, item) is the rank order, nulls last
        catalog = F.broadcast(
            selected.agg(
                F.sort_array(F.collect_list(F.struct(r, i)), asc=False).alias("_ranked")
            )
        )
        # a null item equals no seen item, as in the generic chain's
        # anti join; array_contains gives null for it, so count it unseen
        candidates = F.filter(
            F.slice("_ranked", 1, F.lit(k) + F.size("_seen")),
            lambda x: ~F.coalesce(F.array_contains("_seen", x[i]), F.lit(False)),
        )
        # fillna leaves no null or NaN rating, so ascending -rating is
        # rating desc; item breaks ties ascending, nulls first
        top = F.slice(
            F.sort_array(
                F.transform(
                    candidates,
                    lambda x: F.struct(
                        (-x[r]).alias("_key"), x[i].alias(i), x[r].alias(r)
                    ),
                )
            ),
            1,
            k,
        )
        return seen.crossJoin(catalog).select(q, F.inline(top)).select(q, i, r)

    def _predict_with_sampling(
        self, seen: DataFrame, k: int, items: DataFrame
    ) -> DataFrame:
        """Per-query weighted sampling without replacement
        (reference ``base_rec.py:1283-1364``) via ``applyInPandas``:
        each query draws ``k + |seen|`` items, drops its seen ones and
        keeps the k best by rating desc, item asc."""
        selected = self._get_selected_item_popularity(items).withColumn(
            self.rating_column,
            F.when(F.col(self.rating_column) == F.lit(0.0), 0.1**6).otherwise(
                F.col(self.rating_column)
            ),
        )
        # one bounded collect: a row past the cap means too many items
        items_pd = selected.limit(self.max_items_to_collect + 1).toPandas()
        if len(items_pd) > self.max_items_to_collect:
            raise ValueError(
                "Sampling predict would collect more than "
                f"max_items_to_collect={self.max_items_to_collect} items "
                "to the driver; raise the cap explicitly or use the "
                "non-sampling predict at this item scale"
            )
        # draw over item order, not the partition order toPandas returns
        items_pd = items_pd.sort_values(self.item_column, ignore_index=True)
        if len(items_pd) == 0:
            return seen.select(
                self.query_column,
                F.lit(None).alias(self.item_column),
                F.lit(None).alias(self.rating_column),
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

        import numpy as np

        def sample_for_query(query_id, seen_items) -> tuple:
            n = int(min(k_local + len(seen_items), len(item_ids)))
            local_rng = np.random.default_rng(
                None if seed is None else seed + int(query_id)
            )
            chosen = local_rng.choice(len(item_ids), size=n, p=probs, replace=False)
            chosen = chosen[~np.isin(item_ids[chosen], seen_items)]
            best = chosen[np.lexsort((item_ids[chosen], -ratings[chosen]))][:k]
            return [query_id] * len(best), item_ids[best], ratings[best]

        def sample_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
            qs, its, rs = [], [], []
            for qid, seen_items in zip(pdf[query_col], pdf["_seen"]):
                a, b, c = sample_for_query(qid, seen_items)
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
            seen,
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
