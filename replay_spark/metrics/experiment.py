"""OfflineMetrics shared-pass computation + Experiment results table.

Parity: reference ``metrics/offline_metrics.py`` and
``metrics/experiment.py``.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd

from pyspark.sql import DataFrame

from replay_spark.metrics.metrics import (
    MAP,
    MRR,
    NDCG,
    Coverage,
    HitRate,
    Novelty,
    Precision,
    Recall,
    RocAuc,
    Surprisal,
    Unexpectedness,
)

__all__ = ["OfflineMetrics", "Experiment"]

# rank metrics sharing one identical enrichment plan — computed on a
# single cached enriched frame (reference offline_metrics.py:139-176)
_SHARED_PASS = (HitRate, Precision, Recall, MRR, MAP, NDCG, RocAuc)


class OfflineMetrics:
    """Compute many metrics in one call: the rank metrics share ONE
    duplicate check + enrichment pass (groupBy collect + gt join);
    the ones needing ``train`` (Coverage/Novelty/Surprisal) or base
    recommendations (Unexpectedness) are routed separately."""

    def __init__(self, metrics: list):
        self.metrics = metrics

    def __call__(
        self,
        recommendations: DataFrame,
        ground_truth: DataFrame,
        train: Optional[DataFrame] = None,
        base_recommendations: Optional[DataFrame] = None,
        gt_grouped: Optional[DataFrame] = None,
    ) -> dict:
        results: dict = {}
        shared = [m for m in self.metrics if isinstance(m, _SHARED_PASS)]
        rest = [m for m in self.metrics if m not in shared]
        if shared:
            from pyspark.sql import functions as F

            from replay_spark.metrics.descriptors import Mean

            first = shared[0]
            enriched = first._get_enriched_recommendations(
                recommendations, ground_truth, gt_grouped=gt_grouped
            )
            # Mean-mode metrics fold into ONE aggregation job: every
            # (metric, k) per-user kernel becomes a column of a single
            # select and a single avg() pass over the enriched frame —
            # 1 Spark job instead of len(metrics)×len(topk). The
            # duplicate check rides the SAME job as an extra max()
            # column (a (query,item) duplicate in the recs is a
            # repeated entry in that query's pred list), instead of
            # its own groupBy+count action over the recs; duplicates
            # of queries absent from ground_truth are not flagged —
            # they cannot affect any metric value.
            fused = [m for m in shared if type(m._mode) is Mean]
            rest_shared = [m for m in shared if m not in fused]
            if rest_shared:
                enriched = enriched.cache()
            cols, slots = [], []
            for m in fused:
                for k in m.topk:
                    slots.append((m, k))
                    cols.append(
                        m._per_user_value(k).alias(f"_v{len(cols)}")
                    )
            dup_flag = F.max(
                F.when(
                    F.size("pred_item_id")
                    > F.size(F.array_distinct("pred_item_id")),
                    1,
                ).otherwise(0)
            ).alias("_dup")
            if fused:
                row = enriched.select(*cols, "pred_item_id").agg(
                    *[
                        F.avg(f"_v{i}").alias(f"_a{i}")
                        for i in range(len(cols))
                    ],
                    dup_flag,
                ).first()
                if row["_dup"]:
                    first._warn_duplicates()
                per_metric: dict = {}
                for i, (m, k) in enumerate(slots):
                    per_metric.setdefault(id(m), (m, {}))[1][k] = row[f"_a{i}"]
                for m, values in per_metric.values():
                    results.update(m._aggregate_results(values))
            else:
                first._check_duplicates(recommendations)
            for metric in rest_shared:
                results.update(metric._compute(enriched))
            if rest_shared:
                enriched.unpersist()
        for metric in rest:
            if isinstance(metric, (Coverage, Novelty, Surprisal)):
                if train is None:
                    raise ValueError(
                        f"{type(metric).__name__} requires the train dataframe"
                    )
                results.update(metric(recommendations, train))
            elif isinstance(metric, Unexpectedness):
                if base_recommendations is None:
                    raise ValueError(
                        "Unexpectedness requires base_recommendations"
                    )
                results.update(metric(recommendations, base_recommendations))
            else:
                results.update(metric(recommendations, ground_truth))
        return results


class Experiment:
    """Accumulate per-model metric values into a pandas comparison table."""

    def __init__(
        self,
        metrics: list,
        ground_truth: DataFrame,
        train: Optional[DataFrame] = None,
        base_recommendations: Optional[DataFrame] = None,
        sampled_evaluator=None,
        sampled_ks=(10,),
    ):
        """``sampled_evaluator`` (a :class:`replay_spark.metrics.
        SampledRankingEvaluator`) opts the experiment into the
        sampled-ranking protocol: :meth:`add_sampled_result` then
        lands ``SampledHitRate@k`` / ``SampledNDCG@k`` columns in the
        SAME results row as the full-catalog metrics, so both
        protocols report through one table (the reference keeps all
        model comparison in Experiment — this keeps the sampled
        protocol there too)."""
        self.metrics = metrics
        self.ground_truth = ground_truth
        self.train = train
        self.base_recommendations = base_recommendations
        self.sampled_evaluator = sampled_evaluator
        self.sampled_ks = tuple(sampled_ks)
        self.results = pd.DataFrame()
        self._gt_grouped: Optional[DataFrame] = None

    def add_result(self, name: str, recommendations: DataFrame) -> None:
        shared = [m for m in self.metrics if isinstance(m, _SHARED_PASS)]
        if shared and self._gt_grouped is None:
            # the per-query ground-truth arrays are identical for
            # every model — group (a full test-set shuffle at scale)
            # once and cache the small result for the experiment's
            # lifetime instead of re-grouping per add_result
            self._gt_grouped = shared[0]._grouped_ground_truth(
                self.ground_truth
            ).cache()
        values = OfflineMetrics(self.metrics)(
            recommendations,
            self.ground_truth,
            self.train,
            self.base_recommendations,
            gt_grouped=self._gt_grouped,
        )
        for metric_name, value in values.items():
            self.results.loc[name, metric_name] = value

    def release(self) -> None:
        """Unpersist the ground-truth grouping cached by the first
        :meth:`add_result`; a later ``add_result`` rebuilds it."""
        if self._gt_grouped is not None:
            self._gt_grouped.unpersist()
            self._gt_grouped = None

    def add_sampled_result(
        self, name: str, scored_candidates: DataFrame
    ) -> None:
        """Sampled-protocol twin of :meth:`add_result`:
        ``scored_candidates`` is the evaluator's ``candidates`` frame
        with the model's score in the evaluator's rating column
        (typically ``model.predict_pairs`` over the candidate pairs,
        joined back). Ranks fold once; one column pair per k."""
        if self.sampled_evaluator is None:
            raise ValueError(
                "construct Experiment with sampled_evaluator= to add "
                "sampled results"
            )
        ranks = self.sampled_evaluator.evaluate(scored_candidates).cache()
        try:
            for k in self.sampled_ks:
                m = self.sampled_evaluator.metrics(ranks, k)
                self.results.loc[name, f"SampledHitRate@{k}"] = m["hr"]
                self.results.loc[name, f"SampledNDCG@{k}"] = m["ndcg"]
        finally:
            ranks.unpersist()

    def compare(self, baseline: str) -> pd.DataFrame:
        """Percent change of every row vs the named baseline row."""
        if baseline not in self.results.index:
            raise KeyError(f"No results for {baseline}")
        base = self.results.loc[baseline]
        diff = (self.results - base) / base
        return diff.drop(index=baseline)
