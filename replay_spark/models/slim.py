"""SLIM — Sparse Linear Methods for item-item recommendation.

Per-item ElasticNet regression over the user-item matrix
(reference ``models/slim.py:20-133``). The per-column solver runs as
an ``applyInPandas`` grouped-map (one group per item, Arrow-batched)
against a broadcast CSC matrix — the reference's design, with one
environment change: sklearn is not available here, so the ElasticNet
(positive, no intercept) is a small numpy coordinate-descent solver
with the same objective:

    min_w 1/(2n) ||y - Xw||² + alpha*l1_ratio*||w||₁
          + 0.5*alpha*(1-l1_ratio)*||w||²,  w ≥ 0, w_j = 0 for self.

Driver memory bound: the interaction matrix is collected to the
driver (same as reference). For logs beyond driver RAM, fit ItemKNN
instead or raise ``allow_collect_to_master`` deliberately.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd

from pyspark.sql import SparkSession
from pyspark.sql import types as st

from replay_spark.data.dataset import Dataset
from replay_spark.models.knn import NeighbourRec

__all__ = ["SLIM"]


def _elastic_net_cd(
    indptr: np.ndarray,
    csc_rows: np.ndarray,
    csc_vals: np.ndarray,
    y: np.ndarray,
    col_sq_norms: np.ndarray,
    alpha: float,
    l1_ratio: float,
    skip_idx: int,
    max_iter: int = 100,
    tol: float = 1e-4,
) -> np.ndarray:
    """Positive coordinate-descent ElasticNet on a sparse column set.

    Column ``j`` is ``(csc_rows, csc_vals)[indptr[j]:indptr[j+1]]`` —
    three flat arrays instead of a per-column list of array pairs:
    the broadcast of thousands of tiny numpy objects dominated each
    Python worker's first-task deserialization; the flat form pickles
    as three buffers. Per-column slices are views of the same values
    in the same order, so every dot product and residual update is
    bit-identical to the list-of-pairs form.
    """
    n_cols = len(indptr) - 1
    n = len(y)
    w = np.zeros(n_cols)
    residual = y.astype(np.float64).copy()
    l1 = alpha * l1_ratio * n
    l2 = alpha * (1 - l1_ratio) * n
    for _ in range(max_iter):
        max_delta = 0.0
        for j in range(n_cols):
            if j == skip_idx:
                continue
            lo, hi = indptr[j], indptr[j + 1]
            if lo == hi or col_sq_norms[j] == 0:
                continue
            rows = csc_rows[lo:hi]
            vals = csc_vals[lo:hi]
            grad = vals @ residual[rows] + w[j] * col_sq_norms[j]
            new_w = max(0.0, (grad - l1)) / (col_sq_norms[j] + l2)
            delta = new_w - w[j]
            if delta != 0.0:
                residual[rows] -= delta * vals
                w[j] = new_w
                max_delta = max(max_delta, abs(delta))
        if max_delta < tol:
            break
    return w


class SLIM(NeighbourRec):
    """ElasticNet item-item similarity model."""

    _search_space = {
        "beta": {"type": "loguniform", "args": [1e-6, 5]},
        "lambda_": {"type": "loguniform", "args": [1e-6, 2]},
    }

    def __init__(
        self,
        beta: float = 0.01,
        lambda_: float = 0.01,
        seed: Optional[int] = None,
        allow_collect_to_master: bool = True,
    ):
        if beta < 0 or lambda_ <= 0:
            raise ValueError("Invalid regularization parameters")
        self.beta = beta
        self.lambda_ = lambda_
        self.seed = seed
        self.allow_collect_to_master = allow_collect_to_master

    @property
    def _init_args(self):
        return {
            "beta": self.beta,
            "lambda_": self.lambda_,
            "seed": self.seed,
            "allow_collect_to_master": self.allow_collect_to_master,
        }

    def _fit(self, dataset: Dataset) -> None:
        interactions = dataset.interactions.select(
            self.query_column, self.item_column, self.rating_column
        )
        pdf = interactions.toPandas()
        # dense id mapping for matrix coordinates
        users = {u: i for i, u in enumerate(sorted(pdf[self.query_column].unique()))}
        items = sorted(pdf[self.item_column].unique())
        item_pos = {it: i for i, it in enumerate(items)}
        rows = pdf[self.query_column].map(users).to_numpy()
        cols = pdf[self.item_column].map(item_pos).to_numpy()
        vals = pdf[self.rating_column].to_numpy(dtype=np.float64)
        n_users = len(users)
        n_items = len(items)
        # CSC-like column store (no scipy dependency needed) — built
        # in ONE argsort pass over the coordinates: a per-item boolean
        # mask would rescan the full nnz arrays n_items times,
        # O(n_items * nnz) on the driver
        order = np.argsort(cols, kind="stable")
        counts = np.bincount(cols, minlength=n_items)
        indptr = np.concatenate(([0], np.cumsum(counts)))
        csc_rows = rows[order]
        csc_vals = vals[order]
        # same per-column contiguous slices (and therefore the same
        # dot-product doubles) as the former list-of-pairs split
        col_sq_norms = np.array(
            [
                float(
                    csc_vals[indptr[j] : indptr[j + 1]]
                    @ csc_vals[indptr[j] : indptr[j + 1]]
                )
                for j in range(n_items)
            ]
        )

        alpha = self.beta + self.lambda_
        l1_ratio = self.lambda_ / alpha
        item_arr = np.array(items)

        spark = SparkSession.getActiveSession()
        sc = spark.sparkContext
        bc = sc.broadcast(
            (indptr, csc_rows, csc_vals, col_sq_norms, item_arr, n_users)
        )

        # note: replay_spark registers itself for cloudpickle by-value
        # serialization (see replay_spark/__init__.py), so this closure's
        # reference to _elastic_net_cd ships to executors even when their
        # workers can't import replay_spark from disk
        elastic_net_cd = _elastic_net_cd

        def slim_column(target_item) -> tuple:
            indptr_b, rows_b, vals_b, sq_norms_b, items_b, n_users_b = bc.value
            j = int(np.searchsorted(items_b, target_item))
            y = np.zeros(n_users_b)
            lo, hi = indptr_b[j], indptr_b[j + 1]
            y[rows_b[lo:hi]] = vals_b[lo:hi]
            w = elastic_net_cd(
                indptr_b, rows_b, vals_b, y, sq_norms_b,
                alpha, l1_ratio, skip_idx=j,
            )
            good = np.argwhere(w > 0).reshape(-1)
            return items_b[good], target_item, w[good]

        def slim_bucket(group: pd.DataFrame) -> pd.DataFrame:
            ones, twos, sims = [], [], []
            for target_item in group["item_idx_one"]:
                a, t, c = slim_column(target_item)
                ones.append(a)
                twos.extend([t] * len(a))
                sims.append(c)
            return pd.DataFrame(
                {
                    "item_idx_one": (
                        np.concatenate(ones) if ones else []
                    ),
                    "item_idx_two": twos,
                    "similarity": (
                        np.concatenate(sims) if sims else []
                    ),
                }
            )

        from replay_spark.utils.spark_utils import (
            bucketed_apply_in_pandas,
            local_df,
        )

        # driver-local id frame via pandas: O(rows) partitions instead
        # of defaultParallelism Python slices
        item_df = local_df(
            spark, [(int(i),) for i in items], "item_idx_one long"
        )
        self.similarity = bucketed_apply_in_pandas(
            item_df,
            "item_idx_one",
            slim_bucket,
            "item_idx_one long, item_idx_two long, similarity double",
        )
        self.similarity.cache().count()
