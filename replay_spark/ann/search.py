"""Similarity search over embedding columns (array<float>).

Five index classes:

* ``BruteForceANN`` — exact top-k: broadcast the query set against
  the corpus, JVM-side scores via zip_with/aggregate. The right
  baseline, and the correctness oracle for the others.
* ``IVFANN`` — inverted-file index: MLlib KMeans coarse quantizer;
  corpus partitioned by nearest centroid; queries probe the
  ``nprobe`` nearest centroids only. At 100 TB the corpus-side scan
  becomes a partition-pruned join instead of a full cross join.
* ``LSHANN`` — random-hyperplane sign buckets (multi-table probing)
  — cheapest, lowest recall.
* ``IVFPQANN`` — IVF-PQ: coarse cells prune the scan, residual
  product codes shrink it to m bytes per vector; integer ADC
  shortlist, exact re-rank.
* ``PQANN`` — plain product quantization, which is IVF-PQ with the
  identity coarse quantizer (one cell at the origin): a subclass of
  ``IVFPQANN`` that differs only in how it trains.

Scoring runs as double-precision higher-order expressions; Python
runs only in the per-batch PQ encode and LUT passes.
"""

from __future__ import annotations

import math
import os
import random
from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from replay_spark.utils.spark_utils import (
    local_df,
    plan_bytes,
    release,
    stable_round,
)

__all__ = ["BruteForceANN", "IVFANN", "LSHANN", "PQANN", "IVFPQANN"]


def _lloyd_update(x, cents, iters):
    """Driver-side Lloyd iterations via the matmul expansion
    ``|x-c|^2 = |x|^2 - 2 x.c + |c|^2`` and a bincount centroid
    update. The naive broadcast form materializes an (n, k, d)
    temporary per iteration — measured 4.6 s of a 7 s sf1 PQ fit at
    n=20k (the r8 bench drift); this form is O(n·k) flops through
    BLAS with O(n·k) memory and runs the same fit in ~0.2 s. Only
    TRAINING uses it: encode/assign paths keep the literal
    ``(a-b)^2`` sums their hash oracles replay term-for-term."""
    import numpy as np

    x2 = (x * x).sum(1)[:, None]
    k = len(cents)
    for _ in range(iters):
        d2 = x2 - 2.0 * (x @ cents.T) + (cents * cents).sum(1)[None, :]
        assign = d2.argmin(1)
        counts = np.bincount(assign, minlength=k)
        sums = np.zeros_like(cents)
        np.add.at(sums, assign, x)
        nz = counts > 0
        cents[nz] = sums[nz] / counts[nz, None]
    return cents


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _sqdist(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# the reference's vector distance family (cosine / dot / euclidean —
# reference/replay/utils/spark_utils.py:624-651, base_rec.py:740-792)
# re-expressed as higher-order SQL expressions. Each metric defines
# (score expression, score column name, better-is-higher).
_METRICS = ("cosine", "dot", "l2")


def _check_metric(metric: str) -> str:
    if metric not in _METRICS:
        raise ValueError(
            f"metric must be one of {_METRICS}, got {metric!r}"
        )
    return metric


def _normalize(x):
    import numpy as np

    n = np.linalg.norm(x, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return x / n


def _prep_fn(metric):
    """Executor-safe vector prep: a plain closure (never a bound
    method — capturing one pickles the index object and its cached
    DataFrames into the UDF, SPARK-5063). cosine works on
    L2-normalized vectors (so squared-L2 ADC order == cosine order);
    dot / l2 quantize the RAW vectors."""
    if metric == "cosine":
        return _normalize
    return lambda x: x


def _cell_order_fn(metric):
    """Executor-safe per-row cell ranking (best first) under the
    metric: dot ranks by MAX inner product (the faiss
    METRIC_INNER_PRODUCT coarse rule), cosine/l2 by MIN L2 (cosine
    vectors are already normalized)."""
    import numpy as np

    if metric == "dot":
        return lambda x, cents: np.argsort(-(x @ cents.T), axis=1)

    def order(x, cents):
        d2 = (
            (x * x).sum(1)[:, None]
            - 2.0 * (x @ cents.T)
            + (cents * cents).sum(1)[None, :]
        )
        return np.argsort(d2, axis=1)

    return order


def _cents_expr(centroids):
    """The centroid set as ONE parsed ``array(array(...))`` SQL
    expression. Building the same literal with nested ``F.lit`` costs
    one py4j round-trip per element (~0.7 s for 16x64 doubles, paid
    per fit/append/search); one expr string parses JVM-side in ~4 ms.
    ``repr`` emits the shortest exact decimal, and Spark's ``D``
    literal parses back to the identical double."""
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(repr(float(x)) + "D" for x in c) + ")"
            for c in centroids
        )
        + ")"
    )


def _centroid_table(spark, centroids):
    """(cluster int, centroid array<double>) built JVM-side from the
    literal expression — no Python-parallelized local frame (which
    lands in defaultParallelism slices and pays a 32-task broadcast
    build per search)."""
    return (
        spark.range(1)
        .select(
            F.posexplode(_cents_expr(centroids)).alias(
                "cluster", "centroid"
            )
        )
        .select(F.col("cluster").cast("int").alias("cluster"), "centroid")
    )


def _score_parts(metric, qv, cv):
    """(expr, out_col, descending) for ranking corpus vectors."""
    if metric == "cosine":
        return _dot(qv, cv) / (_norm(qv) * _norm(cv)), "cosine", True
    if metric == "dot":
        return _dot(qv, cv), "score", True
    return _sqdist(qv, cv), "distance", False  # l2 (squared)


class BruteForceANN:
    """Exact top-k: queries × corpus (``metric``: cosine / dot /
    l2 — the reference's vector distance family)."""

    def __init__(
        self,
        id_column: str = "vec_id",
        vector_column: str = "embedding",
        metric: str = "cosine",
    ):
        self.id_column = id_column
        self.vector_column = vector_column
        self.metric = _check_metric(metric)

    def save(self, path: str) -> None:
        """Stateless index: the saved artifact is the params sidecar
        alone, so the class still participates in the uniform
        save→load→search contract (and model_handler dispatch)."""
        from replay_spark.ann.store import write_meta

        write_meta(
            path,
            type(self).__name__,
            {
                "id_column": self.id_column,
                "vector_column": self.vector_column,
                "metric": self.metric,
            },
        )

    @classmethod
    def load(cls, path: str, spark=None) -> "BruteForceANN":
        from replay_spark.ann.store import read_meta

        return cls(**read_meta(path)["params"])

    def search(
        self,
        queries: DataFrame,
        corpus: DataFrame,
        k: int = 10,
        where=None,
        filter_ids: Optional[DataFrame] = None,
    ) -> DataFrame:
        """Exact top-k; ``where`` (over corpus columns) and/or
        ``filter_ids`` (one-column admissible-id frame) restrict the
        candidate set BEFORE scoring — the exact-filtered baseline
        the approximate filtered searches are judged against."""
        if where is not None:
            cond = F.expr(where) if isinstance(where, str) else where
            corpus = corpus.filter(cond)
        if filter_ids is not None:
            ids = filter_ids.select(
                F.col(filter_ids.columns[0]).alias(self.id_column)
            ).distinct()
            corpus = corpus.join(ids, self.id_column, "left_semi")
        q = queries.select(
            F.col(self.id_column).alias("query_id"),
            _as_double(F.col(self.vector_column)).alias("qv"),
        )
        c = corpus.select(
            F.col(self.id_column).alias("neighbor_id"),
            _as_double(F.col(self.vector_column)).alias("cv"),
        )
        expr, out_col, desc = _score_parts(
            self.metric, F.col("qv"), F.col("cv")
        )
        scored = (
            F.broadcast(q)
            .crossJoin(c)
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id", expr.alias(out_col))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col(out_col).desc() if desc else F.col(out_col).asc(),
            F.col("neighbor_id").asc(),
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )


class IVFANN:
    """Inverted-file ANN with a KMeans coarse quantizer."""

    def __init__(
        self,
        id_column: str = "vec_id",
        vector_column: str = "embedding",
        num_clusters: int = 16,
        nprobe: int = 2,
        seed: Optional[int] = 42,
        max_iter: int = 10,
        metric: str = "cosine",
        attribute_columns: Sequence[str] = (),
    ):
        self.id_column = id_column
        self.vector_column = vector_column
        self.num_clusters = num_clusters
        self.nprobe = nprobe
        self.seed = seed
        self.max_iter = max_iter
        self.metric = _check_metric(metric)
        # payload attributes carried INTO the inverted file so
        # filtered search (``search(where=...)``) prunes candidates
        # before any distance math — the pre-filtering strategy
        # real vector stores use for selective predicates
        self.attribute_columns = list(attribute_columns)
        self.centroids = None  # list[list[float]]
        self._indexed: Optional[DataFrame] = None
        # frozen-centroid assignment rule, recorded at fit time so
        # append()/load() reproduce fit's partitioning exactly:
        # "cosine" / "dot" (fixed-centroid paths, matching the
        # metric) | "euclidean" (KMeans path, and the fixed-centroid
        # rule for metric='l2')
        self._assign: Optional[str] = None

    def _centroid_df(self, spark) -> DataFrame:
        return _centroid_table(spark, self.centroids)

    def _assigned(self, corpus: DataFrame) -> DataFrame:
        """(neighbor_id, cv, cnorm, cluster) under the FROZEN
        centroid set and the recorded assignment rule — the shared
        kernel of the fixed-centroid fit and incremental append.

        One narrow projection per row: the per-centroid affinities
        are a ``transform`` over a literal centroid array and the
        winning cluster is ``array_position`` of the best rounded
        score (first occurrence == the old ``row_number`` tie-break
        to the lowest cluster index). The previous shape crossJoined
        the corpus against the centroid table and ranked with a
        window — a num_clusters× row blowup through a shuffle+sort
        whose per-pair fold math is identical to this projection's
        (same stable_round(fold) on the same doubles, so the
        assignment — and every hash gate over it — is unchanged).
        ``ensure_min_parallelism`` spreads the interpreted
        higher-order-function math across cores when the scan has
        fewer splits than the cluster (a no-op at scale)."""
        from replay_spark.utils.spark_utils import ensure_min_parallelism

        cents = _cents_expr(self.centroids)
        prepared = ensure_min_parallelism(
            corpus.select(
                F.col(self.id_column),
                _as_double(F.col(self.vector_column)).alias("v"),
                *[F.col(c) for c in self.attribute_columns],
            )
        )
        if self._assign == "cosine":
            score = lambda c: stable_round(  # noqa: E731
                _dot(F.col("v"), c) / (_norm(F.col("v")) * _norm(c)), 6
            )
            best = F.array_max
        elif self._assign == "dot":
            score = lambda c: stable_round(_dot(F.col("v"), c), 6)  # noqa: E731
            best = F.array_max
        else:  # euclidean — KMeans' assignment rule (stable-rounded
            # like the cosine branch so fixed-centroid L2 assignment
            # is engine-reproducible; the q_ivf_ann_l2 gate replays
            # exactly this ranking in SQL)
            score = lambda c: stable_round(  # noqa: E731
                F.aggregate(
                    F.zip_with(
                        "v", c, lambda x, y: (x - y) * (x - y)
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            )
            best = F.array_min
        scores = F.transform(cents, score)
        return (
            prepared.withColumn("_scores", scores)
            .select(
                F.col(self.id_column).alias("neighbor_id"),
                F.col("v").alias("cv"),
                _norm(F.col("v")).alias("cnorm"),
                # coalesce(0): a zero-norm (or null) vector under
                # cosine NULLs every score (divide-by-zero), so
                # array_position returns NULL — the pre-r15
                # row_number path tie-broke such rows to cluster 0;
                # keep that so edge rows never silently vanish from
                # the inverted file
                F.coalesce(
                    (
                        F.array_position(
                            F.col("_scores"), best(F.col("_scores"))
                        )
                        - 1
                    ).cast("int"),
                    F.lit(0),
                )
                .alias("cluster"),
                *[F.col(c) for c in self.attribute_columns],
            )
        )

    def fit(self, corpus: DataFrame, centroids=None) -> "IVFANN":
        """Build the inverted file. With ``centroids`` (a list of
        vectors) the KMeans step is skipped and each corpus vector is
        assigned to its max-cosine centroid (rounded to 6 dp, cluster
        index as tie-break) — a fully deterministic, SQL-reproducible
        quantizer used by the hash-gated contract query
        (``q_ivf_ann_fixed``); production defaults to seeded KMeans.
        The fixed-centroid assignment rule follows the metric:
        max-cosine / max-dot / min-L2 (each deterministic and
        SQL-replayable — the L2 path is the ``q_ivf_ann_l2`` gate)."""
        if centroids is not None:
            self.centroids = [[float(x) for x in c] for c in centroids]
            self._assign = {
                "cosine": "cosine",
                "dot": "dot",
                "l2": "euclidean",
            }[self.metric]
            self._indexed = (
                self._assigned(corpus).repartition("cluster").cache()
            )
            self._indexed.count()
            return self

        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        prepared = corpus.select(
            F.col(self.id_column),
            _as_double(F.col(self.vector_column)).alias("v"),
            *[F.col(c) for c in self.attribute_columns],
        ).withColumn("features", array_to_vector("v"))
        kmeans = KMeans(
            k=self.num_clusters,
            seed=self.seed,
            featuresCol="features",
            maxIter=self.max_iter,
        )
        model = kmeans.fit(prepared)
        self.centroids = [list(c) for c in model.clusterCenters()]
        self._assign = "euclidean"
        self._indexed = (
            model.transform(prepared)
            .select(
                F.col(self.id_column).alias("neighbor_id"),
                F.col("v").alias("cv"),
                _norm(F.col("v")).alias("cnorm"),
                F.col("prediction").alias("cluster"),
                *[F.col(c) for c in self.attribute_columns],
            )
            .repartition("cluster")
            .cache()
        )
        self._indexed.count()
        return self

    def append(self, new_corpus: DataFrame) -> "IVFANN":
        """Incremental index maintenance: assign NEW vectors to the
        frozen centroid set (fit's exact assignment rule) and extend
        the inverted file — no re-train, no re-scan of the existing
        corpus. Under frozen centroids the result is EXACTLY the
        index a full rebuild over old ∪ new would produce (the
        ``q_ann_incremental`` hash gate proves it); after heavy
        drift, re-``fit`` to move the centroids. Eager
        localCheckpoint keeps the plan O(1) across many appends (the
        connected-components lesson: cache alone doubles the lineage
        per round)."""
        if self._indexed is None:
            raise RuntimeError("IVFANN is not fitted")
        combined = (
            self._indexed.unionByName(self._assigned(new_corpus))
            .repartition("cluster")
            .localCheckpoint(eager=True)
        )
        old = self._indexed
        self._indexed = combined
        release(old)
        return self

    def remove(self, ids: DataFrame) -> "IVFANN":
        """Drop vectors by id — the delete half of incremental
        maintenance (one anti-join against the posting relation; the
        first column of ``ids`` is the id). Pairs with ``append``:
        LakeVectorIndex folds a change feed as remove-then-append."""
        if self._indexed is None:
            raise RuntimeError("IVFANN is not fitted")
        col = ids.columns[0]
        combined = self._indexed.join(
            ids.select(F.col(col).alias("neighbor_id")).distinct(),
            on="neighbor_id",
            how="left_anti",
        ).localCheckpoint(eager=True)
        old = self._indexed
        self._indexed = combined
        release(old)
        return self

    def save(self, path: str) -> None:
        """Persist centroids + the inverted file as parquet under
        ``path`` (plus the meta.json params sidecar) — the Spark
        shape of the reference's shared-disk/HDFS index stores."""
        from replay_spark.ann.store import write_meta

        if self._indexed is None:
            raise RuntimeError("IVFANN is not fitted")
        write_meta(
            path,
            type(self).__name__,
            {
                "id_column": self.id_column,
                "vector_column": self.vector_column,
                "num_clusters": self.num_clusters,
                "nprobe": self.nprobe,
                "seed": self.seed,
                "max_iter": self.max_iter,
                "metric": self.metric,
                "attribute_columns": self.attribute_columns,
                "assign": self._assign,
            },
        )
        spark = self._indexed.sparkSession
        self._centroid_df(spark).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(path, "centroids"))
        self._indexed.write.mode("overwrite").parquet(
            os.path.join(path, "indexed")
        )

    @classmethod
    def load(cls, path: str, spark=None) -> "IVFANN":
        from replay_spark.ann.store import read_meta, resolve_spark

        spark = resolve_spark(spark)
        params = dict(read_meta(path)["params"])
        assign = params.pop("assign", None)
        self = cls(**params)
        self._assign = assign
        self.centroids = [
            [float(x) for x in r["centroid"]]
            for r in spark.read.parquet(os.path.join(path, "centroids"))
            .orderBy("cluster")
            .collect()
        ]
        indexed = spark.read.parquet(os.path.join(path, "indexed"))
        if "cnorm" not in indexed.columns:
            # indexes saved before the norm column existed
            indexed = indexed.withColumn("cnorm", _norm(F.col("cv")))
        self._indexed = indexed.repartition("cluster").cache()
        return self

    def search(
        self,
        queries: DataFrame,
        k: int = 10,
        where=None,
        filter_ids: Optional[DataFrame] = None,
    ) -> DataFrame:
        """Top-k per query; ``where`` (SQL string or Column over the
        ``attribute_columns`` carried at fit) and/or ``filter_ids``
        (a one-column frame of admissible neighbor ids) PRE-FILTER
        the inverted file before any distance math — filtered vector
        search with the same probe set, so the result is exactly the
        top-k among admissible candidates in the probed clusters
        (SQL-replayable; a very selective filter empties some probes
        — raise ``nprobe`` to taste, as real vector stores do)."""
        if self._indexed is None:
            raise RuntimeError("IVFANN is not fitted")
        spark = queries.sparkSession
        # centroids as a tiny broadcast table — a join keeps the plan
        # small, vs embedding num_clusters*dim literals per row
        centroids = _centroid_table(spark, self.centroids)
        # probe selection uses the metric's own centroid affinity,
        # rounded so it is reproducible across engines (the
        # hash-gated fixed-centroid queries rank on exactly this
        # value in SQL); stable_round guards the .xxx5
        # decimal-boundary divergence (d25b766)
        probe_expr, _, probe_desc = _score_parts(
            self.metric, F.col("qv"), F.col("centroid")
        )
        probed = (
            queries.select(
                F.col(self.id_column).alias("query_id"),
                _as_double(F.col(self.vector_column)).alias("qv"),
            )
            .crossJoin(F.broadcast(centroids))
            .withColumn("_c_aff", stable_round(probe_expr, 6))
            .withColumn(
                "_c_rank",
                F.row_number().over(
                    Window.partitionBy("query_id").orderBy(
                        F.col("_c_aff").desc()
                        if probe_desc
                        else F.col("_c_aff").asc(),
                        F.col("cluster").asc(),
                    )
                ),
            )
            .filter(F.col("_c_rank") <= self.nprobe)
        )
        if self.metric == "cosine":
            # norms are a per-row invariant: the corpus norm is
            # stored in the inverted file, the query norm computed
            # once per probed query — the per-candidate expression
            # keeps the same doubles (identical fold, identical
            # product) while dropping two 64-element folds per pair
            q = probed.select(
                "query_id",
                "qv",
                _norm(F.col("qv")).alias("qnorm"),
                "cluster",
            )
            expr = _dot(F.col("qv"), F.col("cv")) / (
                F.col("qnorm") * F.col("cnorm")
            )
            out_col, desc = "cosine", True
        else:
            q = probed.select("query_id", "qv", "cluster")
            expr, out_col, desc = _score_parts(
                self.metric, F.col("qv"), F.col("cv")
            )
        indexed = self._indexed
        if where is not None:
            cond = F.expr(where) if isinstance(where, str) else where
            indexed = indexed.filter(cond)
        if filter_ids is not None:
            ids = filter_ids.select(
                F.col(filter_ids.columns[0]).alias("neighbor_id")
            ).distinct()
            indexed = indexed.join(ids, "neighbor_id", "left_semi")
        scored = (
            q.join(indexed, on="cluster")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id",
                "neighbor_id",
                stable_round(expr, 6).alias(out_col),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col(out_col).desc() if desc else F.col(out_col).asc(),
            F.col("neighbor_id").asc(),
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )


class LSHANN:
    """Sign-random-projection bucketed search.

    ``num_planes=None`` (default) auto-scales with corpus size —
    ``ceil(log2(n / target_bucket_size))`` planes — so the in-bucket
    quadratic join stays bounded at any corpus size; a fixed plane
    count degenerates to near-all-pairs once the corpus outgrows
    2^planes buckets. ``num_tables`` independent hyperplane tables
    multi-probe (candidate = collision in ANY table), recovering the
    recall that extra planes would otherwise cost:
    1 - (1 - p^planes)^L for per-plane agreement p = 1 - θ/π.
    """

    def __init__(
        self,
        id_column: str = "vec_id",
        vector_column: str = "embedding",
        dim: int = 64,
        num_planes: Optional[int] = None,
        num_tables: int = 4,
        target_bucket_size: int = 1024,
        seed: int = 42,
    ):
        if num_tables < 1:
            raise ValueError("num_tables must be >= 1")
        if target_bucket_size < 1:
            raise ValueError("target_bucket_size must be >= 1")
        self.id_column = id_column
        self.vector_column = vector_column
        self.dim = dim
        self.num_planes = num_planes
        self.num_tables = num_tables
        self.target_bucket_size = target_bucket_size
        self.seed = seed

    def save(self, path: str) -> None:
        """The hyperplanes are a pure function of (seed, dim, table),
        so the params sidecar IS the index — saved/loaded instances
        bucket identically by construction."""
        from replay_spark.ann.store import write_meta

        write_meta(
            path,
            type(self).__name__,
            {
                "id_column": self.id_column,
                "vector_column": self.vector_column,
                "dim": self.dim,
                "num_planes": self.num_planes,
                "num_tables": self.num_tables,
                "target_bucket_size": self.target_bucket_size,
                "seed": self.seed,
            },
        )

    @classmethod
    def load(cls, path: str, spark=None) -> "LSHANN":
        from replay_spark.ann.store import read_meta

        return cls(**read_meta(path)["params"])

    def _resolve_planes(self, corpus: DataFrame) -> int:
        if self.num_planes is not None:
            return self.num_planes
        n = corpus.count()
        if n <= self.target_bucket_size:
            return 1
        return min(24, math.ceil(math.log2(n / self.target_bucket_size)))

    def _bucket_expr(self, v, table: int, num_planes: int):
        rng = random.Random(self.seed + 7919 * table)
        planes = [
            [rng.gauss(0.0, 1.0) for _ in range(self.dim)]
            for _ in range(num_planes)
        ]
        bucket = None
        for i, plane in enumerate(planes):
            lit_plane = F.array(*[F.lit(p) for p in plane])
            bit = F.shiftleft(
                F.when(_dot(v, lit_plane) >= 0, F.lit(1).cast("long")).otherwise(
                    F.lit(0).cast("long")
                ),
                i,
            )
            bucket = bit if bucket is None else bucket.bitwiseXOR(bit)
        return bucket

    def _with_buckets(self, df: DataFrame, num_planes: int) -> DataFrame:
        """One row per (vector, table): linear fan-out before the
        bucket join."""
        tables = F.array(
            *[
                F.struct(
                    F.lit(t).alias("_table"),
                    self._bucket_expr(
                        F.col(df.columns[1]), t, num_planes
                    ).alias("_bucket"),
                )
                for t in range(self.num_tables)
            ]
        )
        return df.select("*", F.explode(tables).alias("_tb")).select(
            *df.columns, "_tb._table", "_tb._bucket"
        )

    def search(self, queries: DataFrame, corpus: DataFrame, k: int = 10) -> DataFrame:
        num_planes = self._resolve_planes(corpus)
        q = queries.select(
            F.col(self.id_column).alias("query_id"),
            _as_double(F.col(self.vector_column)).alias("qv"),
        )
        c = corpus.select(
            F.col(self.id_column).alias("neighbor_id"),
            _as_double(F.col(self.vector_column)).alias("cv"),
        )
        q = self._with_buckets(q, num_planes)
        c = self._with_buckets(c, num_planes)
        scored = (
            q.join(c, on=["_table", "_bucket"])
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id",
                "neighbor_id",
                (_dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv")))).alias(
                    "cosine"
                ),
            )
            # a (query, neighbor) colliding in several tables appears
            # once per table; dedupe before ranking (deterministic
            # cosine -> plain distinct)
            .distinct()
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id").asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )


class IVFPQANN:
    """IVF-PQ (Jégou et al. 2011, the faiss ``IVFx,PQy`` shape):
    coarse k-means cells prune WHERE to scan, residual product codes
    shrink WHAT is scanned — together the standard billion-vector
    index. A 768-dim float32 vector is ~3 KB; its PQ code at m=16,
    256 centroids is 16 BYTES, so the scanned relation shrinks ~200×
    and the scan becomes integer lookups instead of float dot
    products. Everything scale-relevant is a DataFrame shape:

    * ``fit``: sample ≤ ``train_sample`` vectors to the driver
      (seeded, documented bound — codebooks are model parameters,
      like every KMeans). A corpus that fits the bound is read once,
      by one bounded collect; a larger one is counted and sampled.
      Cosine L2-normalizes the sample (so squared-L2 ADC order ==
      cosine order), dot / l2 keep the RAW vectors. Seeded numpy
      k-means gives the coarse centroids; PQ sub-codebooks are
      trained on RESIDUALS (vector − its cell centroid — the faiss
      construction, much tighter quantization than raw-vector PQ);
      ONE vectorized mapInPandas pass assigns every corpus vector
      its cell and its m-byte residual code. The code relation is
      keyed by ``cell`` and is a lazy local checkpoint: the first job
      that reads it fills it (``load`` reads saved codes the same
      way). The index owns it: a re-``fit`` or an ``append`` releases
      the codes it replaces, so a search frame built before one of
      them must be collected first.
    * ``search``: queries compute their ``nprobe`` nearest cells and
      one m×ksub LUT per probed cell (residual against that cell's
      centroid) in one Arrow pass, then JOIN the code relation ON
      ``cell`` — the inverted-file pruning is literally a keyed join,
      so Spark scans only probed cells' codes. ADC distance stays
      JVM-side (``aggregate(zip_with(codes, lut, element_at))``);
      top ``k·refine`` candidates are then exactly re-ranked against
      the true vectors (a keyed join, k·refine rows per query — the
      standard PQ refine step).

    Training is iterative ⇒ rows-only gate; recall pinned by the
    planted-neighbor test.
    """

    _normalize = staticmethod(_normalize)

    def __init__(
        self,
        dim: int,
        num_cells: int = 16,
        nprobe: int = 4,
        m: int = 8,
        ksub: int = 16,
        iters: int = 10,
        train_sample: int = 100_000,
        refine: int = 4,
        seed: int = 42,
        id_column: str = "vec_id",
        vector_column: str = "embedding",
        metric: str = "cosine",
    ):
        if dim % m != 0:
            raise ValueError(f"m={m} must divide dim={dim}")
        if ksub < 2 or ksub > 256:
            raise ValueError("ksub must be in 2..256")
        if nprobe > num_cells:
            raise ValueError("nprobe must be <= num_cells")
        self.dim = dim
        self.num_cells = num_cells
        self.nprobe = nprobe
        self.m = m
        self.ksub = ksub
        self.iters = iters
        self.train_sample = train_sample
        self.refine = refine
        self.seed = seed
        self.id_column = id_column
        self.vector_column = vector_column
        self.metric = _check_metric(metric)
        self.centroids = None  # (num_cells, dim)
        self.codebooks = None  # (m, ksub, dsub)
        self._codes: Optional[DataFrame] = None
        self._corpus: Optional[DataFrame] = None

    def _kmeans(self, x, k, rng):
        k = min(k, len(x))
        cents = x[rng.choice(len(x), size=k, replace=False)].copy()
        return _lloyd_update(x, cents, self.iters)

    def _estimated_vectors(self, corpus: DataFrame) -> float:
        """The plan's size estimate of the vector column, in vectors
        of ``dim`` elements; reading it runs no job."""
        vecs = corpus.select(self.vector_column)
        # an array type's JVM default size is one element's width
        width = vecs._jdf.schema().apply(0).dataType().defaultSize()
        return plan_bytes(vecs) / (self.dim * width)

    def _train_sample(self, corpus: DataFrame):
        """(corpus size, prepared driver sample) for training.

        A corpus of at most ``train_sample`` vectors is its own
        sample, so one bounded collect of ``train_sample + 1`` rows
        returns the same rows, in the same order, as a count followed
        by ``sample(1.0)``, in one job instead of three. The probe is
        taken only when the plan's size estimate fits that many
        vectors; a larger corpus, or a probe that overflows, pays the
        count and the seeded sample as before."""
        import numpy as np

        vecs = corpus.select(self.vector_column)
        cap = self.train_sample + 1
        sample = None
        if self._estimated_vectors(corpus) <= cap:
            sample = vecs.limit(cap).collect()
            if len(sample) == cap:
                sample = None
        if sample is None:
            n = corpus.count()
            frac = min(1.0, self.train_sample / max(n, 1))
            sample = corpus.sample(fraction=frac, seed=self.seed).select(
                self.vector_column
            ).collect()
        else:
            n = len(sample)
        x = np.array([r[0] for r in sample], dtype=np.float64)
        return n, _prep_fn(self.metric)(x)

    def _train_codebooks(self, resid, rng):
        import numpy as np

        dsub = self.dim // self.m
        return np.stack(
            [
                self._kmeans(resid[:, j * dsub : (j + 1) * dsub], self.ksub, rng)
                for j in range(self.m)
            ]
        )

    def _index(self, corpus: DataFrame, n: int) -> None:
        self._corpus = corpus
        # a lazy local checkpoint, not persist(): the first job that
        # reads the codes computes and stores them inside its own
        # stage, with no separate cache-filling job, and the blocks
        # belong to this index, not to the session's cache manager
        self._own_codes(
            self._encode(corpus, n=n).localCheckpoint(eager=False)
        )

    def _own_codes(self, codes: DataFrame) -> None:
        """Make ``codes`` the code relation and release the one it
        replaces: the index is the only owner of its codes."""
        old, self._codes = self._codes, codes
        release(old)

    def fit(self, corpus: DataFrame) -> "IVFPQANN":
        import numpy as np

        n, x = self._train_sample(corpus)
        rng = np.random.default_rng(self.seed)
        self.centroids = self._kmeans(x, self.num_cells, rng)
        # residual codebooks: train on sample residuals vs own cell
        # (matmul expansion — the broadcast form is an (n, cells, d)
        # temporary, ~650 MB at the sf1 sample size); cell assignment
        # follows the index metric's rule — encode-assign and
        # search-probe use the SAME rule, a mismatch craters recall
        cell = _cell_order_fn(self.metric)(x, self.centroids)[:, 0]
        self.codebooks = self._train_codebooks(x - self.centroids[cell], rng)
        self._index(corpus, n)
        return self

    def _encode(self, df: DataFrame, n: Optional[int] = None) -> DataFrame:
        import numpy as np
        import pandas as pd

        cents, books = self.centroids, self.codebooks
        m, dsub = self.m, self.dim // self.m
        idc, vc = self.id_column, self.vector_column
        prep = _prep_fn(self.metric)
        cell_order = _cell_order_fn(self.metric)

        def enc(batches):
            for pdf in batches:
                x = prep(
                    np.array(list(pdf[vc]), dtype=np.float64).reshape(
                        len(pdf), -1
                    )
                )
                cell = cell_order(x, cents)[:, 0]
                resid = x - cents[cell]
                codes = np.empty((len(pdf), m), dtype=np.int64)
                for j in range(m):
                    sub = resid[:, j * dsub : (j + 1) * dsub]
                    d2j = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(-1)
                    # micro-unit quantized argmin (half-up, +1e-9
                    # guard): the assignment is reproducible in any
                    # engine; integer ties break to the lowest
                    # centroid index on both sides
                    d2i = np.floor((d2j + 1e-9) * 1e6 + 0.5).astype(np.int64)
                    codes[:, j] = d2i.argmin(1)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf[idc].values,
                        "cell": cell,
                        "codes": list(codes),
                    }
                )

        from replay_spark.utils.spark_utils import ensure_min_parallelism

        # rows_per_task sized to the MEASURED encode kernel (~10-20
        # µs/row: argmin over m×ksub integerized distances), not the
        # JPEG-decode default of 256 (ms/row): a 2 000-row gate input
        # is a 20 ms single task, so repartitioning it was pure
        # overhead (the one real r15 PERF regression, q_pq_ann_fixed
        # 0.72 -> 1.05 s); a 20 000-row 10× input still fans out to
        # ~10 meaty tasks, keeping the sf1 win.
        return ensure_min_parallelism(
            df.select(idc, vc), rows_per_task=2048, n=n
        ).mapInPandas(enc, schema="vec_id long, cell int, codes array<bigint>")

    def append(self, new_corpus: DataFrame) -> "IVFPQANN":
        """Incremental maintenance under frozen coarse centroids AND
        frozen residual codebooks: one encode pass over the new
        vectors extends the cell-keyed code relation and the refine
        corpus; existing codes are untouched (faiss adds to a trained
        index the same way). The appended index's search is exactly
        the full-rebuild-with-this-quantizer search. Re-``fit`` when
        drift makes the cells or codebooks stale."""
        if self.codebooks is None or self._codes is None:
            raise ValueError(f"{type(self).__name__} must be fit before append")
        idc, vc = self.id_column, self.vector_column
        # eager, so the combined codes no longer read the old ones
        # when those are released
        self._own_codes(
            self._codes.unionByName(self._encode(new_corpus))
            .localCheckpoint(eager=True)
        )
        self._corpus = self._corpus.select(idc, vc).unionByName(
            new_corpus.select(idc, vc)
        )
        return self

    def save(self, path: str) -> None:
        """Coarse centroids + residual codebooks + cell-keyed codes +
        refine vectors, all parquet under ``path`` (the refine corpus
        is stored because the exact re-rank needs true vectors — the
        faiss IndexRefineFlat construction)."""
        import inspect

        from replay_spark.ann.store import write_meta

        if self.codebooks is None or self._codes is None:
            raise ValueError(f"{type(self).__name__} must be fit before save")
        # the params sidecar holds exactly the constructor's arguments
        write_meta(
            path,
            type(self).__name__,
            {
                p: getattr(self, p)
                for p in inspect.signature(type(self).__init__).parameters
                if p != "self"
            },
        )
        spark = self._codes.sparkSession
        # driver-local control frames via local_df: O(rows) partitions
        # instead of a defaultParallelism-slice Python job under the
        # coalesce(1) (the measured worst case)
        local_df(
            spark,
            [
                (i, [float(x) for x in c])
                for i, c in enumerate(self.centroids)
            ],
            "cell int, centroid array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(path, "centroids")
        )
        books = [
            (j, c, [float(x) for x in self.codebooks[j][c]])
            for j in range(len(self.codebooks))
            for c in range(len(self.codebooks[j]))
        ]
        local_df(
            spark, books, "subspace int, code int, centroid array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(path, "codebooks")
        )
        self._codes.write.mode("overwrite").parquet(
            os.path.join(path, "codes")
        )
        self._corpus.select(self.id_column, self.vector_column).write.mode(
            "overwrite"
        ).parquet(os.path.join(path, "corpus"))

    @classmethod
    def load(cls, path: str, spark=None) -> "IVFPQANN":
        import numpy as np

        from replay_spark.ann.store import read_meta, resolve_spark

        spark = resolve_spark(spark)
        self = cls(**read_meta(path)["params"])
        self.centroids = np.array(
            [
                r["centroid"]
                for r in spark.read.parquet(
                    os.path.join(path, "centroids")
                )
                .orderBy("cell")
                .collect()
            ],
            dtype=np.float64,
        )
        rows = (
            spark.read.parquet(os.path.join(path, "codebooks"))
            .orderBy("subspace", "code")
            .collect()
        )
        m = max(r["subspace"] for r in rows) + 1
        self.codebooks = np.stack(
            [
                np.array(
                    [r["centroid"] for r in rows if r["subspace"] == j],
                    dtype=np.float64,
                )
                for j in range(m)
            ]
        )
        self._own_codes(
            spark.read.parquet(os.path.join(path, "codes")).localCheckpoint(
                eager=False
            )
        )
        self._corpus = spark.read.parquet(os.path.join(path, "corpus"))
        return self

    def search(
        self,
        queries: DataFrame,
        k: int = 10,
        filter_ids: Optional[DataFrame] = None,
    ) -> DataFrame:
        """Exactly the BruteForceANN output shape: (query_id,
        neighbor_id, <score col>, rank) — ADC shortlist over the
        probed cells, exact re-rank under the index metric (cosine /
        dot / l2). ``filter_ids`` (one-column admissible-id frame)
        semi-joins the code relation BEFORE the ADC scan —
        pre-filtered search over the same probe set, so the shortlist
        is drawn entirely from admissible ids."""
        import numpy as np
        import pandas as pd

        if self.codebooks is None:
            raise ValueError(f"{type(self).__name__} must be fit before search")
        cents, books = self.centroids, self.codebooks
        m, dsub, nprobe = self.m, self.dim // self.m, self.nprobe
        idc, vc = self.id_column, self.vector_column
        prep = _prep_fn(self.metric)
        cell_order = _cell_order_fn(self.metric)
        is_dot = self.metric == "dot"

        def luts(batches):
            for pdf in batches:
                x = prep(
                    np.array(list(pdf[vc]), dtype=np.float64).reshape(
                        len(pdf), -1
                    )
                )
                probes = cell_order(x, cents)[:, :nprobe]
                # LUT entries in exact micro-units (bigint): the ADC
                # sum downstream is INTEGER addition — no float
                # summation-order divergence anywhere in the
                # shortlist ranking, in any engine. cosine/l2 entries
                # are per-subspace squared residual distances
                # (minimize); dot entries are per-subspace inner
                # products against the codewords plus a q·c_cell bias
                # (maximize — the faiss METRIC_INNER_PRODUCT ADC).
                if not is_dot:
                    # vectorized over every (query, probed cell) pair:
                    # the subtract-square-sum reduces the same
                    # contiguous dsub axis per (pair, codeword) as a
                    # per-row form, so every double (and thus every
                    # integer LUT entry) is identical
                    p = probes.shape[1]
                    cellv = probes.reshape(-1)
                    rflat = np.repeat(x, p, axis=0) - cents[cellv]
                    per_j = [
                        np.floor(
                            (
                                (
                                    (
                                        rflat[:, None, j * dsub : (j + 1) * dsub]
                                        - books[j][None, :, :]
                                    )
                                    ** 2
                                ).sum(-1)
                                + 1e-9
                            )
                            * 1e6
                            + 0.5
                        ).astype(np.int64)
                        for j in range(m)
                    ]
                    yield pd.DataFrame(
                        {
                            "query_id": np.repeat(pdf[idc].values, p),
                            "cell": cellv.astype("int32"),
                            "lut": np.stack(per_j, axis=1).tolist(),
                            "bias": np.zeros(len(cellv), dtype=np.int64),
                        }
                    )
                    continue
                # dot stays per-row: BLAS gemv/gemm call shapes round
                # differently on this libm
                qids, cells, tables, biases = [], [], [], []
                for qi, row in enumerate(x):
                    lut = [
                        np.floor(
                            (books[j] @ row[j * dsub : (j + 1) * dsub] + 1e-9)
                            * 1e6
                            + 0.5
                        ).astype(np.int64).tolist()
                        for j in range(m)
                    ]
                    for cell in probes[qi]:
                        qids.append(pdf[idc].values[qi])
                        cells.append(int(cell))
                        tables.append(lut)
                        biases.append(
                            int(np.floor((row @ cents[cell] + 1e-9) * 1e6 + 0.5))
                        )
                yield pd.DataFrame(
                    {
                        "query_id": qids,
                        "cell": cells,
                        "lut": tables,
                        "bias": biases,
                    }
                )

        q = queries.select(idc, vc).mapInPandas(
            luts,
            schema="query_id long, cell int, "
            "lut array<array<bigint>>, bias long",
        )
        codes = self._codes
        if filter_ids is not None:
            ids = filter_ids.select(
                F.col(filter_ids.columns[0]).alias(idc)
            ).distinct()
            codes = codes.join(ids, idc, "left_semi")
        adc = (
            # keyed join on cell == the inverted-file pruning: only
            # probed cells' code lists are scanned (AQE broadcasts
            # the query/LUT side when small)
            F.broadcast(q)
            .join(codes, on="cell")
            .filter(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                F.aggregate(
                    F.zip_with(
                        "codes",
                        "lut",
                        lambda c, row: F.element_at(row, (c + 1).cast("int")),
                    ),
                    F.col("bias"),
                    lambda acc, x: acc + x,
                ).alias("adc_dist"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("adc_dist").desc() if is_dot else F.col("adc_dist").asc(),
            F.col("neighbor_id").asc(),
        )
        shortlist = (
            adc.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= k * self.refine)
            .select("query_id", "neighbor_id")
        )
        # exact re-rank: join true vectors for shortlist rows only
        qv = queries.select(
            F.col(idc).alias("query_id"), _as_double(F.col(vc)).alias("qv")
        )
        cv = self._corpus.select(
            F.col(idc).alias("neighbor_id"), _as_double(F.col(vc)).alias("cv")
        )
        expr, out_col, desc = _score_parts(
            self.metric, F.col("qv"), F.col("cv")
        )
        rer = (
            shortlist.join(F.broadcast(qv), on="query_id")
            .join(cv, on="neighbor_id")
            .select(
                "query_id",
                "neighbor_id",
                # rank on the stable-rounded exact score so the
                # final cut is reproducible across engines
                stable_round(expr, 6).alias(out_col),
            )
        )
        w2 = Window.partitionBy("query_id").orderBy(
            F.col(out_col).desc() if desc else F.col(out_col).asc(),
            F.col("neighbor_id").asc(),
        )
        return (
            rer.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
        )


class PQANN(IVFPQANN):
    """Product-quantization ANN (Jégou et al. 2011): IVF-PQ with the
    identity coarse quantizer — one cell whose centroid is the
    origin, so every residual is the vector itself, every probe
    scans the whole code relation and the dot bias ``q·0`` is 0.
    Encode, append, save/load and search are ``IVFPQANN``'s;
    only training differs: no coarse draw, and ``codebooks`` may be
    given instead of trained.
    """

    def __init__(
        self,
        dim: int,
        m: int = 8,
        ksub: int = 16,
        iters: int = 10,
        train_sample: int = 100_000,
        refine: int = 4,
        seed: int = 42,
        id_column: str = "vec_id",
        vector_column: str = "embedding",
        metric: str = "cosine",
    ):
        super().__init__(
            dim,
            num_cells=1,
            nprobe=1,
            m=m,
            ksub=ksub,
            iters=iters,
            train_sample=train_sample,
            refine=refine,
            seed=seed,
            id_column=id_column,
            vector_column=vector_column,
            metric=metric,
        )

    def fit(self, corpus: DataFrame, codebooks=None) -> "PQANN":
        """Train (seeded k-means per subspace on a bounded driver
        sample) or, with ``codebooks`` (array-like ``(m, ksub,
        dsub)``), skip training and use the given sub-centroids
        directly — a fully deterministic quantizer, SQL-reproducible
        end to end; the hash-gated contract query
        (``q_pq_ann_fixed``) uses it the way ``q_ivf_ann_fixed`` uses
        fixed coarse centroids."""
        import numpy as np

        if codebooks is not None:
            books = np.asarray(codebooks, dtype=np.float64)
            dsub = self.dim // self.m
            if books.ndim != 3 or books.shape[0] != self.m or books.shape[2] != dsub:
                raise ValueError(
                    f"codebooks shape {books.shape} != ({self.m}, ksub, {dsub})"
                )
            self.codebooks = books
            # the encode's partitioning needs only a close row count,
            # so the estimate stands in for a count job
            n = int(self._estimated_vectors(corpus))
        else:
            n, x = self._train_sample(corpus)
            self.codebooks = self._train_codebooks(
                x, np.random.default_rng(self.seed)
            )
        self.centroids = np.zeros((1, self.dim))
        self._index(corpus, n)
        return self
