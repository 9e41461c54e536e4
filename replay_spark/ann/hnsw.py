"""HNSW ANN — pure-numpy graph, driver-built, executor-searched.

Closes the reference's hnswlib/nmslib tier with no native library:
the reference builds its ANN index ON THE DRIVER from collected item
vectors (``/root/reference/replay/models/extensions/ann/
index_builders/driver_hnswlib_index_builder.py:17`` collects factors
and feeds ``hnswlib.Index.add_items``), so a driver-bounded build is
exact parity — the same ``max_elements`` bound, the same seeded
level draws, the same M / ef_construction / ef_search knobs.

* ``fit`` collects the (bounded) corpus to the driver and builds the
  multi-layer navigable-small-world graph of Malkov & Yashunin 2016:
  geometric level draws (``mL = 1/ln(M)``), greedy descent through
  upper layers, ``ef_construction``-beam search per insert layer,
  top-M neighbour selection with bidirectional links pruned to
  ``M`` (``2M`` at layer 0). Distances are cosine via dot products
  over L2-normalized vectors.
* ``search`` ships the finished graph to executors via closure
  broadcast and walks it per query batch inside ``mapInPandas`` —
  queries never collect, and a 1000-executor cluster searches its
  partitions independently. Output shape matches every other ANN
  class: ``(query_id, neighbor_id, cosine, rank)`` with the
  stable-rounded cosine and id tie-break.

Construction is insertion-order- and seed-deterministic but
graph-walk-based ⇒ rows-only contract gate (``q_hnsw_ann``); recall
is pinned by the planted-neighbor test against BruteForceANN.
"""

from __future__ import annotations

import math
from typing import Optional

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from replay_spark.utils.spark_utils import local_df, observed_metrics, stable_round

__all__ = ["HNSWANN"]


class HNSWANN:
    def __init__(
        self,
        M: int = 16,
        ef_construction: int = 100,
        ef_search: int = 64,
        max_elements: int = 1_000_000,
        seed: int = 42,
        id_column: str = "vec_id",
        vector_column: str = "embedding",
        metric: str = "cosine",
        exact_filter_threshold: int = 50_000,
    ):
        from replay_spark.ann.search import _check_metric

        if M < 2:
            raise ValueError("M must be >= 2")
        if ef_construction < 1 or ef_search < 1:
            raise ValueError("ef values must be >= 1")
        self.M = M
        self.ef_construction = ef_construction
        self.ef_search = ef_search
        self.max_elements = max_elements
        self.seed = seed
        self.id_column = id_column
        self.vector_column = vector_column
        self.metric = _check_metric(metric)
        # filtered search: admissible sets at or below this size are
        # answered EXACTLY (vectorized scan of just those vectors)
        # instead of post-filtering an oversampled walk
        self.exact_filter_threshold = int(exact_filter_threshold)
        self._ids: Optional[np.ndarray] = None
        self._vecs: Optional[np.ndarray] = None
        self._links: Optional[list] = None  # per node: list per level
        self._entry: int = -1
        self._max_level: int = -1
        # row-view cache for the hot loops (see _d_to); derived, never
        # pickled — rebuilt lazily wherever the index lands
        self._rows: Optional[list] = None
        self._rows_base: Optional[np.ndarray] = None
        # visited marks for _search_layer, reused across calls: a
        # node is visited in the current call iff its mark equals
        # _visit_gen; derived, never pickled
        self._marks: Optional[list] = None
        self._visit_gen: int = 0

    def __getstate__(self):
        state = dict(self.__dict__)
        state["_rows"] = None
        state["_rows_base"] = None
        state["_marks"] = None
        state["_visit_gen"] = 0
        return state

    # -- graph construction (driver, numpy) -------------------------------

    @staticmethod
    def _normalize(x: np.ndarray) -> np.ndarray:
        n = np.linalg.norm(x, axis=1, keepdims=True)
        n[n == 0] = 1.0
        return x / n

    def _prep(self, x: np.ndarray) -> np.ndarray:
        return self._normalize(x) if self.metric == "cosine" else x

    def _d(self, a: np.ndarray, b: np.ndarray) -> float:
        """Graph distance under the index metric (smaller = closer):
        cosine -> 1 - dot (normalized vectors), dot -> -dot (the
        hnswlib 'ip' space), l2 -> squared L2."""
        if self.metric == "l2":
            diff = a - b
            return float(diff @ diff)
        d = float(a @ b)
        return -d if self.metric == "dot" else 1.0 - d

    def _d_to(self, q: np.ndarray):
        """``node index -> distance to q`` closure for the build/walk
        hot loops — the same per-pair ``ddot`` arithmetic as ``_d``
        (NOT a batched matrix-vector product: gemv rows and ddot
        round differently, and the graph must not depend on call
        shape), minus the per-call method dispatch and metric
        branches."""
        # list-of-row-views + a hoisted np.dot: the same ddot call on
        # the same operands (bit-identical results), at ~60% of the
        # per-call cost of `self._vecs[i] @ q` (2-D fancy indexing and
        # __matmul__ dispatch are the overhead, not the flops) — the
        # build makes ~550 of these calls per inserted vector
        if (
            getattr(self, "_rows", None) is None
            or self._rows_base is not self._vecs
        ):
            self._rows = list(self._vecs)
            self._rows_base = self._vecs
        rows = self._rows
        dot = np.dot
        if self.metric == "l2":
            def dist(i):
                diff = rows[i] - q
                return float(dot(diff, diff))
        elif self.metric == "dot":
            def dist(i):
                return -float(dot(rows[i], q))
        else:
            def dist(i):
                return 1.0 - float(dot(rows[i], q))
        return dist

    def _search_layer(self, q: np.ndarray, entry: int, ef: int, level: int):
        """Beam search on one layer: returns [(dist, node)] ascending,
        at most ef entries. dist = 1 - cosine (vectors normalized)."""
        from heapq import heappop, heappush

        links = self._links
        dist = self._d_to(q)
        d0 = dist(entry)
        # node ids are dense 0..n-1: a per-index mark list beats a
        # hash set in this loop (no hashing, no resize), and bumping
        # the generation clears it in O(1) — the call costs
        # O(visited), not an O(index) allocation
        marks = self._marks
        if marks is None:
            marks = self._marks = [0] * len(links)
        elif len(marks) < len(links):
            marks.extend([0] * (len(links) - len(marks)))
        self._visit_gen += 1
        gen = self._visit_gen
        marks[entry] = gen
        cand = [(d0, entry)]  # min-heap by dist
        best = [(-d0, entry)]  # max-heap (neg) of current top-ef
        while cand:
            d, node = heappop(cand)
            if len(best) >= ef and d > -best[0][0]:
                break
            for nb in links[node][level]:
                if marks[nb] == gen:
                    continue
                marks[nb] = gen
                dn = dist(nb)
                if len(best) < ef or dn < -best[0][0]:
                    heappush(cand, (dn, nb))
                    heappush(best, (-dn, nb))
                    if len(best) > ef:
                        heappop(best)
        return sorted((-nd, node) for nd, node in best)

    def _insert(self, i: int, level: int) -> None:
        vecs, links = self._vecs, self._links
        q = vecs[i]
        if self._entry < 0:
            self._entry = i
            self._max_level = level
            return
        ep = self._entry
        # greedy descent through layers above the node's level
        for lv in range(self._max_level, level, -1):
            ep = self._search_layer(q, ep, 1, lv)[0][1]
        for lv in range(min(level, self._max_level), -1, -1):
            found = self._search_layer(q, ep, self.ef_construction, lv)
            cap = self.M if lv > 0 else 2 * self.M
            neigh = [n for _, n in found[: self.M]]
            links[i][lv] = list(neigh)
            for n in neigh:
                lst = links[n][lv]
                lst.append(i)
                if len(lst) > cap:
                    # prune to the cap closest (deterministic: dist
                    # then node index; same per-pair ddot as _d)
                    dist_n = self._d_to(vecs[n])
                    dists = sorted((dist_n(m), m) for m in lst)
                    links[n][lv] = [m for _, m in dists[:cap]]
            ep = found[0][1]
        if level > self._max_level:
            self._max_level = level
            self._entry = i

    def _collect_sorted(self, df: DataFrame, budget: int) -> list:
        """(id, vector) rows of ``df`` in id order, at most
        ``budget + 1`` of them. ``orderBy`` under a ``limit`` plans as
        a per-partition top-k whose partial results are merged and
        sorted on the driver: one job over a plain scan, no range
        shuffle, and the collect stays bounded whatever the corpus
        size."""
        return (
            df.select(self.id_column, self.vector_column)
            .orderBy(self.id_column)
            .limit(budget + 1)
            .collect()
        )

    def fit(self, corpus: DataFrame) -> "HNSWANN":
        """Build the graph on the driver from one bounded collect.

        At most ``max_elements + 1`` rows reach the driver; one row
        over the bound raises instead of counting the corpus first.
        Vectors are inserted in id order, so the graph depends on the
        corpus and the seed only, not on how it is partitioned."""
        rows = self._collect_sorted(corpus, self.max_elements)
        if len(rows) > self.max_elements:
            raise ValueError(
                f"corpus has more than max_elements={self.max_elements} "
                "vectors: HNSW is a driver-built index "
                "(reference parity — hnswlib builds on the driver "
                "too); raise the bound deliberately or use the "
                "IVF/PQ tiers for corpora beyond driver memory"
            )
        self._ids = np.array([r[0] for r in rows], dtype=np.int64)
        self._vecs = self._prep(
            np.array([r[1] for r in rows], dtype=np.float64)
        )
        m_l = 1.0 / math.log(self.M)
        rng = np.random.default_rng(self.seed)
        levels = np.floor(
            -np.log(rng.uniform(1e-12, 1.0, size=len(rows))) * m_l
        ).astype(int)
        self._links = [
            [[] for _ in range(levels[i] + 1)] for i in range(len(rows))
        ]
        self._entry = -1
        self._max_level = -1
        for i in range(len(rows)):
            self._insert(i, int(levels[i]))
        return self

    def append(self, new_corpus: DataFrame) -> "HNSWANN":
        """Incremental maintenance: insert NEW vectors into the
        existing graph with the standard HNSW insert procedure —
        exactly what hnswlib's ``add_items`` does to a built index
        (the reference appends to its driver-built index the same
        way). Level draws come from a generator seeded by
        ``seed + current_size`` so repeated appends stay
        deterministic; the ``max_elements`` driver bound applies to
        the combined size."""
        if self._vecs is None:
            raise ValueError("HNSWANN must be fit before append")
        n0 = len(self._ids)
        rows = self._collect_sorted(new_corpus, max(0, self.max_elements - n0))
        if n0 + len(rows) > self.max_elements:
            raise ValueError(
                f"append would grow the index past "
                f"max_elements={self.max_elements} vectors"
            )
        if not rows:
            return self
        self._ids = np.concatenate(
            [self._ids, np.array([r[0] for r in rows], dtype=np.int64)]
        )
        self._vecs = np.vstack(
            [
                self._vecs,
                self._prep(
                    np.array([r[1] for r in rows], dtype=np.float64)
                ),
            ]
        )
        m_l = 1.0 / math.log(self.M)
        rng = np.random.default_rng(self.seed + n0)
        levels = np.floor(
            -np.log(rng.uniform(1e-12, 1.0, size=len(rows))) * m_l
        ).astype(int)
        self._links.extend(
            [[] for _ in range(levels[i] + 1)] for i in range(len(rows))
        )
        for i in range(len(rows)):
            self._insert(n0 + i, int(levels[i]))
        return self

    # -- persistence (reference index-store parity, parquet-native) --------

    def save(self, path: str, spark=None) -> None:
        """Vectors and adjacency as parquet (one row per node resp.
        per (node, level) — EMPTY link lists included, they encode
        the node's level count), entry point + max level in the
        params sidecar. A later session loads the finished graph
        instead of re-running the O(n·ef) build."""
        import os

        from replay_spark.ann.store import resolve_spark, write_meta

        if self._vecs is None:
            raise ValueError("HNSWANN must be fit before save")
        write_meta(
            path,
            type(self).__name__,
            {
                "M": self.M,
                "ef_construction": self.ef_construction,
                "ef_search": self.ef_search,
                "max_elements": self.max_elements,
                "seed": self.seed,
                "id_column": self.id_column,
                "vector_column": self.vector_column,
                "metric": self.metric,
                "entry": self._entry,
                "max_level": self._max_level,
            },
        )
        spark = resolve_spark(spark)
        vec_rows = [
            (i, int(self._ids[i]), [float(x) for x in self._vecs[i]])
            for i in range(len(self._ids))
        ]
        # driver-local frames via local_df: O(rows) partitions instead
        # of defaultParallelism Python slices per write
        local_df(
            spark, vec_rows, "node int, ext_id long, vec array<double>"
        ).write.mode("overwrite").parquet(os.path.join(path, "vectors"))
        link_rows = [
            (i, lv, [int(n) for n in self._links[i][lv]])
            for i in range(len(self._links))
            for lv in range(len(self._links[i]))
        ]
        local_df(
            spark, link_rows, "node int, level int, neighbors array<int>"
        ).write.mode("overwrite").parquet(os.path.join(path, "graph"))

    @classmethod
    def load(cls, path: str, spark=None) -> "HNSWANN":
        import os

        from replay_spark.ann.store import read_meta, resolve_spark

        spark = resolve_spark(spark)
        params = dict(read_meta(path)["params"])
        entry = params.pop("entry")
        max_level = params.pop("max_level")
        self = cls(**params)
        vec_rows = (
            spark.read.parquet(os.path.join(path, "vectors"))
            .orderBy("node")
            .collect()
        )
        self._ids = np.array([r["ext_id"] for r in vec_rows], dtype=np.int64)
        self._vecs = np.array(
            [r["vec"] for r in vec_rows], dtype=np.float64
        )
        self._links = [[] for _ in range(len(vec_rows))]
        for r in (
            spark.read.parquet(os.path.join(path, "graph"))
            .orderBy("node", "level")
            .collect()
        ):
            node_links = self._links[r["node"]]
            while len(node_links) <= r["level"]:
                node_links.append([])
            node_links[r["level"]] = list(r["neighbors"])
        self._entry = entry
        self._max_level = max_level
        return self

    # -- distributed search ------------------------------------------------

    def _knn(self, q: np.ndarray, k: int):
        ep = self._entry
        for lv in range(self._max_level, 0, -1):
            ep = self._search_layer(q, ep, 1, lv)[0][1]
        found = self._search_layer(q, ep, max(self.ef_search, k), 0)
        return found[:k]

    def search(
        self,
        queries: DataFrame,
        k: int = 10,
        filter_ids: Optional[DataFrame] = None,
        filter_oversample: int = 4,
        max_widen_retries: int = 3,
    ) -> DataFrame:
        """(query_id, neighbor_id, cosine, rank) — the graph walk runs
        executor-side over Arrow batches; the index rides the closure
        broadcast. The walk emits one row per query row holding its
        hits, and each row is ranked in place (rounded score, then
        neighbour id) by array expressions: no window and no exchange.
        A query id that occurs in several rows is ranked once per row.

        ``filter_ids`` (one-column admissible-id frame) filters in
        two regimes, the strategy real vector stores use:

        * **selective filter** (admissible set <=
          ``exact_filter_threshold`` ids): EXACT search over just
          the admissible vectors, vectorized inside the same Arrow
          walk — a graph walk cannot pre-prune without breaking
          connectivity, and post-filtering a selective walk
          underfills, so scanning the (small) admissible set
          directly is both exact and cheaper. Always returns k when
          >= k admissible vectors exist.
        * **broad filter**: the walk over-fetches
          ``k * filter_oversample`` candidates and POST-filters;
          queries that come up SHORT of k are automatically
          re-walked at doubled oversample, up to
          ``max_widen_retries`` times — each retry re-walks ONLY
          the underfilled queries. The post-filter explodes the
          hits, semi-joins them to the admissible ids and regroups
          them by query id before the same in-row ranking; a query
          is filled when its ranked array holds k hits. Each attempt's
          checkpoint counts the queries it walked and filled as
          observed metrics, so the common fully-filled case pays one
          checkpoint and no probe of the queries still pending."""
        import pandas as pd

        if self._vecs is None:
            raise ValueError("HNSWANN must be fit before search")
        idc, vc = self.id_column, self.vector_column
        index = self
        metric = self.metric
        out_col = {"cosine": "cosine", "dot": "score", "l2": "distance"}[
            metric
        ]
        desc = metric != "l2"

        def to_score(dists: np.ndarray) -> np.ndarray:
            # invert the graph distance back to the metric's reported
            # score
            if metric == "cosine":
                return 1.0 - dists
            return -dists if metric == "dot" else dists

        def hits_frame(qids, nids: list, dists: list):
            """One row per query: its neighbour ids and scores as two
            aligned arrays."""
            return pd.DataFrame(
                {
                    "query_id": pd.Series(
                        [int(q) for q in qids], dtype="int64"
                    ),
                    "neighbor_id": pd.Series(nids, dtype=object),
                    "score_raw": pd.Series(
                        [to_score(d) for d in dists], dtype=object
                    ),
                }
            )

        def make_walk(kk: int):
            def walk(batches):
                for pdf in batches:
                    x = index._prep(
                        np.array(
                            list(pdf[vc]), dtype=np.float64
                        ).reshape(len(pdf), -1)
                    )
                    nids, dists = [], []
                    for qid, q in zip(pdf[idc], x):
                        found = [
                            (int(index._ids[node]), dist)
                            for dist, node in index._knn(q, kk)
                        ]
                        found = [(n, d) for n, d in found if n != int(qid)]
                        nids.append(
                            np.array([n for n, _ in found], dtype=np.int64)
                        )
                        dists.append(
                            np.array([d for _, d in found], dtype=np.float64)
                        )
                    yield hits_frame(pdf[idc], nids, dists)

            return walk

        ids_rel = None
        exact_nodes = None
        if filter_ids is not None:
            ids_rel = filter_ids.select(
                F.col(filter_ids.columns[0]).alias("neighbor_id")
            ).distinct()
            # one bounded collect sizes the admissible set and, when it
            # is selective, fetches it
            adm = ids_rel.limit(self.exact_filter_threshold + 1).collect()
            if len(adm) <= self.exact_filter_threshold:
                adm = np.array([r[0] for r in adm], dtype=np.int64)
                exact_nodes = np.nonzero(np.isin(self._ids, adm))[0]

        def make_exact(kk: int):
            sub = index._vecs[exact_nodes]
            sub_ids = index._ids[exact_nodes]

            def exact(batches):
                for pdf in batches:
                    x = index._prep(
                        np.array(
                            list(pdf[vc]), dtype=np.float64
                        ).reshape(len(pdf), -1)
                    )
                    nids, dists = [], []
                    for qid, q in zip(pdf[idc], x):
                        if metric == "l2":
                            diff = sub - q
                            d = np.einsum("ij,ij->i", diff, diff)
                        else:
                            dots = sub @ q
                            d = -dots if metric == "dot" else 1.0 - dots
                        # ties break on id so the kk cut is stable
                        order = np.lexsort((sub_ids, d))[:kk]
                        order = order[sub_ids[order] != int(qid)]
                        nids.append(sub_ids[order])
                        dists.append(d[order])
                    yield hits_frame(pdf[idc], nids, dists)

            return exact

        def ranked(hits: Column) -> Column:
            """A row's k best hits, best first: the rounded score (desc
            for cosine and dot, with nulls last; asc for l2), then the
            neighbour id asc. One sort inside the row, no window."""

            def entry(x):
                # the Arrow conversion turns a NaN score into null; a
                # descending order puts nulls last, an ascending one
                # first, as Spark's default null orderings do
                score = stable_round(x["score_raw"], 6)
                keys = [score] if not desc else [score.isNull(), -score]
                return F.struct(
                    *[key.alias(f"_k{i}") for i, key in enumerate(keys)],
                    x["neighbor_id"].alias("neighbor_id"),
                    score.alias(out_col),
                )

            return F.slice(F.sort_array(F.transform(hits, entry)), 1, k)

        def topk(
            qdf: DataFrame, kk: int, exact: bool = False
        ) -> DataFrame:
            """(query_id, _top): each query row with its ranked hits."""
            raw = qdf.select(idc, vc).mapInPandas(
                make_exact(kk) if exact else make_walk(kk),
                schema="query_id long, neighbor_id array<long>, "
                "score_raw array<double>",
            )
            hits = F.arrays_zip("neighbor_id", "score_raw")
            if ids_rel is not None and not exact:
                # the post-filter works on single hits; regroup the
                # survivors by query before ranking them
                raw = (
                    raw.select("query_id", F.inline(hits))
                    .join(ids_rel, "neighbor_id", "left_semi")
                    .groupBy("query_id")
                    .agg(
                        F.collect_list(
                            F.struct("neighbor_id", "score_raw")
                        ).alias("_hits")
                    )
                )
                hits = F.col("_hits")
            return raw.select("query_id", ranked(hits).alias("_top"))

        def rows(top: DataFrame) -> DataFrame:
            return top.select(
                "query_id", F.posexplode("_top").alias("_pos", "_hit")
            ).select(
                "query_id",
                "_hit.neighbor_id",
                f"_hit.{out_col}",
                (F.col("_pos") + 1).alias("rank"),
            )

        # over-fetch one so a query that finds itself still returns k
        # (times the oversample when a post-filter will drop rows)
        if filter_ids is None:
            return rows(topk(queries, k + 1))
        if exact_nodes is not None:
            return rows(topk(queries, k + 1, exact=True))
        kk = k * max(1, int(filter_oversample)) + 1
        parts = []
        pending = queries
        for attempt in range(max_widen_retries + 1):
            # localCheckpoint, not cache(): each attempt's walk is
            # read twice (the filled split + the final union), but the
            # returned frame is lazy, so an explicit unpersist here
            # would force a recompute downstream and a cache() entry
            # would pin executor storage FOREVER (CacheManager entries
            # outlive the Python refs). Checkpoint blocks are released
            # by the ContextCleaner once the result is dropped, so
            # repeated filtered searches in one session don't
            # accumulate storage.
            #
            # The checkpoint carries the attempt's sizes as named
            # observed metrics (not an ``Observation``, see
            # ``spark_utils.observed_metrics``): the query rows walked and
            # the filled ones. A query whose hits all fail the filter
            # leaves no row, so the walked count is taken before the
            # post-filter; when it equals the filled count nothing is
            # left pending and no probe job runs.
            walked = pending.observe(
                "hnsw_walked", F.count(F.lit(1)).alias("rows")
            )
            observed = topk(walked, kk).observe(
                "hnsw_filled",
                F.count(F.when(F.size("_top") >= k, 1)).alias("rows"),
            )
            cur = observed.localCheckpoint(eager=True)
            if attempt == max_widen_retries:
                parts.append(cur)  # retry budget spent: keep best
                break
            filled = cur.filter(F.size("_top") >= k)
            parts.append(filled)
            seen = observed_metrics(observed)
            if seen.get("hnsw_walked") == seen.get("hnsw_filled"):
                break
            pending = pending.join(
                filled.select(F.col("query_id").alias(idc)),
                idc,
                "left_anti",
            )
            kk = (kk - 1) * 2 + 1  # doubled oversample re-walk
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return rows(out)
