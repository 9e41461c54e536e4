"""Graph tier: first-class connected components on edge DataFrames.

Connected components is the workhorse behind every clustering step in
a dedup pipeline (near-dup groups, URL mirrors, entity resolution),
but it is useful far beyond dedup — so the engine that
:class:`replay_spark.preprocessing.dedup.NearDupClusters` proved
hash-correct (driver union-find below ``driver_threshold`` edges,
distributed min-label propagation above it, one observed
``spark_utils.fixpoint`` round per hop — O(graph diameter) keyed-join
rounds, never a collect of an unbounded edge set) is exposed here
under its own name, with the graph-standard ``src``/``dst`` columns.

PageRank lives in :class:`replay_spark.web.LinkGraphRank` (the crawl
tier grew it first); re-exported here for discoverability.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from replay_spark.preprocessing.dedup import NearDupClusters
from replay_spark.utils.spark_utils import fixpoint, observed_rows, release
from replay_spark.web import LinkGraphRank  # noqa: F401  (re-export)

__all__ = [
    "ConnectedComponents",
    "KCoreDecomposition",
    "LinkGraphRank",
    "TriangleCounter",
]


class ConnectedComponents:
    """(node, component) labeling of an undirected edge list;
    ``component`` is the smallest node id in the group.

    Parameters mirror the proven engine: ``driver_threshold`` edges
    below which a driver union-find answers in one pass (pair sets
    are tiny after upstream pruning), ``max_iterations`` bounding the
    distributed min-label propagation above it.
    """

    def __init__(
        self,
        max_iterations: int = 20,
        driver_threshold: int = 5_000_000,
        jump_after_rounds="auto",
    ):
        self._engine = NearDupClusters(
            max_iterations=max_iterations,
            driver_threshold=driver_threshold,
            jump_after_rounds=jump_after_rounds,
        )

    def components(
        self, edges: DataFrame, src: str = "src", dst: str = "dst"
    ) -> DataFrame:
        """Label every node appearing in ``edges``. Isolated nodes
        (absent from the edge list) are their own components by
        definition — union them in as self-loops if they must appear
        in the output."""
        return self._engine.components(edges, id_a=src, id_b=dst)


def _canonical(edges: DataFrame, s: str, d: str) -> DataFrame:
    """Each undirected edge once, as ``(a, b)`` with ``a < b``."""
    return (
        edges.select(F.least(s, d).alias("a"), F.greatest(s, d).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


class TriangleCounter:
    """Per-node and global triangle counts on an undirected edge
    list — the clustering-coefficient / spam-farm / community
    signal, computed the scale-correct way.

    The naive three-way self-join enumerates every triangle six
    times and explodes on high-degree hubs. The standard fix
    (Suri & Vassilvitskii's MR algorithm, also what GraphX does):
    orient every edge from the lower-(degree, id) endpoint to the
    higher one. The oriented graph is acyclic, each triangle has
    exactly ONE wedge at its smallest vertex, and a vertex's
    oriented out-degree is bounded by O(sqrt(edges)) — so the wedge
    join (oriented ⋈ oriented on the wedge pivot, then a semi-join
    against the edge set) touches each triangle once and hub keys
    never blow up. Three shuffles total: degree agg, wedge join,
    closure join. The canonical edge set and the triangle list are
    referenced from several plan branches, so both are persisted
    once inside the computation (the q_llm_e2e lesson: an
    unpersisted shared subtree re-executes per reference — measured
    70 redundant scans here before the persist).
    """

    def __init__(
        self,
        src_column: str = "src",
        dst_column: str = "dst",
    ):
        self.src_column = src_column
        self.dst_column = dst_column

    def triangles(self, edges: DataFrame) -> DataFrame:
        """One row per triangle: (x, y, z) with x < y < z."""
        und = _canonical(edges, self.src_column, self.dst_column).persist()
        return self._triangles_from(und)

    def _triangles_from(self, und: DataFrame) -> DataFrame:
        """Triangle enumeration over an already-persisted canonical
        edge set (``und`` is referenced four times below)."""
        deg = (
            und.select(F.col("a").alias("node"))
            .unionAll(und.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        # orient each edge toward the higher (degree, id) endpoint
        e = (
            und.join(deg.withColumnRenamed("node", "a"), "a")
            .withColumnRenamed("deg", "deg_a")
            .join(
                deg.withColumnRenamed("node", "b").withColumnRenamed(
                    "deg", "deg_b"
                ),
                "b",
            )
        )
        oriented = e.select(
            F.when(
                (F.col("deg_a") < F.col("deg_b"))
                | (
                    (F.col("deg_a") == F.col("deg_b"))
                    & (F.col("a") < F.col("b"))
                ),
                F.struct(F.col("a").alias("lo"), F.col("b").alias("hi")),
            )
            .otherwise(
                F.struct(F.col("b").alias("lo"), F.col("a").alias("hi"))
            )
            .alias("o")
        ).select("o.lo", "o.hi")
        # wedges at the pivot (low endpoint of both oriented edges)
        w1 = oriented.select(
            F.col("lo").alias("pivot"), F.col("hi").alias("u")
        )
        w2 = oriented.select(
            F.col("lo").alias("pivot"), F.col("hi").alias("v")
        )
        wedges = w1.join(w2, "pivot").filter(F.col("u") < F.col("v"))
        closed = wedges.join(
            und,
            (F.col("u") == F.col("a")) & (F.col("v") == F.col("b")),
            "left_semi",
        )
        return closed.select(
            F.least("pivot", "u").alias("x"),
            F.when(
                (F.col("pivot") > F.col("u")) & (F.col("pivot") < F.col("v")),
                F.col("pivot"),
            )
            .when(
                (F.col("u") > F.col("pivot")) & (F.col("u") < F.col("v")),
                F.col("u"),
            )
            .otherwise(F.col("v"))
            .alias("y"),
            F.greatest("pivot", "v").alias("z"),
        )

    def transform(self, edges: DataFrame) -> DataFrame:
        """(node, n_triangles) for every node that appears in an
        edge; nodes in no triangle report 0."""
        und = _canonical(edges, self.src_column, self.dst_column).persist()
        tri = self._triangles_from(und).persist()
        per_node = (
            tri.select(F.col("x").alias("node"))
            .unionAll(tri.select(F.col("y").alias("node")))
            .unionAll(tri.select(F.col("z").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("n_triangles"))
        )
        nodes = (
            und.select(F.col("a").alias("node"))
            .unionAll(und.select(F.col("b").alias("node")))
            .distinct()
        )
        return (
            nodes.join(per_node, "node", "left")
            .select(
                "node",
                F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            )
        )


class KCoreDecomposition:
    """k-core extraction and core numbers on an undirected edge list
    — the degeneracy-ordering signal behind community detection,
    spam/bot-net pruning, and graph sparsification (Seidman 1983;
    distributed peeling as in Montresor et al. 2013).

    ``core(k)`` runs the standard peeling loop as pure DataFrame
    algebra: per round, ONE degree aggregation over the surviving
    edges plus two semi-joins to drop edges incident to sub-k nodes.
    The frontier only shrinks, so per-round cost tracks the
    remaining subgraph. Each round is a ``spark_utils.fixpoint``
    checkpoint that observes the edges it reads and keeps; the first
    that keeps none or all is the fixpoint, and running out of
    ``max_iterations`` before it warns. Rounds are bounded by the
    peeling depth (``rounds_`` records the actual count — the
    ``q_kcore`` oracle unrolls a fixed superset of rounds, which is
    sound because peeling is idempotent at its fixpoint).

    ``core_numbers(max_k)`` peels k = 1..max_k, feeding each k-core's
    edges (a subset) into the next peel until one is empty — total
    cost is the sum of shrinking peels, never max_k full passes.
    """

    def __init__(
        self,
        src_column: str = "src",
        dst_column: str = "dst",
        max_iterations: int = 100,
    ):
        if max_iterations < 1:
            raise ValueError("max_iterations must be >= 1")
        self.src_column = src_column
        self.dst_column = dst_column
        self.max_iterations = max_iterations
        self.rounds_ = 0

    @staticmethod
    def _surviving(e: DataFrame, k: int) -> DataFrame:
        deg = (
            e.select(F.col("a").alias("node"))
            .unionAll(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("_deg"))
        )
        return deg.filter(F.col("_deg") >= k).select("node")

    def _peel(self, e: DataFrame, k: int) -> tuple[DataFrame, int]:
        """Edges of the k-core of a canonical edge set, and their count."""
        def step(e: DataFrame, seen: dict) -> DataFrame:
            keep = self._surviving(e, k)  # reads ``e`` unobserved
            return (
                e.observe("kcore_in", F.count(F.lit(1)).alias("rows"))
                .join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
                .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
                .observe("kcore_out", F.count(F.lit(1)).alias("rows"))
            )

        # done when the round kept no edge, or every edge it read
        e, self.rounds_, seen = fixpoint(
            e, step, self.max_iterations, "KCoreDecomposition",
            done=lambda seen: observed_rows(seen, "kcore_out")
            in (0, observed_rows(seen, "kcore_in")),
        )
        return e, observed_rows(seen, "kcore_out")

    def core(self, edges: DataFrame, k: int) -> DataFrame:
        """``[node]`` — every node of the k-core (each has ≥ k
        neighbors inside the core)."""
        if k < 1:
            raise ValueError("k must be >= 1")
        canonical = _canonical(
            edges, self.src_column, self.dst_column
        ).localCheckpoint(eager=True)
        peeled, _ = self._peel(canonical, k)
        release(canonical)
        return self._surviving(peeled, k)

    def core_numbers(self, edges: DataFrame, max_k: int) -> DataFrame:
        """``[node, core]`` — the largest k ≤ ``max_k`` whose k-core
        contains the node (nodes of the edge list only)."""
        if max_k < 1:
            raise ValueError("max_k must be >= 1")
        canonical = _canonical(
            edges, self.src_column, self.dst_column
        ).localCheckpoint(eager=True)
        e, members = canonical, []
        for k in range(1, max_k + 1):
            e, n_edges = self._peel(e, k)  # a subset of the previous
            if n_edges == 0:
                break
            members.append(self._surviving(e, k).withColumn("core", F.lit(k)))
        release(canonical)
        if not members:
            return edges.sparkSession.createDataFrame([], "node long, core int")
        out = reduce(DataFrame.unionByName, members)
        return out.groupBy("node").agg(
            F.max("core").cast("int").alias("core")
        )
