"""Deduplication operators for 100 TB-scale corpora.

Five strategies, all expressed as DataFrame plans:

* ``ExactDeduplicator`` — hash-groupBy on content (or a normalized
  fingerprint). One shuffle on the hash key.
* ``NGramJaccardDeduplicator`` — exact word-n-gram Jaccard via an
  inverted shingle index: pairs are generated only for documents
  sharing a shingle (never the full cross join), hot shingles are
  dropped by document frequency (they only ever create popular-pair
  noise), then Jaccard = |∩| / |∪| exactly.
* ``MinHashLSHDeduplicator`` — k seeded xxhash64 min-hashes per
  document → b bands → bucket join → candidate pairs with estimated
  Jaccard (fraction of matching signature slots). Cost is linear in
  corpus size; only banded collisions are compared.
* ``SimHashDeduplicator`` — 64-bit simhash over token hashes;
  candidates via 4×16-bit band blocking (Hamming ≤ 3 guaranteed to
  collide in ≥1 band by pigeonhole).
* ``EmbeddingDeduplicator`` — cosine near-dup over an embedding
  column; random-hyperplane sign buckets prune the pair space, exact
  cosine verifies.
* ``ParagraphDeduplicator`` — sub-document granularity: corpus-wide
  duplicated-paragraph (boilerplate) removal with in-order document
  reassembly.

Everything uses JVM hash functions (xxhash64) and higher-order
array expressions — no Python in the hot path.
"""

from __future__ import annotations

import math
import random
from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from replay_spark.preprocessing.text import fingerprint_expr
from replay_spark.utils.spark_utils import (
    fixpoint,
    local_df,
    observed_metrics,
    observed_rows,
    release,
    stable_round,
)

__all__ = [
    "ExactDeduplicator",
    "NGramJaccardDeduplicator",
    "MinHashLSHDeduplicator",
    "SimHashDeduplicator",
    "EmbeddingDeduplicator",
    "SemanticDeduplicator",
    "SubstringDeduplicator",
    "NearDupClusters",
    "ContaminationChecker",
    "ParagraphDeduplicator",
    "IncrementalDeduplicator",
]


class ExactDeduplicator:
    """Exact (optionally normalized) content dedup.

    ``transform`` keeps the smallest id per content group;
    ``duplicates`` returns the group table.
    """

    def __init__(
        self,
        id_column: str = "doc_id",
        text_column: str = "text",
        normalize: bool = False,
    ):
        self.id_column = id_column
        self.text_column = text_column
        self.normalize = normalize

    def _key(self):
        if self.normalize:
            return fingerprint_expr(F.col(self.text_column))
        return F.md5(F.col(self.text_column))

    def duplicates(self, df: DataFrame) -> DataFrame:
        return df.groupBy(self._key().alias("content_hash")).agg(
            F.min(self.id_column).alias("keep_id"),
            F.count(F.lit(1)).alias("group_size"),
        )

    def transform(self, df: DataFrame) -> DataFrame:
        w = Window.partitionBy(self._key()).orderBy(self.id_column)
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread tiny-file inputs across the cluster before CPU-heavy
    per-row work (shingling/hashing).

    A small parquet file arrives as one partition; shingling 5k docs
    on 1 of 32 cores was the dominant MinHash cost locally. Only
    triggers when the input has far fewer partitions than the
    default parallelism — a 100 TB source already has thousands of
    splits and is left untouched.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def _word_ngrams(tokens, n: int):
    """array<string> word n-grams via transform over index sequence."""
    return F.when(
        F.size(tokens) < n, F.array(F.concat_ws(" ", tokens))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(tokens) - n),
            lambda i: F.concat_ws(
                " ", F.slice(tokens, i + 1, n)
            ),
        )
    )


class NGramJaccardDeduplicator:
    """Exact n-gram Jaccard similarity pairs above a threshold.

    ``max_shingle_df`` caps the document frequency of a shingle before
    the pair join: a shingle shared by d documents contributes O(d²)
    candidate pairs, so one stop-phrase shingle shared by 10⁶ docs
    would generate ~10¹² pairs. The default (1000) bounds each
    shingle's contribution at ~5·10⁵ pairs, which is what makes this
    operator safe on a 100 TB corpus. Recall consequence: a pair whose
    ONLY shared shingles are hotter than the cap is missed — but such
    pairs have Jaccard ≈ (few hot shingles)/(union), far below any
    sensible threshold, because capped shingles are excluded from both
    the intersection and the per-doc sizes (consistent Jaccard over
    retained shingles). Pass ``None`` explicitly to disable at small
    scale.
    """

    def __init__(
        self,
        id_column: str = "doc_id",
        text_column: str = "text",
        n: int = 3,
        threshold: float = 0.8,
        max_shingle_df: Optional[int] = 1000,
    ):
        self.id_column = id_column
        self.text_column = text_column
        self.n = n
        self.threshold = threshold
        self.max_shingle_df = max_shingle_df

    def _shingles(self, df: DataFrame) -> DataFrame:
        df = _ensure_parallelism(df)
        tokens = F.split(F.trim(F.lower(F.col(self.text_column))), r"\s+")
        return df.select(
            self.id_column,
            F.explode(
                F.array_distinct(_word_ngrams(tokens, self.n))
            ).alias("shingle"),
        )

    def pairs(self, df: DataFrame) -> DataFrame:
        """(id_a, id_b, jaccard) for all pairs ≥ threshold, id_a < id_b."""
        shingles = self._shingles(df)
        if self.max_shingle_df is not None:
            # fold the hot-shingle cap into ONE shingle-keyed window
            # pass (count over partition) instead of a groupBy-count +
            # left_anti join; its exchange leaves the data partitioned
            # by shingle, which is what the pair self-join wants
            # (measured ~1.7x on the whole pairs() at sf0.1)
            shingles = (
                shingles.withColumn(
                    "_df",
                    F.count(F.lit(1)).over(Window.partitionBy("shingle")),
                )
                .filter(F.col("_df") <= self.max_shingle_df)
                .drop("_df")
            )
        # no cache: both join sides and ``sizes`` read the same
        # deterministic subtree, so exchange reuse runs the shingle
        # shuffle once. A cache would add its own materialization jobs
        # and split the scan into separately cached query stages,
        # which stops that reuse; nothing would release it either.
        sizes = shingles.groupBy(self.id_column).agg(
            F.count(F.lit(1)).alias("_size")
        )
        left = shingles.withColumnRenamed(self.id_column, "id_a")
        right = shingles.withColumnRenamed(self.id_column, "id_b")
        # the merge hint keeps the self-join on ONE shingle-keyed
        # exchange that both sides read (the df-cap window's, when
        # there is a cap); left to itself, AQE sees a small side and
        # broadcasts the whole shingle table, a job of its own
        inter = (
            left.join(right.hint("merge"), on="shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("_inter"))
        )
        out = (
            inter.join(
                sizes.select(
                    F.col(self.id_column).alias("id_a"),
                    F.col("_size").alias("_size_a"),
                ),
                on="id_a",
            )
            .join(
                sizes.select(
                    F.col(self.id_column).alias("id_b"),
                    F.col("_size").alias("_size_b"),
                ),
                on="id_b",
            )
            .withColumn(
                "jaccard",
                F.col("_inter")
                / (F.col("_size_a") + F.col("_size_b") - F.col("_inter")),
            )
            .filter(F.col("jaccard") >= self.threshold)
            .select("id_a", "id_b", "jaccard")
        )
        return out

    def transform(self, df: DataFrame) -> DataFrame:
        """Drop the higher-id member of every near-duplicate pair."""
        dupes = self.pairs(df).select(F.col("id_b").alias(self.id_column)).distinct()
        return df.join(dupes, on=self.id_column, how="left_anti")


class MinHashLSHDeduplicator:
    """MinHash signatures + banded LSH candidate generation.

    signature[i] = min over shingles of g_i(shingle) where
    g_i = h1 + i*h2 (Kirsch-Mitzenmacher double hashing: two xxhash64
    evaluations per shingle instead of k, same collision statistics);
    b bands of r rows each (k = b*r); documents colliding on any
    band's slice are candidates; estimated Jaccard = matching slots / k.
    The 31-bit reductions keep ``h1 + i*h2`` far from long overflow
    (ANSI mode throws on wrap).
    """

    def __init__(
        self,
        id_column: str = "doc_id",
        text_column: str = "text",
        n: int = 3,
        num_hashes: int = 64,
        bands: int = 16,
        threshold: float = 0.7,
        hash_family: str = "xxhash64",
    ):
        assert num_hashes % bands == 0, "bands must divide num_hashes"
        if hash_family not in ("xxhash64", "md5"):
            raise ValueError(f"unknown hash_family: {hash_family!r}")
        self.id_column = id_column
        self.text_column = text_column
        self.n = n
        self.num_hashes = num_hashes
        self.bands = bands
        self.rows_per_band = num_hashes // bands
        self.threshold = threshold
        # "xxhash64" (default): fastest, JVM-only — rows-only gate.
        # "md5": base hashes are the first 15 hex chars of md5 read as
        # an integer (same 31-bit K-M reductions); any engine with md5
        # can reproduce the signatures bit-for-bit, which is what the
        # DuckDB hash oracle (q_minhash_candidates_md5) does.
        self.hash_family = hash_family

    def _base_hashes(self, shingled: DataFrame) -> DataFrame:
        if self.hash_family == "xxhash64":
            return shingled.withColumn(
                "_h1", F.pmod(F.xxhash64(F.col("shingle")), F.lit(1 << 31))
            ).withColumn(
                "_h2",
                F.pmod(
                    F.xxhash64(F.col("shingle"), F.lit(1)),
                    F.lit((1 << 31) - 1),
                ),
            )
        md5_int = lambda c: F.conv(  # noqa: E731
            F.substring(F.md5(c), 1, 15), 16, 10
        ).cast("long")
        return shingled.withColumn(
            "_h1", F.pmod(md5_int(F.col("shingle")), F.lit(1 << 31))
        ).withColumn(
            "_h2",
            F.pmod(
                md5_int(F.concat(F.lit("1:"), F.col("shingle"))),
                F.lit((1 << 31) - 1),
            ),
        )

    def signatures(self, df: DataFrame) -> DataFrame:
        """(id, signature array<long>) — one shuffle (groupBy id)."""
        df = _ensure_parallelism(df)
        tokens = F.split(F.trim(F.lower(F.col(self.text_column))), r"\s+")
        shingled = df.select(
            self.id_column,
            F.explode(
                F.array_distinct(_word_ngrams(tokens, self.n))
            ).alias("shingle"),
        )
        shingled = self._base_hashes(shingled)
        # the mod-prime reduction is essential: without it the argmin
        # for large i is dominated by h2 alone and slots correlate.
        # The k per-shingle hash values are built as a plain `F.array`
        # of k codegen'd pmod expressions (NOT a higher-order
        # `transform` lambda — HOFs evaluate interpreted per element,
        # measured 200+ s cold at sf0.1) and min-ed per slot via
        # posexplode + two-phase aggregation: k separate
        # `min(pmod(...))` aggregate columns compile into one enormous
        # WholeStageCodegen HashAggregate class (57 s cold at sf0.1
        # for k=64, recompiled on every fresh executor JVM at cluster
        # scale), while a k-wide Project + tiny two-column aggregate
        # keeps every codegen unit small. Both shuffles stay
        # map-side-combined (post-combine volume is docs*k rows, then
        # docs rows).
        mersenne = (1 << 31) - 1
        # one parsed expr string instead of k Column-API pmods (~5
        # py4j round-trips each, ~0.3 s of driver time per call at
        # k=64) — identical integer expressions
        slot_hashes = F.expr(
            "array("
            + ",".join(
                f"pmod(_h1 + {i} * _h2, {mersenne})"
                for i in range(self.num_hashes)
            )
            + ")"
        )
        per_slot = shingled.select(
            self.id_column, F.posexplode(slot_hashes).alias("_slot", "_g")
        )
        slot_mins = per_slot.groupBy(self.id_column, "_slot").agg(
            F.min("_g").alias("_m")
        )
        return slot_mins.groupBy(self.id_column).agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_slot", "_m"))),
                lambda s: s["_m"],
            ).alias("signature")
        )

    def candidate_pairs(self, df: DataFrame) -> DataFrame:
        """(id_a, id_b, est_jaccard) for banded collisions ≥ threshold."""
        band_hasher = F.xxhash64 if self.hash_family == "xxhash64" else F.md5
        sigs = self.signatures(df)
        bands = sigs.select(
            self.id_column,
            "signature",
            F.posexplode(
                F.array(
                    *[
                        band_hasher(
                            F.concat_ws(
                                ",",
                                F.transform(
                                    F.slice(
                                        "signature",
                                        b * self.rows_per_band + 1,
                                        self.rows_per_band,
                                    ),
                                    lambda x: x.cast("string"),
                                ),
                            )
                        )
                        for b in range(self.bands)
                    ]
                )
            ).alias("band", "band_hash"),
        ).repartition("band", "band_hash")
        # the join exchange sits below the id_a/id_b aliases, so both
        # sides read one reused shuffle and the band hashing runs once
        left = bands.select(
            F.col(self.id_column).alias("id_a"),
            F.col("signature").alias("sig_a"),
            "band",
            "band_hash",
        )
        right = bands.select(
            F.col(self.id_column).alias("id_b"),
            F.col("signature").alias("sig_b"),
            "band",
            "band_hash",
        )
        cands = (
            left.join(right, on=["band", "band_hash"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "sig_a", "sig_b")
            .distinct()
        )
        est = F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda a, b: (a == b).cast("int")),
                lambda x: x == 1,
            )
        ) / F.lit(float(self.num_hashes))
        return (
            cands.withColumn("est_jaccard", est)
            .filter(F.col("est_jaccard") >= self.threshold)
            .select("id_a", "id_b", "est_jaccard")
        )

    def transform(self, df: DataFrame) -> DataFrame:
        dupes = (
            self.candidate_pairs(df)
            .select(F.col("id_b").alias(self.id_column))
            .distinct()
        )
        return df.join(dupes, on=self.id_column, how="left_anti")


class SimHashDeduplicator:
    """64-bit SimHash with 16-bit band blocking.

    bit_i(doc) = sign of Σ_tokens (±1 depending on bit i of
    xxhash64(token)); candidates share one of four 16-bit chunks,
    verified by Hamming distance ≤ max_hamming.

    ``hash_family="md5"`` switches to a 60-bit fingerprint whose token
    hash is the first 15 hex chars of md5 read as an integer (4×15-bit
    bands) — bit-for-bit reproducible in any engine with md5, which is
    what the DuckDB hash oracle (``q_simhash_pairs_md5``) verifies.
    Pigeonhole band guarantee (Hamming ≤ 3 collides in ≥1 of 4 bands)
    holds identically.
    """

    def __init__(
        self,
        id_column: str = "doc_id",
        text_column: str = "text",
        max_hamming: int = 3,
        hash_family: str = "xxhash64",
    ):
        if hash_family not in ("xxhash64", "md5"):
            raise ValueError(f"unknown hash_family: {hash_family!r}")
        self.id_column = id_column
        self.text_column = text_column
        self.max_hamming = max_hamming
        self.hash_family = hash_family
        self.num_bits = 64 if hash_family == "xxhash64" else 60
        self.chunk_bits = self.num_bits // 4

    def fingerprints(self, df: DataFrame) -> DataFrame:
        df = _ensure_parallelism(df)
        tokens = F.split(F.trim(F.lower(F.col(self.text_column))), r"\s+")
        if self.hash_family == "xxhash64":
            h = F.xxhash64("token")
        else:
            h = F.conv(F.substring(F.md5("token"), 1, 15), 16, 10).cast("long")
        exploded = df.select(
            self.id_column, F.explode(tokens).alias("token")
        ).withColumn("h", h)
        # the per-bit sums and the bit-packing fold are built as
        # parsed SQL strings: the Column-API form costs ~8 py4j
        # round-trips per bit (~1 s of driver time for 64 bits,
        # per call) for the identical integer expressions
        bit_sums = [
            F.expr(
                f"sum(CASE WHEN (shiftright(h, {i}) & 1) = 1 "
                "THEN 1 ELSE -1 END)"
            ).alias(f"_b{i}")
            for i in range(self.num_bits)
        ]
        agg = exploded.groupBy(self.id_column).agg(*bit_sums)
        fingerprint = F.expr(
            " ^ ".join(
                f"shiftleft(CASE WHEN _b{i} > 0 THEN CAST(1 AS BIGINT) "
                f"ELSE CAST(0 AS BIGINT) END, {i})"
                for i in range(self.num_bits)
            )
        )
        return agg.select(self.id_column, fingerprint.alias("simhash"))

    def candidate_pairs(self, df: DataFrame) -> DataFrame:
        fps = self.fingerprints(df)
        mask = (1 << self.chunk_bits) - 1
        chunks = fps.select(
            self.id_column,
            "simhash",
            F.posexplode(
                F.array(
                    *[
                        F.shiftrightunsigned(F.col("simhash"), self.chunk_bits * c)
                        .bitwiseAND(F.lit(mask))
                        for c in range(4)
                    ]
                )
            ).alias("chunk", "chunk_val"),
        ).repartition("chunk", "chunk_val")
        # one reused shuffle under both aliased join sides: the
        # fingerprint aggregate and the chunking run once
        left = chunks.select(
            F.col(self.id_column).alias("id_a"),
            F.col("simhash").alias("fp_a"),
            "chunk",
            "chunk_val",
        )
        right = chunks.select(
            F.col(self.id_column).alias("id_b"),
            F.col("simhash").alias("fp_b"),
            "chunk",
            "chunk_val",
        )
        cands = (
            left.join(right, on=["chunk", "chunk_val"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "fp_a", "fp_b")
            .distinct()
        )
        hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
        return (
            cands.withColumn("hamming", hamming)
            .filter(F.col("hamming") <= self.max_hamming)
            .select("id_a", "id_b", "hamming")
        )

    def transform(self, df: DataFrame) -> DataFrame:
        dupes = (
            self.candidate_pairs(df)
            .select(F.col("id_b").alias(self.id_column))
            .distinct()
        )
        return df.join(dupes, on=self.id_column, how="left_anti")


class EmbeddingDeduplicator:
    """Cosine near-duplicate pairs over an embedding column.

    Random-hyperplane sign buckets (seeded, driver-generated,
    embedded as literals) prune candidates; exact cosine verifies.

    Scale controls:

    * ``num_planes=None`` (default) auto-scales with corpus size:
      ``ceil(log2(n / target_bucket_size))`` planes, so expected
      bucket occupancy stays ~``target_bucket_size`` and the
      in-bucket quadratic verify is bounded at any corpus size (a
      FIXED plane count means 2^planes buckets — at 10⁹ vectors and
      8 planes that is ~4M rows per bucket, i.e. the verify step
      degenerates to all-pairs). Resolving the count is one columnar
      scan job.
    * more planes shrink buckets but also split true near-dup pairs
      (P[same bucket] = p^planes with p = 1 - θ/π), so
      ``num_tables`` independent hyperplane tables multi-probe the
      space — a pair is a candidate if it collides in ANY table
      (recall 1 - (1 - p^planes)^L, the same banding trick MinHash
      uses). Candidates are deduped before the exact-cosine filter.
    * ``num_planes=0`` disables pruning (exact brute force).
    """

    def __init__(
        self,
        id_column: str = "vec_id",
        vector_column: str = "embedding",
        dim: int = 64,
        threshold: float = 0.95,
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
        self.threshold = threshold
        self.num_planes = num_planes
        self.num_tables = num_tables
        self.target_bucket_size = target_bucket_size
        self.seed = seed

    def _resolve_planes(self, df: DataFrame) -> int:
        if self.num_planes is not None:
            return self.num_planes
        n = df.count()
        if n <= self.target_bucket_size:
            return 0
        return min(24, math.ceil(math.log2(n / self.target_bucket_size)))

    def _planes(self, table: int, num_planes: int):
        rng = random.Random(self.seed + 7919 * table)
        return [
            [rng.gauss(0.0, 1.0) for _ in range(self.dim)]
            for _ in range(num_planes)
        ]

    def _bucket_expr(self, v, table: int, num_planes: int):
        bucket = None
        for i, plane in enumerate(self._planes(table, num_planes)):
            lit_plane = F.array(*[F.lit(p) for p in plane])
            dot = F.aggregate(
                F.zip_with(v, lit_plane, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            bit = F.shiftleft(
                F.when(dot >= 0, F.lit(1).cast("long")).otherwise(
                    F.lit(0).cast("long")
                ),
                i,
            )
            bucket = bit if bucket is None else bucket.bitwiseXOR(bit)
        return bucket

    def _prepared(self, df: DataFrame, num_planes: int) -> DataFrame:
        """(_id, _v, _norm, _table, _bucket); one row per (vector,
        table) — vectors fan out ``num_tables``× before the bucket
        join (linear cost, bounds the quadratic in-bucket cost)."""
        v = F.transform(F.col(self.vector_column), lambda x: x.cast("double"))
        out = df.select(F.col(self.id_column).alias("_id"), v.alias("_v"))
        norm = F.sqrt(
            F.aggregate("_v", F.lit(0.0), lambda acc, x: acc + x * x)
        )
        out = out.withColumn("_norm", norm)
        if not num_planes:
            return out.withColumn("_table", F.lit(0)).withColumn(
                "_bucket", F.lit(0)
            )
        tables = F.array(
            *[
                F.struct(
                    F.lit(t).alias("_table"),
                    self._bucket_expr(F.col("_v"), t, num_planes).alias(
                        "_bucket"
                    ),
                )
                for t in range(self.num_tables)
            ]
        )
        return out.select(
            "_id", "_v", "_norm", F.explode(tables).alias("_tb")
        ).select("_id", "_v", "_norm", "_tb._table", "_tb._bucket")

    def pairs(self, df: DataFrame) -> DataFrame:
        num_planes = self._resolve_planes(df)
        # one reused shuffle under both aliased join sides: the bucket
        # projections run once
        prepared = self._prepared(df, num_planes).repartition("_table", "_bucket")
        left = prepared.select(
            F.col("_id").alias("id_a"),
            F.col("_v").alias("va"),
            F.col("_norm").alias("na"),
            "_table",
            "_bucket",
        )
        right = prepared.select(
            F.col("_id").alias("id_b"),
            F.col("_v").alias("vb"),
            F.col("_norm").alias("nb"),
            "_table",
            "_bucket",
        )
        dot = F.aggregate(
            F.zip_with("va", "vb", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return (
            left.join(right, on=["_table", "_bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cosine", dot / (F.col("na") * F.col("nb")))
            .filter(F.col("cosine") >= self.threshold)
            .select("id_a", "id_b", "cosine")
            # a pair colliding in several tables appears once per
            # collision; the cosine is deterministic so a plain
            # distinct dedupes (one shuffle on the surviving pairs)
            .distinct()
        )

    def transform(self, df: DataFrame) -> DataFrame:
        dupes = self.pairs(df).select(F.col("id_b").alias(self.id_column)).distinct()
        return df.join(dupes, on=self.id_column, how="left_anti")


class SubstringDeduplicator:
    """Exact duplicated-SUBSTRING removal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): any
    span of ``min_length`` consecutive tokens that occurs more than
    once across the corpus is removed from every occurrence except
    the global first (smallest ``(doc_id, position)``;
    ``keep="none"`` removes all occurrences). Overlapping duplicated
    windows merge naturally — a token is dropped when ANY removed
    window covers it — so maximal duplicated spans come out exactly
    like the paper's suffix-array formulation, restated as DataFrame
    algebra (the suffix array itself is a single-machine
    construction; rolling k-token window keys give the same
    ≥ min_length span semantics with only keyed shuffles).

    Plan shape:

    1. window keys are built ARRAY-SIDE per document
       (``transform(sequence(0, n-k), i -> md5(slice-join))`` — JVM
       higher-order expressions, no explode), then one posexplode
       emits (doc, wpos, wkey) — linear;
    2. per-key (count, first-occurrence) in ONE map-side-combined
       ``groupBy(wkey)`` — a million-fold-duplicated license header
       arrives at its reducer already collapsed per partition;
    3. removed occurrences = windows joined to their key's stats
       (count > 1, not the first) — keyed join;
    4. ONLY documents that actually lose a span are re-tokenized
       (left-semi on the removed set): coverage is an interval
       +1/−1 delta sum per token position (window cumsum per doc),
       never a per-token × per-interval range join;
    5. affected docs reassemble order-exact
       (``collect_list(struct(pos, token))`` → sort → join);
       untouched documents pass through with their ORIGINAL text
       verbatim (affected docs come back whitespace-normalized —
       the same contract SequencePacker-tier operators use).

    No reference counterpart (LLM-pipeline extension).
    """

    def __init__(
        self,
        min_length: int = 50,
        keep: str = "first",
        id_column: str = "doc_id",
        text_column: str = "text",
        hash_fn: str = "xxhash64",
    ):
        if min_length < 2:
            raise ValueError("min_length must be >= 2")
        if keep not in ("first", "none"):
            raise ValueError("keep must be 'first' or 'none'")
        if hash_fn not in ("xxhash64", "md5"):
            raise ValueError("hash_fn must be 'xxhash64' or 'md5'")
        self.min_length = min_length
        self.keep = keep
        self.id_column = id_column
        self.text_column = text_column
        # xxhash64 keys are 8-byte longs — a quarter of md5's 32-char
        # strings on the window shuffle, the right production default;
        # md5 exists for the DuckDB-verifiable contract gate
        self.hash_fn = hash_fn

    def _windows(self, df: DataFrame) -> DataFrame:
        from replay_spark.preprocessing.text import tokenize_expr

        idc, k = self.id_column, self.min_length
        toks = tokenize_expr(F.col(self.text_column))
        # TOTAL expression (valid on every row): one key per token
        # index, nulled where the window does not fit, nulls filtered
        # (they only occur at the tail, so the filtered position IS
        # the window start). A sequence(0, size-k) formulation blows
        # up on short docs: InferFiltersFromGenerate clones the
        # generator expression into a filter conjunct that can run on
        # unfiltered rows, where the negative sequence runs DESCENDING
        # and slice gets start 0.
        hasher = (
            F.md5 if self.hash_fn == "md5" else F.xxhash64
        )
        keys = F.filter(
            F.transform(
                toks,
                lambda x, i: F.when(
                    i + k <= F.size(toks),
                    hasher(F.concat_ws(" ", F.slice(toks, i + 1, k))),
                ),
            ),
            lambda key: key.isNotNull(),
        )
        return df.select(F.col(idc).alias("_d"), keys.alias("_keys")).select(
            "_d", F.posexplode("_keys").alias("_wpos", "_wkey")
        )

    def removed_occurrences(self, df: DataFrame) -> DataFrame:
        """(doc id, window start) for every occurrence slated for
        removal — the audit view of the pass."""
        idc = self.id_column
        wins = self._windows(df)
        stats = wins.groupBy("_wkey").agg(
            F.count(F.lit(1)).alias("_cnt"),
            F.min(F.struct("_d", "_wpos")).alias("_first"),
        )
        out = wins.join(stats, on="_wkey").filter(F.col("_cnt") > 1)
        if self.keep == "first":
            out = out.filter(
                ~(
                    (F.col("_d") == F.col("_first._d"))
                    & (F.col("_wpos") == F.col("_first._wpos"))
                )
            )
        return out.select(
            F.col("_d").alias(idc), F.col("_wpos").alias("start")
        )

    def transform(self, df: DataFrame) -> DataFrame:
        from replay_spark.preprocessing.text import tokenize_expr

        idc, tc, k = self.id_column, self.text_column, self.min_length
        # the removed set feeds three plan branches (affected docs,
        # +1 deltas, -1 deltas): persist so the window scan + stats
        # join run once; evicted LRU after the caller's action (the
        # same contract ordered_row_numbers documents)
        removed = self.removed_occurrences(df).persist()
        affected = removed.select(idc).distinct()
        toks = (
            df.join(affected, on=idc, how="left_semi")
            .select(
                F.col(idc).alias("_d"),
                F.posexplode(tokenize_expr(F.col(tc))).alias(
                    "_tpos", "_tok"
                ),
            )
        )
        deltas = (
            removed.select(
                F.col(idc).alias("_d"),
                F.col("start").alias("_pos"),
                F.lit(1).alias("_delta"),
            )
            .unionByName(
                removed.select(
                    F.col(idc).alias("_d"),
                    (F.col("start") + k).alias("_pos"),
                    F.lit(-1).alias("_delta"),
                )
            )
            .groupBy("_d", "_pos")
            .agg(F.sum("_delta").alias("_delta"))
        )
        w = (
            Window.partitionBy("_d")
            .orderBy("_tpos")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        rebuilt = (
            toks.join(
                deltas,
                on=[
                    toks["_d"] == deltas["_d"],
                    toks["_tpos"] == deltas["_pos"],
                ],
                how="left",
            )
            .select(
                toks["_d"].alias("_d"),
                "_tpos",
                "_tok",
                F.coalesce(deltas["_delta"], F.lit(0)).alias("_delta"),
            )
            .withColumn("_covered", F.sum("_delta").over(w) > 0)
            .groupBy("_d")
            .agg(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    ~F.col("_covered"),
                                    F.struct("_tpos", "_tok"),
                                )
                            )
                        ),
                        lambda s: s["_tok"],
                    ),
                ).alias("_newtext")
            )
        )
        return df.join(
            rebuilt.select(F.col("_d").alias(idc), "_newtext"),
            on=idc,
            how="left",
        ).withColumn(tc, F.coalesce("_newtext", F.col(tc))).drop("_newtext")


class SemanticDeduplicator:
    """SemDeDup-style cluster-scoped embedding dedup (Abbas et al.
    2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication"): k-means cells bound WHERE the quadratic
    cosine check runs — pairs are only compared INSIDE a cluster, so
    per-cluster work is (n/k)² instead of n², the paper's central
    trick for web-scale corpora. Within a cluster a document is
    removed when an EARLIER (smaller-id) document sits at or above
    the cosine threshold — the deterministic keep-one-representative
    rule (the paper keeps a random/low-index member per ε-group).

    Plan shape: assignment reuses :class:`replay_spark.ann.IVFANN`
    (broadcast centroids, one narrow pass; with explicit
    ``centroids`` the assignment is the stable-rounded max-cosine
    quantizer, SQL-reproducible — the ``q_semantic_dedup`` contract
    gate); the cluster-keyed self-join is co-partitioned on
    ``cluster`` (the IVF index is already hash-partitioned by it),
    pair cosines stay JVM-side, and the removal set joins back
    left-anti. ``num_clusters=None`` auto-scales as
    ``ceil(n / target_cluster_size)`` so in-cluster quadratic cost
    stays bounded at any corpus size.

    Versus :class:`EmbeddingDeduplicator` (hyperplane-bucketed
    near-dup pairs): LSH buckets are recall-probabilistic and
    threshold-agnostic at bucketing time; k-means cells follow the
    data's density (the SemDeDup claim) and give cluster-scoped
    semantics — both are kept, matching the two regimes a production
    pipeline runs (exact-ish near-dup vs semantic-level pruning).
    """

    def __init__(
        self,
        id_column: str = "vec_id",
        vector_column: str = "embedding",
        threshold: float = 0.95,
        num_clusters: Optional[int] = None,
        target_cluster_size: int = 1024,
        seed: int = 42,
    ):
        if not 0.0 < threshold <= 1.0:
            raise ValueError("threshold must be in (0, 1]")
        if target_cluster_size < 1:
            raise ValueError("target_cluster_size must be >= 1")
        self.id_column = id_column
        self.vector_column = vector_column
        self.threshold = threshold
        self.num_clusters = num_clusters
        self.target_cluster_size = target_cluster_size
        self.seed = seed

    def _index(self, df: DataFrame, centroids=None):
        from replay_spark.ann import IVFANN

        k = self.num_clusters
        if k is None:
            if centroids is not None:
                k = len(centroids)
            else:
                n = df.count()
                k = max(1, -(-n // self.target_cluster_size))
        ann = IVFANN(
            id_column=self.id_column,
            vector_column=self.vector_column,
            num_clusters=k,
            seed=self.seed,
        )
        ann.fit(df, centroids=centroids)
        return ann._indexed  # (neighbor_id, cv double-array, cluster)

    def flags(self, df: DataFrame, centroids=None) -> DataFrame:
        """(id, cluster, kept) for every input row: ``kept`` is false
        when an earlier same-cluster row is within the threshold."""
        idx = self._index(df, centroids)
        left = idx.select(
            F.col("neighbor_id").alias("_ida"),
            F.col("cv").alias("_va"),
            "cluster",
        )
        right = idx.select(
            F.col("neighbor_id").alias("_idb"),
            F.col("cv").alias("_vb"),
            "cluster",
        )
        dot = F.aggregate(
            F.zip_with("_va", "_vb", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        norm_a = F.sqrt(
            F.aggregate("_va", F.lit(0.0), lambda acc, x: acc + x * x)
        )
        norm_b = F.sqrt(
            F.aggregate("_vb", F.lit(0.0), lambda acc, x: acc + x * x)
        )
        removed = (
            left.join(right, on="cluster")
            .filter(F.col("_ida") < F.col("_idb"))
            # stable-rounded so the threshold cut is reproducible
            # across engines (the hash gate's oracle mirrors it)
            .filter(
                stable_round(dot / (norm_a * norm_b), 6)
                >= F.lit(self.threshold)
            )
            .select(F.col("_idb").alias("_removed_id"))
            .distinct()
        )
        return (
            idx.select(
                F.col("neighbor_id").alias(self.id_column), "cluster"
            )
            .join(
                removed.withColumn("_gone", F.lit(True)),
                on=[F.col(self.id_column) == F.col("_removed_id")],
                how="left",
            )
            .select(
                self.id_column,
                "cluster",
                F.coalesce(~F.col("_gone"), F.lit(True)).alias("kept"),
            )
        )

    def transform(self, df: DataFrame, centroids=None) -> DataFrame:
        """Input rows minus cluster-scoped semantic duplicates."""
        gone = (
            self.flags(df, centroids)
            .filter(~F.col("kept"))
            .select(self.id_column)
        )
        return df.join(gone, on=self.id_column, how="left_anti")


class NearDupClusters:
    """Connected components over near-duplicate candidate pairs.

    Candidate generators (MinHash/SimHash/NGramJaccard/Embedding)
    emit PAIRS; a real dedup pipeline then needs CLUSTERS — if A~B
    and B~C, all three are one duplicate group even when (A, C) never
    met a threshold — so each group can keep one canonical document.

    ``components`` runs distributed min-label propagation entirely in
    DataFrame ops: each round every node takes the minimum label
    among itself and its neighbors, so labels converge in
    O(graph diameter) rounds with one shuffle-join + one aggregate
    per round. Near-dup candidate graphs are near-cliques (diameter
    2-4 in practice), so the loop exits after a handful of rounds;
    each round runs on ``spark_utils.fixpoint`` and observes its own
    label-change count. For adversarially deep graphs (chains) raise
    ``max_iterations`` or pre-bucket; the round count — not the data
    volume — is the only scale sensitivity, every round being a
    plain key-partitioned join.
    """

    def __init__(
        self,
        max_iterations: int = 20,
        driver_threshold: int = 5_000_000,
        jump_after_rounds="auto",
    ):
        # driver_threshold: candidate-pair sets are tiny relative to
        # the corpus after LSH/threshold pruning (pairs ≪ docs); below
        # the threshold a driver-side union-find answers in one pass
        # instead of O(diameter) Spark rounds whose per-round job
        # overhead dominates on small graphs. Above it, the
        # distributed propagation runs — same components either way.
        # jump_after_rounds: rounds of plain min-label propagation
        # before the pointer-jumping self-join is enabled (0 = jump
        # from round one). Near-clique graphs converge inside the
        # plain rounds and never pay the jump join; deeper graphs
        # get O(log diameter) once it kicks in. "auto" derives the
        # trigger from the measured per-round label-change count
        # instead of a hand-tuned round number: a near-clique's
        # change count COLLAPSES round over round (most nodes adopt
        # the component min in round one), while a deep chain's stays
        # near-flat (the frontier advances one hop per round) — so
        # the jump turns on as soon as a round's change count fails
        # to halve, and stays on.
        if max_iterations < 1:
            raise ValueError("max_iterations must be >= 1")
        if jump_after_rounds != "auto" and jump_after_rounds < 0:
            raise ValueError("jump_after_rounds must be >= 0 or 'auto'")
        self.max_iterations = max_iterations
        self.driver_threshold = driver_threshold
        self.jump_after_rounds = jump_after_rounds

    def components(
        self,
        pairs: DataFrame,
        id_a: str = "id_a",
        id_b: str = "id_b",
    ) -> DataFrame:
        """(node, component) for every node appearing in ``pairs``;
        ``component`` is the smallest node id in the group.

        The candidate-pair subtree behind ``pairs`` is typically the
        most expensive artifact in a dedup pipeline (an LSH/shingle
        self-join), so it must execute exactly once, fully parallel:
        the surviving pairs (a tiny projection — two id columns) are
        materialized by ONE eager ``localCheckpoint`` that carries
        the row count as an observed metric, so sizing them costs no
        action of its own. A ``limit(N+1)`` probe would run the final
        — most expensive — stage in CollectLimit's serial incremental
        waves, and a separate fetch would re-execute the subtree (the
        round-5 2× regression). Either the driver union-find then
        collects the checkpointed edges, or the distributed
        propagation runs — its ``src→dst ∪ dst→src`` edge-union reads
        the checkpoint twice without recomputing the subtree. Neither
        branch's output reads the checkpoint (the driver branch
        returns a local frame, the distributed one its last round's
        checkpoint), so the call releases the pair blocks itself
        before it returns.
        """
        observed = pairs.select(id_a, id_b).observe(
            "near_dup_pairs", F.count(F.lit(1)).alias("rows")
        )
        pairs = observed.localCheckpoint(eager=True)
        try:
            if self.driver_threshold:
                rows = observed_metrics(observed)["near_dup_pairs"]["rows"]
                if rows <= self.driver_threshold:
                    return self._components_driver(pairs, id_a, id_b)
            return self._components_distributed(pairs, id_a, id_b)
        finally:
            release(pairs)

    def _components_driver(
        self, pairs: DataFrame, id_a: str, id_b: str
    ) -> DataFrame:
        """Union-find over a collected pair list (exact, one pass)."""
        edge_rows = pairs.select(id_a, id_b).collect()
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in edge_rows:
            a, b = r[id_a], r[id_b]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by smaller id so the root IS the component id
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        out = [(n, find(n)) for n in parent]
        spark = pairs.sparkSession
        schema = pairs.select(
            F.col(id_a).alias("node"), F.col(id_a).alias("component")
        ).schema
        return local_df(spark, out, schema)

    def _components_distributed(
        self, pairs: DataFrame, id_a: str, id_b: str
    ) -> DataFrame:
        edges = (
            pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
            .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
            .distinct()
            .cache()
        )
        labels = (
            edges.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("label", F.col("node"))
            .cache()
        )
        changed = F.count(F.when(F.col("label") < F.col("_old"), 1)).alias("rows")
        history: list = []  # each finished round's label-change count
        jumped: list = []  # the jump rounds' stored propagation steps

        def step(labels: DataFrame, seen: dict) -> DataFrame:
            if seen:
                history.append(observed_rows(seen, "near_dup_changed"))
            # one round = ONE shuffle: the neighbor label contributions
            # (edges ⋈ labels, re-keyed to the receiving node) union
            # the node's own labeled row and fold in a single
            # groupBy(node) aggregation — min over {own label} ∪
            # {neighbor labels} IS the propagation step, and the own
            # row carries the previous label through max(_old) (unique
            # per node) for the change count
            contrib = edges.join(
                labels.select(
                    F.col("node").alias("dst"),
                    F.col("label").alias("_cand"),
                ),
                on="dst",
            ).select(F.col("src").alias("node"), "_cand")
            own = labels.select(
                "node",
                F.col("label").alias("_cand"),
                F.col("label").alias("_old"),
            )
            stepped = (
                own.unionByName(
                    contrib.withColumn(
                        "_old", F.lit(None).cast(own.schema["_old"].dataType)
                    )
                )
                .groupBy("node")
                .agg(
                    F.min("_cand").alias("label"),
                    F.max("_old").alias("_old"),
                )
            )
            # pointer jumping (shortcutting): follow each node's label
            # to ITS label in the same round — O(log diameter) rounds
            # instead of O(diameter) on deep (chain-like) graphs, for a
            # second self-join per round that near-clique candidate
            # graphs never need (the unconditional jump regressed the
            # sf1 dedup-clusters bench 3.9s -> 6.1s saving zero
            # rounds). "auto" turns it on for good once a round's
            # change count fails to halve: the frontier is advancing
            # hop by hop
            if self.jump_after_rounds == "auto":
                jump = any(b <= 2 * a for a, b in zip(history[1:], history))
            else:
                jump = len(history) >= self.jump_after_rounds
            if jump:
                # labels only ever take existing node ids, so looking the
                # label up as a node always hits; the step is stored first
                # so the self-join reads it twice without recomputing it
                base = stepped.localCheckpoint(eager=True)
                jumped.append(base)
                stepped = base.alias("a").join(
                    base.select(
                        F.col("node").alias("_jn"), F.col("label").alias("_jl")
                    ),
                    F.col("a.label") == F.col("_jn"),
                    how="left",
                ).select(
                    F.col("a.node").alias("node"),
                    F.least(
                        F.col("a.label"), F.coalesce(F.col("_jl"), F.col("a.label"))
                    ).alias("label"),
                    F.col("a._old").alias("_old"),
                )
            return stepped.observe("near_dup_changed", changed)

        # the fixpoint stores each round with an eager localCheckpoint
        # — a cache() alone keeps the logical plan, and the
        # self-referencing join DOUBLES that plan every round: by
        # round ~10 merely rendering the explain string for AQE OOMs
        # the driver (observed on a 20-chain diameter-9 graph)
        final, self.last_rounds_, _ = fixpoint(
            labels,
            step,
            self.max_iterations,
            "NearDupClusters label propagation",
            done=lambda seen: observed_rows(seen, "near_dup_changed") == 0,
        )
        for spent in (edges, labels, *jumped):
            release(spent)
        return final.select("node", F.col("label").alias("component"))

    def transform(
        self,
        df: DataFrame,
        pairs: DataFrame,
        id_column: str = "doc_id",
        id_a: str = "id_a",
        id_b: str = "id_b",
    ) -> DataFrame:
        """Keep one canonical row (the smallest id) per cluster."""
        comps = self.components(pairs, id_a, id_b)
        dupes = comps.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias(id_column)
        )
        return df.join(dupes, on=id_column, how="left_anti")


class ContaminationChecker:
    """Benchmark-decontamination scan: measure word-n-gram collisions
    between a training corpus and an evaluation corpus, and drop
    contaminated training documents.

    The standard LLM-pipeline rule (GPT-3, Brown et al. 2020 §C;
    Gopher, Rae et al. 2021): a training document is contaminated if
    it shares ≥1 (or more than ``max_frac``) n-gram with any eval
    document. No reference counterpart (LLM-pipeline extension).

    Plan shape: the eval side reduces to DISTINCT shingles (one
    shuffle over the — typically tiny — eval corpus; AQE broadcasts
    it when it fits), the training side explodes to per-doc distinct
    shingles once, LEFT-joins the eval shingles as a hit flag, and a
    SINGLE doc-keyed aggregation counts both total and contaminated
    shingles — train shingles are materialized exactly once with no
    cache (at 100 TB the exploded 8-gram frame is ~10× corpus size;
    caching it would be the most expensive artifact in the pipeline).
    Nothing quadratic anywhere.
    """

    def __init__(
        self,
        id_column: str = "doc_id",
        text_column: str = "text",
        n: int = 8,
        method: str = "exact",
        bloom_bits: int = 1 << 24,
        bloom_hashes: int = 4,
    ):
        if n < 1:
            raise ValueError("n must be >= 1")
        if method not in ("exact", "bloom"):
            raise ValueError(f"unknown method: {method!r}")
        self.id_column = id_column
        self.text_column = text_column
        self.n = n
        self.method = method
        self.bloom_bits = bloom_bits
        self.bloom_hashes = bloom_hashes

    def _shingles(self, df: DataFrame) -> DataFrame:
        df = _ensure_parallelism(df)
        tokens = F.split(F.trim(F.lower(F.col(self.text_column))), r"\s+")
        return df.select(
            self.id_column,
            F.explode(
                F.array_distinct(_word_ngrams(tokens, self.n))
            ).alias("shingle"),
        )

    def report(self, train_df: DataFrame, eval_df: DataFrame) -> DataFrame:
        """Per-training-document collision stats:
        ``[<id>, n_shingles, n_contaminated, contamination_frac]``.

        ``method="bloom"`` replaces the shingle-keyed join against
        the eval set with a BLOOM probe: the eval shingles collapse
        to a ≤ ``bloom_bits``-bit set-bit table that broadcasts no
        matter how large the eval corpus grows, and training
        shingles never shuffle at all — at the cost of a bounded
        false-positive rate that only OVERCOUNTS contamination (the
        conservative direction for decontamination; no contaminated
        document is ever missed).
        """
        train_sh = self._shingles(train_df)
        if self.method == "bloom":
            from replay_spark.preprocessing.text import BloomFilter

            bloom = BloomFilter(
                m_bits=self.bloom_bits,
                k=self.bloom_hashes,
                token_column="shingle",
                hash_family="xxhash64",
            )
            bits = bloom.fit(self._shingles(eval_df).select("shingle"))
            hashed = bloom._bits(train_sh, self.id_column, "shingle")
            per_shingle = (
                hashed.join(
                    F.broadcast(bits.withColumn("_set", F.lit(1))),
                    on="bit",
                    how="left",
                )
                .groupBy(self.id_column, "shingle")
                .agg(
                    (
                        F.count("*")
                        == F.sum(F.coalesce(F.col("_set"), F.lit(0)))
                    ).alias("_is_hit")
                )
            )
            joined = per_shingle.withColumn(
                "_hit", F.when(F.col("_is_hit"), F.lit(1))
            )
            return (
                joined.groupBy(self.id_column)
                .agg(
                    F.count(F.lit(1)).alias("n_shingles"),
                    F.count("_hit").alias("n_contaminated"),
                )
                .withColumn(
                    "contamination_frac",
                    F.round(
                        F.col("n_contaminated")
                        / F.col("n_shingles").cast("double"),
                        6,
                    ),
                )
            )
        # distinct eval shingles as a hit flag: the left join cannot
        # multiply rows, so count(*)/count(flag) in ONE doc-keyed agg
        # replaces the old totals+hits double aggregation (and the
        # cache of the exploded train-shingle frame it required)
        eval_sh = (
            self._shingles(eval_df)
            .select("shingle")
            .distinct()
            .withColumn("_hit", F.lit(1))
        )
        return (
            train_sh.join(eval_sh, on="shingle", how="left")
            .groupBy(self.id_column)
            .agg(
                F.count(F.lit(1)).alias("n_shingles"),
                F.count("_hit").alias("n_contaminated"),
            )
            .withColumn(
                "contamination_frac",
                F.round(
                    F.col("n_contaminated")
                    / F.col("n_shingles").cast("double"),
                    6,
                ),
            )
        )

    def transform(
        self,
        train_df: DataFrame,
        eval_df: DataFrame,
        max_frac: float = 0.0,
    ) -> DataFrame:
        """Drop training documents whose collision fraction exceeds
        ``max_frac`` (default 0: any shared n-gram disqualifies)."""
        dirty = (
            self.report(train_df, eval_df)
            .filter(F.col("contamination_frac") > max_frac)
            .select(self.id_column)
        )
        return train_df.join(dirty, on=self.id_column, how="left_anti")


class ParagraphDeduplicator:
    """Corpus-level duplicated-paragraph removal — the Dolma /
    RedPajama "paragraph dedup" pass that strips boilerplate (nav
    bars, cookie banners, license headers) LLM-training corpora are
    full of. A paragraph whose exact (optionally normalized) content
    occurs more than ``max_occurrences`` times across the corpus is
    removed from every document (``keep="none"``) or from every
    document except its first occurrence — smallest ``(doc_id,
    position)`` — with the default ``keep="first"``.

    Plan shape (one explode, keyed shuffles only, no Python):

    1. ``posexplode(split(text, split_pattern))`` — map-side;
    2. per-paragraph-hash frequency + first location in ONE
       ``groupBy(xxhash-key)`` (map-side combined: the shuffle
       carries one row per distinct paragraph per input partition,
       so a million-fold-duplicated cookie banner arrives at its
       reducer already collapsed — hot paragraphs are NOT hot keys);
    3. paragraphs join their hash's (count, first-location) row —
       keyed shuffle join; AQE broadcasts the frequency side when
       the distinct-paragraph table is small;
    4. per-document reassembly: ``collect_list(struct(pos, para))``
       → ``array_sort`` → ``array_join`` — one doc-keyed shuffle,
       order-exact; documents whose every paragraph was removed
       survive with empty text via the final left join.

    No reference counterpart (LLM-pipeline extension). Requires
    ``id_column`` unique; ``normalize=True`` dedupes on the
    lower-cased whitespace-collapsed fingerprint while emitting the
    original paragraph text.
    """

    def __init__(
        self,
        max_occurrences: int = 1,
        keep: str = "first",
        id_column: str = "doc_id",
        text_column: str = "text",
        split_pattern: str = r"\n{2,}",
        separator: str = "\n\n",
        min_chars: int = 1,
        normalize: bool = False,
    ):
        if max_occurrences < 1:
            raise ValueError("max_occurrences must be >= 1")
        if keep not in ("first", "none"):
            raise ValueError("keep must be 'first' or 'none'")
        self.max_occurrences = max_occurrences
        self.keep = keep
        self.id_column = id_column
        self.text_column = text_column
        self.split_pattern = split_pattern
        self.separator = separator
        self.min_chars = min_chars
        self.normalize = normalize

    def _para_key(self, col):
        if self.normalize:
            return fingerprint_expr(col)
        return F.md5(col)

    def _paragraphs(self, df: DataFrame) -> DataFrame:
        idc, txt = self.id_column, self.text_column
        return (
            df.select(
                idc,
                F.posexplode(
                    F.split(F.col(txt), self.split_pattern)
                ).alias("pos", "para"),
            )
            .filter(F.length("para") >= self.min_chars)
            .withColumn("_h", self._para_key(F.col("para")))
        )

    def duplicates(self, df: DataFrame) -> DataFrame:
        """Boilerplate table: one row per paragraph content exceeding
        ``max_occurrences`` — (paragraph hash, occurrence count, the
        first location and its text)."""
        idc = self.id_column
        return (
            self._paragraphs(df)
            .groupBy("_h")
            .agg(
                F.count(F.lit(1)).alias("occurrences"),
                F.min(F.struct(idc, "pos", "para")).alias("_first"),
            )
            .filter(F.col("occurrences") > self.max_occurrences)
            .select(
                F.col("_h").alias("para_hash"),
                "occurrences",
                F.col(f"_first.{idc}").alias("first_doc_id"),
                F.col("_first.pos").alias("first_pos"),
                F.col("_first.para").alias("paragraph"),
            )
        )

    def transform(self, df: DataFrame) -> DataFrame:
        idc, txt = self.id_column, self.text_column
        paras = self._paragraphs(df)
        freq = paras.groupBy("_h").agg(
            F.count(F.lit(1)).alias("_n"),
            F.min(F.struct(idc, "pos")).alias("_first"),
        )
        over = freq.filter(F.col("_n") > self.max_occurrences)
        if self.keep == "first":
            drop_cond = (F.col(f"_first.{idc}") != F.col(idc)) | (
                F.col("_first.pos") != F.col("pos")
            )
        else:
            drop_cond = F.lit(True)
        kept = (
            paras.join(
                over.select("_h", "_first"), on="_h", how="left"
            )
            .filter(F.col("_first").isNull() | ~drop_cond)
            .select(idc, "pos", "para")
        )
        rebuilt = kept.groupBy(idc).agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "para"))),
                    lambda s: s["para"],
                ),
                self.separator,
            ).alias("_new_text")
        )
        return (
            df.join(rebuilt, on=idc, how="left")
            .withColumn(txt, F.coalesce("_new_text", F.lit("")))
            .drop("_new_text")
            .select(df.columns)
        )


class IncrementalDeduplicator:
    """Cross-batch exact dedup against a PERSISTED fingerprint store
    — the ingestion-time pattern none of the single-shot
    deduplicators cover: every arriving batch drops documents whose
    content hash is already in the store (seen in ANY earlier batch)
    or duplicated within the batch (smallest id wins), then appends
    its surviving hashes to the store.

    The store is a plain parquet directory of one hash column —
    append-only, engine-agnostic, mergeable by concatenation. At
    100 TB the anti-join shuffles on the 32-byte hash (never the
    documents); AQE broadcasts the store side while it is small.
    ``transform`` is deliberately SIDE-EFFECTING (it advances the
    store) — call it once per batch, in arrival order; ``reset``
    clears the store.

    Hash-gated end to end by ``q_incremental_dedup`` (two batches
    replayed as SQL set algebra). No reference counterpart
    (LLM-pipeline extension).
    """

    def __init__(
        self,
        store_path: str,
        text_column: str = "text",
        id_column: str = "doc_id",
        normalized: bool = False,
        bloom_index: bool = False,
        bloom_probe_limit: int = 100_000,
    ):
        self.store_path = store_path
        self.text_column = text_column
        self.id_column = id_column
        self.normalized = normalized
        # bloom_index=True keeps one Bloom sidecar per store file
        # (built at append time over ONLY the new files) and, for a
        # batch with <= bloom_probe_limit distinct hashes, scans only
        # the store files whose bitset might contain some batch hash
        # — the anti-join then reads a store SUBSET instead of every
        # file. Larger batches fall back to the full-store anti-join
        # (correct at any scale); pruning is conservative (files
        # without a sidecar are kept), so results never change.
        self.bloom_index = bloom_index
        self.bloom_probe_limit = int(bloom_probe_limit)
        self.last_store_files_scanned: Optional[int] = None
        self.last_store_files_total: Optional[int] = None

    def _hash(self):
        text = F.col(self.text_column)
        if self.normalized:
            from replay_spark.preprocessing.text import fingerprint_expr

            return fingerprint_expr(text)
        return F.md5(text)

    def _store(self, spark):
        import os

        if os.path.isdir(self.store_path) and any(
            f.endswith(".parquet") for f in os.listdir(self.store_path)
        ):
            return spark.read.parquet(self.store_path)
        return spark.createDataFrame([], "content_hash string")

    def reset(self) -> None:
        import shutil

        shutil.rmtree(self.store_path, ignore_errors=True)

    def _store_files(self):
        import os

        if not os.path.isdir(self.store_path):
            return []
        return sorted(
            os.path.join(self.store_path, f)
            for f in os.listdir(self.store_path)
            if f.endswith(".parquet")
        )

    def _bloom_sidecar(self, fpath):
        import os

        return os.path.join(
            self.store_path,
            "_blooms",
            os.path.basename(fpath) + ".json",
        )

    def _store_pruned(self, spark, batch_hashes_df) -> DataFrame:
        """Store hashes from ONLY the files whose Bloom bitset might
        contain some batch hash (conservative; falls back to the
        full store for oversized batches or missing sidecars)."""
        import json as _json

        from replay_spark.utils.bloom_index import bloom_might_contain

        files = self._store_files()
        self.last_store_files_total = len(files)
        if not files:
            self.last_store_files_scanned = 0
            return spark.createDataFrame([], "content_hash string")
        probe = batch_hashes_df.limit(
            self.bloom_probe_limit + 1
        ).collect()
        if len(probe) > self.bloom_probe_limit:
            self.last_store_files_scanned = len(files)
            return spark.read.parquet(self.store_path)
        hashes = [r[0] for r in probe]
        admitted = []
        for f in files:
            try:
                with open(self._bloom_sidecar(f)) as fh:
                    bloom = _json.load(fh)
            except (OSError, ValueError):
                admitted.append(f)  # no sidecar -> keep
                continue
            if any(bloom_might_contain(bloom, h) for h in hashes):
                admitted.append(f)
        self.last_store_files_scanned = len(admitted)
        if not admitted:
            return spark.createDataFrame([], "content_hash string")
        return spark.read.parquet(*admitted)

    def _index_new_store_files(self, spark, before) -> None:
        import os

        from replay_spark.utils.bloom_index import build_file_blooms

        new = [f for f in self._store_files() if f not in set(before)]
        if not new:
            return
        rows = build_file_blooms(spark, new, ["content_hash"])
        os.makedirs(
            os.path.join(self.store_path, "_blooms"), exist_ok=True
        )
        import json as _json

        for r in rows:
            with open(self._bloom_sidecar(r["file"]), "w") as fh:
                fh.write(
                    _json.dumps(
                        {
                            "m": r["m"],
                            "k": r["k"],
                            "n_keys": r["n_keys"],
                            "bits": r["bits"],
                        }
                    )
                )

    def transform(self, batch_df: DataFrame) -> DataFrame:
        """Surviving rows of this batch (original columns); the
        store is advanced by their hashes before returning."""
        idc = self.id_column
        spark = batch_df.sparkSession
        hashed = batch_df.withColumn("_h", self._hash())
        first = hashed.groupBy("_h").agg(F.min(idc).alias(idc))
        in_batch_first = hashed.join(first, on=["_h", idc])
        if self.bloom_index:
            seen = self._store_pruned(
                spark, in_batch_first.select("_h").distinct()
            ).withColumnRenamed("content_hash", "_h")
        else:
            seen = self._store(spark).withColumnRenamed(
                "content_hash", "_h"
            )
        survivors = in_batch_first.join(seen, on="_h", how="left_anti")
        # materialize survivors BEFORE the append touches the store —
        # and TRUNCATE lineage: a persist() is not enough, because
        # Spark's cache manager re-caches any plan that reads a path
        # being written (recacheByPath), which would re-evaluate the
        # survivors against the already-advanced store (observed: a
        # batch deduping itself to zero rows)
        survivors = survivors.localCheckpoint(eager=True)
        before = self._store_files() if self.bloom_index else None
        survivors.select(
            F.col("_h").alias("content_hash")
        ).write.mode("append").parquet(self.store_path)
        if self.bloom_index:
            self._index_new_store_files(spark, before)
        return survivors.drop("_h")


class CorpusDiff:
    """Snapshot diff between two corpus versions — the primitive an
    incremental pipeline runs before reprocessing anything: which
    documents were added, removed, changed, or unchanged since the
    last run. Changed-ness is content-hash equality over
    ``content_columns`` (null-safe, column-order fixed).

    At scale: both sides are projected to (key, xxhash64(content))
    BEFORE the full-outer join, so only narrow 16-byte rows shuffle
    — never document bodies; at 100 TB the diff costs one keyed
    join of two slim hash tables. Recover full rows for a status
    class with a semi-join against the returned keys. No reference
    counterpart (LLM-pipeline extension).
    """

    def __init__(
        self,
        key_column: str = "doc_id",
        content_columns: tuple = ("text",),
        hash_family: str = "xxhash64",
        status_column: str = "status",
    ):
        if not content_columns:
            raise ValueError("content_columns must be non-empty")
        if hash_family not in ("xxhash64", "md5"):
            raise ValueError(f"unknown hash_family: {hash_family!r}")
        self.key_column = key_column
        self.content_columns = tuple(content_columns)
        self.hash_family = hash_family
        self.status_column = status_column

    def _hashed(self, df: DataFrame, name: str) -> DataFrame:
        cols = [
            F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
            for c in self.content_columns
        ]
        payload = F.concat_ws("\x1f", *cols)
        h = (
            F.xxhash64(payload)
            if self.hash_family == "xxhash64"
            else F.md5(payload)
        )
        return df.select(
            F.col(self.key_column).alias("_key"), h.alias(name)
        )

    def transform(self, old_df: DataFrame, new_df: DataFrame) -> DataFrame:
        """(key, status) for every key in either snapshot; status in
        {'added', 'removed', 'changed', 'unchanged'}."""
        old = self._hashed(old_df, "_old_h")
        new = self._hashed(new_df, "_new_h")
        joined = old.join(new, "_key", "full_outer")
        status = (
            F.when(F.col("_old_h").isNull(), F.lit("added"))
            .when(F.col("_new_h").isNull(), F.lit("removed"))
            .when(F.col("_old_h") == F.col("_new_h"), F.lit("unchanged"))
            .otherwise(F.lit("changed"))
        )
        return joined.select(
            F.col("_key").alias(self.key_column),
            status.alias(self.status_column),
        )
