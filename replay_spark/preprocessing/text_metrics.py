"""Generation-eval text metrics — BLEU and ROUGE, DataFrame-native.

The evaluation half of an SFT/RLHF data pipeline: score candidate
generations against references at corpus scale. Both scorers are
per-row (candidate, reference) operators producing the standard
metric plus its EXACT integer sufficient statistics, so downstream
corpus-level aggregation (corpus BLEU is computed from summed counts,
not averaged sentence scores) is a plain ``groupBy().sum()``.

Spark-first shapes:

* BLEU's clipped n-gram matches run entirely JVM-side as
  higher-order-function expressions (``filter``/``aggregate``/
  ``slice`` over the token array) — whole-stage codegen, no Python
  in the hot path. Per row the cost is O(distinct-grams × len) — the
  candidate arrays are sentences, not documents, so this stays flat
  while remaining fully vectorizable.
* ROUGE-N reuses the same expressions with the recall denominator.
* ROUGE-L needs an LCS dynamic program, which no Catalyst expression
  expresses — that one runs as an Arrow-batched ``mapInPandas``
  (numpy DP, O(len²) per pair), the documented slow path.

Metrics are the standard definitions: BLEU-n with uniform weights,
natural-log brevity penalty, and optional add-one smoothing
(Lin & Och 2004 "smoothing 1") for sentence-level use; ROUGE-N
recall; ROUGE-L F-measure from LCS length. Integer statistics are
hash-gated (`q_bleu_counts`, `q_rouge_l`); the float metric columns
ride the shared ``stable_round`` policy.

No reference counterpart (LLM-pipeline extension; the reference's
metrics tier scores recommendations, not text generation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from replay_spark.utils.spark_utils import map_rows

__all__ = ["BleuScorer", "RougeScorer", "clipped_ngram_matches"]


def _tokens(col: Column, lowercase: bool) -> Column:
    t = F.coalesce(col, F.lit(""))
    t = F.lower(t) if lowercase else t
    t = F.trim(t)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def _ngrams(arr_sql: str, n: int) -> str:
    """SQL expression: the n-gram array of token array ``arr_sql``
    (as '\\x01'-joined strings; empty when len < n). TOTAL for any
    input — transform indexes stay in range."""
    if n == 1:
        return arr_sql
    return (
        f"CASE WHEN size({arr_sql}) < {n} THEN array() "
        f"ELSE transform(sequence(1, size({arr_sql}) - {n - 1}), "
        f"i -> array_join(slice({arr_sql}, i, {n}), '\x01')) END"
    )


def clipped_ngram_matches(cand_sql: str, ref_sql: str, n: int) -> Column:
    """JVM-side clipped n-gram match count (the BLEU numerator):
    for each DISTINCT candidate n-gram, min(count in candidate,
    count in reference), summed."""
    cg = _ngrams(cand_sql, n)
    rg = _ngrams(ref_sql, n)
    return F.expr(
        f"aggregate(array_distinct({cg}), 0, (acc, g) -> acc + int(least("
        f"size(filter({cg}, x -> x = g)), "
        f"size(filter({rg}, x -> x = g)))))"
    )


class BleuScorer:
    """Sentence-level BLEU with exact integer sufficient statistics.

    Adds, per n up to ``max_n``: ``match_n`` (clipped matches) and
    ``total_n`` (candidate n-gram count), plus ``cand_len``,
    ``ref_len``, and the smoothed ``bleu`` float. Corpus BLEU =
    recompute from the SUMMED columns — the statistics are designed
    to aggregate.
    """

    def __init__(
        self,
        candidate_column: str = "candidate",
        reference_column: str = "reference",
        max_n: int = 4,
        lowercase: bool = True,
        smooth: bool = True,
        output_column: str = "bleu",
    ):
        if not 1 <= max_n <= 8:
            raise ValueError("max_n must be in [1, 8]")
        self.candidate_column = candidate_column
        self.reference_column = reference_column
        self.max_n = max_n
        self.lowercase = lowercase
        self.smooth = smooth
        self.output_column = output_column

    def transform(self, df: DataFrame) -> DataFrame:
        out = df.withColumn(
            "_c", _tokens(F.col(self.candidate_column), self.lowercase)
        ).withColumn(
            "_r", _tokens(F.col(self.reference_column), self.lowercase)
        )
        for n in range(1, self.max_n + 1):
            out = out.withColumn(
                f"match_{n}", clipped_ngram_matches("_c", "_r", n)
            ).withColumn(
                f"total_{n}",
                F.greatest(F.size("_c") - F.lit(n - 1), F.lit(0)),
            )
        out = out.withColumn("cand_len", F.size("_c")).withColumn(
            "ref_len", F.size("_r")
        )
        # geometric mean of n-gram precisions × brevity penalty
        eps = F.lit(1.0) if self.smooth else F.lit(0.0)
        logs = []
        for n in range(1, self.max_n + 1):
            m = F.col(f"match_{n}").cast("double")
            t = F.col(f"total_{n}").cast("double")
            if self.smooth and n > 1:
                logs.append(F.log((m + eps) / (t + eps)))
            else:
                logs.append(
                    F.when(
                        (m > 0) & (t > 0), F.log(m / t)
                    ).otherwise(F.lit(float("-inf")))
                )
        geo = logs[0]
        for term in logs[1:]:
            geo = geo + term
        geo = geo / F.lit(float(self.max_n))
        bp = F.when(
            F.col("cand_len") >= F.col("ref_len"), F.lit(0.0)
        ).otherwise(
            F.lit(1.0)
            - F.col("ref_len").cast("double")
            / F.col("cand_len").cast("double")
        )
        bleu = F.when(
            (F.col("cand_len") > 0) & (F.col("ref_len") > 0),
            F.exp(bp + geo),
        ).otherwise(F.lit(0.0))
        return out.withColumn(self.output_column, bleu).drop("_c", "_r")


class RougeScorer:
    """ROUGE-N recall (+precision/F) and ROUGE-L from LCS length.

    Adds ``rougeN_match``/``rougeN_total`` integer statistics and the
    ``rougeN_recall`` float for each requested N; with
    ``include_l=True`` also ``lcs_len`` (exact integer, Arrow-batched
    numpy DP) and ``rougeL_f``.
    """

    def __init__(
        self,
        candidate_column: str = "candidate",
        reference_column: str = "reference",
        orders=(1, 2),
        include_l: bool = True,
        lowercase: bool = True,
    ):
        self.candidate_column = candidate_column
        self.reference_column = reference_column
        self.orders = tuple(orders)
        self.include_l = include_l
        self.lowercase = lowercase

    def transform(self, df: DataFrame) -> DataFrame:
        out = df.withColumn(
            "_c", _tokens(F.col(self.candidate_column), self.lowercase)
        ).withColumn(
            "_r", _tokens(F.col(self.reference_column), self.lowercase)
        )
        for n in self.orders:
            out = out.withColumn(
                f"rouge{n}_match", clipped_ngram_matches("_c", "_r", n)
            ).withColumn(
                f"rouge{n}_total",
                F.greatest(F.size("_r") - F.lit(n - 1), F.lit(0)),
            ).withColumn(
                f"rouge{n}_recall",
                F.when(
                    F.col(f"rouge{n}_total") > 0,
                    F.col(f"rouge{n}_match").cast("double")
                    / F.col(f"rouge{n}_total").cast("double"),
                ).otherwise(F.lit(0.0)),
            )
        out = out.withColumn("cand_len", F.size("_c")).withColumn(
            "ref_len", F.size("_r")
        )
        if self.include_l:
            out = self._with_lcs(out)
            out = out.withColumn(
                "rougeL_f",
                F.when(
                    (F.col("cand_len") > 0)
                    & (F.col("ref_len") > 0)
                    & (F.col("lcs_len") > 0),
                    2.0
                    * F.col("lcs_len").cast("double")
                    / (
                        F.col("cand_len").cast("double")
                        + F.col("ref_len").cast("double")
                    ),
                ).otherwise(F.lit(0.0)),
            )
        return out.drop("_c", "_r")

    @staticmethod
    def lcs_length(a, b) -> int:
        """Classic O(len(a)·len(b)) LCS DP over token lists."""
        if not a or not b:
            return 0
        import numpy as np

        prev = np.zeros(len(b) + 1, dtype=np.int64)
        cur = np.zeros(len(b) + 1, dtype=np.int64)
        for x in a:
            for j, y in enumerate(b, start=1):
                cur[j] = (
                    prev[j - 1] + 1 if x == y else max(prev[j], cur[j - 1])
                )
            prev, cur = cur, prev
        return int(prev[len(b)])

    def _with_lcs(self, df: DataFrame) -> DataFrame:
        lcs = RougeScorer.lcs_length

        def run(c, r):
            yield (
                lcs(
                    list(c) if c is not None else [],
                    list(r) if r is not None else [],
                ),
            )

        return map_rows(
            df, ["_c", "_r"], run, [*df.columns, ("lcs_len", IntegerType())]
        )
