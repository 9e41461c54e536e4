"""PMI phrase mining (the word2vec ``word2phrase`` scheme) —
DataFrame-native.

Collocation detection for LLM/embedding pipelines: find bigrams that
occur together far more than chance ("new york", "machine
learning"), then rewrite the corpus joining them into single tokens.
The Mikolov et al. 2013 score::

    score(a, b) = (count(ab) - delta) * N / (count(a) * count(b))

with ``delta`` discounting rare accidents; pairs above ``threshold``
promote. Iterating transform→fit twice yields trigrams, as in the
original tool.

Spark-first shape: unigram and bigram counts are two
map-side-combined aggregations (bigrams via the shifted
``arrays_zip`` of the token array — pure JVM expressions, no
Python); the score join broadcasts the unigram table slice the
bigrams need (vocabulary-sized, Heaps-bounded). Scores carry EXACT
integer numerator/denominator columns next to the float, so the gate
(`q_phrase_scores`) hash-verifies the whole computation in DuckDB —
cross-engine float division never enters the comparison.
``transform`` rewrites greedily left-to-right (each token joins at
most one phrase, the word2phrase behavior) inside ``mapInPandas``
with the promoted-phrase set broadcast. No reference counterpart
(LLM-pipeline extension).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from replay_spark.preprocessing.text import tokenize_expr
from replay_spark.utils.spark_utils import map_rows

__all__ = ["PhraseMiner"]


class PhraseMiner:
    """Learn PMI-promoted phrases from a corpus, then rewrite it.

    ``fit`` → ``self.phrases`` (DataFrame: a, b, pair_count,
    score_num, score_den, score) and caches the promoted set.
    ``transform`` adds ``output_column`` with promoted pairs joined
    by ``joiner``.
    """

    def __init__(
        self,
        text_column: str = "text",
        output_column: str = "phrased_text",
        min_count: int = 5,
        threshold: float = 10.0,
        delta: int = 5,
        joiner: str = "_",
        lowercase: bool = True,
        max_phrases: int = 1_000_000,
    ):
        if min_count < 1:
            raise ValueError("min_count must be >= 1")
        self.text_column = text_column
        self.output_column = output_column
        self.min_count = min_count
        self.threshold = threshold
        self.delta = delta
        self.joiner = joiner
        self.lowercase = lowercase
        self.max_phrases = max_phrases
        self.phrases: Optional[DataFrame] = None
        self._promoted: Optional[list] = None

    def _token_arrays(self, df: DataFrame) -> DataFrame:
        text = F.col(self.text_column)
        if self.lowercase:
            text = F.lower(text)
        return df.select(tokenize_expr(text).alias("_toks")).filter(
            F.size("_toks") > 0
        )

    def score_table(self, df: DataFrame) -> DataFrame:
        """All bigrams with ``pair_count >= min_count``, scored.

        ``score_num = (pair_count - delta) * N`` and ``score_den =
        count(a) * count(b)`` are exact BIGINTs; ``score`` is their
        double ratio.
        """
        toks = self._token_arrays(df).persist()
        try:
            uni = (
                toks.select(F.explode("_toks").alias("w"))
                .groupBy("w")
                .agg(F.count(F.lit(1)).alias("wc"))
            ).persist()
            n_tokens = (
                uni.agg(F.sum("wc").alias("n")).collect()[0]["n"] or 0
            )
            pairs = (
                toks.filter(F.size("_toks") >= 2)
                .select(
                    F.explode(
                        F.arrays_zip(
                            F.slice(
                                "_toks", 1, F.size("_toks") - 1
                            ).alias("a"),
                            F.slice(
                                "_toks", 2, F.size("_toks") - 1
                            ).alias("b"),
                        )
                    ).alias("p")
                )
                .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
                .groupBy("a", "b")
                .agg(F.count(F.lit(1)).alias("pair_count"))
                .filter(F.col("pair_count") >= self.min_count)
            )
            ua = uni.select(
                F.col("w").alias("a"), F.col("wc").alias("_ca")
            )
            ub = uni.select(
                F.col("w").alias("b"), F.col("wc").alias("_cb")
            )
            scored = (
                pairs.join(ua, "a")
                .join(ub, "b")
                .select(
                    "a",
                    "b",
                    "pair_count",
                    (
                        (F.col("pair_count") - F.lit(self.delta))
                        * F.lit(int(n_tokens))
                    ).cast("long").alias("score_num"),
                    (F.col("_ca") * F.col("_cb"))
                    .cast("long")
                    .alias("score_den"),
                )
                .withColumn(
                    "score",
                    F.col("score_num").cast("double")
                    / F.col("score_den").cast("double"),
                )
            )
            return scored
        finally:
            toks.unpersist()

    def fit(self, df: DataFrame) -> "PhraseMiner":
        scored = self.score_table(df)
        self.phrases = scored.filter(
            F.col("score") > F.lit(self.threshold)
        )
        self._promoted = [
            (r["a"], r["b"])
            for r in self.phrases.select("a", "b")
            .orderBy(F.desc("score_num"), "a", "b")
            .limit(self.max_phrases)
            .collect()
        ]
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        """Rewrite ``text_column`` joining promoted pairs — greedy
        left-to-right, each token consumed by at most one phrase."""
        if self._promoted is None:
            raise RuntimeError("fit() first")
        spark = df.sparkSession
        bc = spark.sparkContext.broadcast(frozenset(self._promoted))
        joiner = self.joiner
        lower = self.lowercase

        def process(text):
            if text is None:
                yield (None,)
                return
            phrases = bc.value
            toks = (text.lower() if lower else text).split()
            res = []
            i = 0
            while i < len(toks):
                if i + 1 < len(toks) and (toks[i], toks[i + 1]) in phrases:
                    res.append(toks[i] + joiner + toks[i + 1])
                    i += 2
                else:
                    res.append(toks[i])
                    i += 1
            yield (" ".join(res),)

        return map_rows(
            df,
            [self.text_column],
            process,
            [*df.columns, (self.output_column, StringType())],
        )
