"""Text-analysis operators for large-scale training-data pipelines.

All hot-path expressions are built-in Spark SQL functions (JVM-side,
whole-stage codegen): tokenization via regex split, quality ratios
via regexp_replace/length arithmetic, language ID via stopword-hit
counting over literal arrays, fingerprints via md5 of normalized
text. At 100 TB these are embarrassingly parallel scans — no
shuffle at all until an aggregation is requested.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType

from replay_spark.utils.spark_utils import (
    bucketed_apply_in_pandas,
    map_rows,
    stable_round,
)

__all__ = [
    "tokenize_expr",
    "token_count_expr",
    "bpe_token_count_expr",
    "TextStats",
    "CorpusStats",
    "ReadabilityScorer",
    "QualityScorer",
    "LanguageIdentifier",
    "fingerprint_expr",
    "rolling_fingerprint_expr",
    "RepetitionStats",
    "PIIScrubber",
    "DocumentChunker",
    "SentenceSplitter",
    "TextRankSummarizer",
    "BlocklistFilter",
    "CompressionRatioScorer",
    "TextNormalizer",
    "HashSplitter",
    "ScriptDetector",
    "HashSampler",
    "WeightedSampler",
    "LengthHistogram",
    "CorpusMixer",
    "VocabBuilder",
    "InvertedIndex",
    "FuzzyTokenMatcher",
    "BM25SearchScorer",
    "ReciprocalRankFusion",
    "TfIdfKeywords",
    "UnigramLMScorer",
    "BigramLMScorer",
    "KneserNeyBigramScorer",
    "PerplexityBucketer",
    "DSIRSelector",
    "CountMinSketch",
    "HeavyHitters",
    "HyperLogLog",
    "BloomFilter",
    "HdrQuantileSketch",
    "QualityFilterPipeline",
    "GopherQualityFilter",
    "C4TextCleaner",
    "SequencePacker",
    "BinPacker",
    "SourceCapFilter",
    "PII_PATTERNS",
    "LANG_STOPWORDS",
]

# GPT-2-style pre-tokenizer approximation (contractions, letter runs,
# digit runs, punctuation runs, each with an optional leading space).
# RE2-compatible (no lookaround) so a DuckDB oracle can mirror it.
BPE_ISH_PATTERN = r"'(?:[sdmt]|ll|ve|re)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+"

# Tiny per-language stopword lists for the n-gram/stopword heuristic.
# Deliberately small and embedded so the operator is self-contained
# and the DuckDB oracle can replicate it exactly.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein", "zu", "den"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "los", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "est", "dans"],
    "ru": ["и", "в", "не", "на", "что", "с", "по", "это", "как", "из"],
}


def tokenize_expr(text: Column) -> Column:
    """Whitespace tokenization; empty string → empty array."""
    trimmed = F.trim(text)
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count_expr(text: Column) -> Column:
    return F.size(tokenize_expr(text))


def bpe_token_count_expr(text: Column) -> Column:
    """Token count under the BPE-ish pre-tokenizer regex — a cheap
    JVM-side stand-in for a real BPE tokenizer's piece count (always
    ≥ the whitespace count; the shape LLM data pipelines budget by)."""
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN))


def fingerprint_expr(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the
    whitespace-normalized, lower-cased text — robust to formatting
    noise, usable as an exact near-normal-form dedup key."""
    return F.md5(F.lower(F.regexp_replace(F.trim(text), r"\s+", " ")))


def rolling_fingerprint_expr(
    text: Column, k: int = 8, gram: int = 8, hash_fn: str = "xxhash64"
) -> Column:
    """Winnowing-style rolling fingerprint: the k smallest hash
    values over all character ``gram``-grams of the normalized text
    (a bottom-k sketch). Containment of two docs' sketches estimates
    their gram-level overlap; identical-after-normalization docs have
    identical sketches. Pure expression — array ops stay in codegen,
    no shuffle.

    ``hash_fn``: ``"xxhash64"`` (default, fastest — JVM-side 64-bit
    ints) or ``"md5"`` (portable — lowercase hex digests whose
    lexicographic bottom-k is reproducible in any engine with an md5
    function, which is what the DuckDB oracle gate uses)."""
    norm = F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))
    positions = F.sequence(
        F.lit(1), F.greatest(F.length(norm) - F.lit(gram - 1), F.lit(1))
    )
    grams = F.transform(positions, lambda i: norm.substr(i, F.lit(gram)))
    if hash_fn == "xxhash64":
        hashes = F.array_distinct(F.transform(grams, lambda g: F.xxhash64(g)))
    elif hash_fn == "md5":
        hashes = F.array_distinct(F.transform(grams, lambda g: F.md5(g)))
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn!r}")
    return F.slice(F.array_sort(hashes), 1, k)


class TextStats:
    """Per-document structural statistics."""

    def __init__(self, text_column: str = "text"):
        self.text_column = text_column

    def transform(self, df: DataFrame) -> DataFrame:
        text = F.col(self.text_column)
        tokens = tokenize_expr(text)
        return df.withColumn("num_chars", F.length(text)).withColumn(
            "num_tokens", F.size(tokens)
        ).withColumn(
            "mean_token_len",
            F.when(
                F.size(tokens) > 0,
                F.aggregate(
                    F.transform(tokens, F.length),
                    F.lit(0),
                    lambda acc, x: acc + x,
                )
                / F.size(tokens),
            ).otherwise(F.lit(0.0)),
        ).withColumn(
            "num_lines", F.size(F.split(text, "\n"))
        )


class ReadabilityScorer:
    """Readability + lexical-diversity quality signals — the
    traditional-NLP tier of quality filtering (used alongside the
    heuristic and model tiers):

    * ``words_per_sentence`` — sentences split on ``[.!?]+`` runs;
    * ``chars_per_word`` — mean token length;
    * ``syllables_per_word`` — vowel-GROUP counting (``[aeiouy]+``
      runs per token), the standard cheap syllable proxy;
    * ``flesch`` — Flesch Reading Ease,
      ``206.835 − 1.015·(words/sentence) − 84.6·(syllables/word)``;
    * ``type_token_ratio`` — distinct tokens / tokens (lexical
      diversity; low TTR flags repetitive boilerplate).

    Every signal is ``regexp_count``/array arithmetic — JVM
    expressions a DuckDB oracle replays exactly; zero shuffles.
    Empty documents get nulls (a filter must see every row).
    """

    def __init__(self, text_column: str = "text"):
        self.text_column = text_column

    def transform(self, df: DataFrame) -> DataFrame:
        text = F.col(self.text_column)
        toks = tokenize_expr(F.lower(text))
        n_words = F.size(toks)
        n_sent = F.greatest(
            F.regexp_count(text, F.lit(r"[.!?]+")), F.lit(1)
        )
        n_chars = F.aggregate(
            F.transform(toks, F.length), F.lit(0), lambda a, x: a + x
        )
        n_syll = F.regexp_count(F.lower(text), F.lit(r"[aeiouy]+"))
        n_types = F.size(F.array_distinct(toks))
        wps = n_words.cast("double") / n_sent
        spw = n_syll.cast("double") / n_words
        out = (
            df.withColumn(
                "words_per_sentence",
                F.when(n_words > 0, stable_round(wps, 4)),
            )
            .withColumn(
                "chars_per_word",
                F.when(
                    n_words > 0,
                    stable_round(n_chars.cast("double") / n_words, 4),
                ),
            )
            .withColumn(
                "syllables_per_word",
                F.when(n_words > 0, stable_round(spw, 4)),
            )
            .withColumn(
                "flesch",
                F.when(
                    n_words > 0,
                    stable_round(
                        F.lit(206.835)
                        - F.lit(1.015) * wps
                        - F.lit(84.6) * spw,
                        4,
                    ),
                ),
            )
            .withColumn(
                "type_token_ratio",
                F.when(
                    n_words > 0,
                    stable_round(
                        n_types.cast("double") / n_words, 4
                    ),
                ),
            )
        )
        return out


class CorpusStats:
    """Corpus-level rollup — the summary table every pipeline run
    reports: per (group columns, default source+lang) document/token/
    char totals plus exact min/max and a median token length. One
    explode-free aggregation pass: token counts are array sizes
    computed in the projection, so the shuffle carries one partial
    row per group per partition (map-side combined); the median uses
    ``percentile_approx`` at accuracy 10000 over the group (the
    sketch merges map-side too — a hot group never ships raw rows).
    """

    def __init__(
        self,
        group_columns: tuple = ("source", "lang"),
        text_column: str = "text",
    ):
        self.group_columns = list(group_columns)
        self.text_column = text_column

    def transform(self, df: DataFrame) -> DataFrame:
        text = F.col(self.text_column)
        prepared = df.select(
            *self.group_columns,
            F.length(text).alias("_chars"),
            F.size(tokenize_expr(text)).alias("_toks"),
        )
        return prepared.groupBy(*self.group_columns).agg(
            F.count(F.lit(1)).alias("num_docs"),
            F.sum("_toks").alias("total_tokens"),
            F.sum("_chars").alias("total_chars"),
            F.min("_toks").alias("min_tokens"),
            F.max("_toks").alias("max_tokens"),
            F.percentile_approx("_toks", 0.5, 10000).alias("median_tokens"),
            F.round(F.avg("_chars"), 6).alias("avg_chars"),
        ).withColumn(
            # Exact-integer mean (chars * 1e6 per doc, floor): computed
            # with integral division over the two exact integer columns,
            # so it is bit-identical in ANY engine — unlike
            # round(avg(double), 6), where Spark rounds the shortest
            # decimal string while other engines round the binary
            # double and .xxx5-boundary values flip. The decimal(38,0)
            # cast keeps total_chars * 1e6 exact at petabyte char
            # counts (bigint would overflow past ~9e12 chars/group).
            "avg_chars_ppm",
            F.expr(
                "CAST((CAST(total_chars AS DECIMAL(38,0)) * 1000000)"
                " div num_docs AS BIGINT)"
            ),
        )


class QualityScorer:
    """Heuristic quality signals: alpha/digit/punct/space ratios,
    stopword ratio, mean word length, and a composite [0,1] score.

    The formula is deliberately simple arithmetic over counts so the
    operator is exactly reproducible in any SQL engine (and in the
    DuckDB oracle).
    """

    def __init__(self, text_column: str = "text", lang: str = "en"):
        self.text_column = text_column
        self.stopwords = LANG_STOPWORDS[lang]

    def transform(self, df: DataFrame) -> DataFrame:
        text = F.col(self.text_column)
        n = F.length(text).cast("double")
        tokens = tokenize_expr(F.lower(text))
        stop_lit = F.array(*[F.lit(s) for s in self.stopwords])
        stop_hits = F.size(F.filter(tokens, lambda t: F.array_contains(stop_lit, t)))
        out = (
            df.withColumn(
                "alpha_ratio",
                F.when(n > 0, F.length(F.regexp_replace(text, "[^a-zA-Z]", "")) / n)
                .otherwise(0.0),
            )
            .withColumn(
                "digit_ratio",
                F.when(n > 0, F.length(F.regexp_replace(text, "[^0-9]", "")) / n)
                .otherwise(0.0),
            )
            .withColumn(
                "space_ratio",
                F.when(n > 0, F.length(F.regexp_replace(text, "[^ ]", "")) / n)
                .otherwise(0.0),
            )
            .withColumn(
                "stopword_ratio",
                F.when(
                    F.size(tokens) > 0, stop_hits / F.size(tokens).cast("double")
                ).otherwise(0.0),
            )
        )
        return out.withColumn(
            "quality_score",
            F.least(
                F.lit(1.0),
                F.col("alpha_ratio") * 0.5
                + F.col("stopword_ratio") * 0.3
                + (1 - F.col("digit_ratio")) * 0.2,
            ),
        )


class LanguageIdentifier:
    """Stopword-hit language ID: argmax over per-language stopword
    counts; 'und' (undetermined) when nothing matches.

    Ties break to the lexicographically SMALLEST language code for
    determinism (pinned by a golden test with deliberately tied
    stopword hits, and by the q_lang_id DuckDB oracle).
    """

    def __init__(self, text_column: str = "text", output_column: str = "detected_lang"):
        self.text_column = text_column
        self.output_column = output_column

    def transform(self, df: DataFrame) -> DataFrame:
        tokens = tokenize_expr(F.lower(F.col(self.text_column)))
        scores = []
        for lang in sorted(LANG_STOPWORDS):
            stop_lit = F.array(*[F.lit(s) for s in LANG_STOPWORDS[lang]])
            scores.append(
                F.struct(
                    (
                        -F.size(
                            F.filter(
                                tokens, lambda t: F.array_contains(stop_lit, t)
                            )
                        )
                    ).alias("neg_hits"),
                    F.lit(lang).alias("lang"),
                )
            )
        # ascending sort on struct(-hits, lang): the first element has
        # the MOST hits, and on tied hits the lexicographically
        # smallest language code.
        best = F.sort_array(F.array(*scores))[0]
        return df.withColumn(
            self.output_column,
            F.when(best["neg_hits"] < 0, best["lang"]).otherwise(F.lit("und")),
        )


def _run_scan(arr: Column, finish) -> Column:
    """``finish`` of one run-length pass over ``arr`` sorted ascending;
    0.0 for a null ``arr``. The pass counts ``n`` and ``distinct``
    values, ``dupc`` chars in values occurring more than once, all
    ``chars``, and the longest run ``top`` with the first value to
    reach it, ``top_key`` (the strict ``>`` keeps the smallest)."""
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("n"),
        F.lit(0).alias("distinct"),
        F.lit(0).cast("long").alias("dupc"),
        F.lit(0).cast("long").alias("chars"),
        F.lit(0).alias("top"),
        F.lit(None).cast("string").alias("top_key"),
    )

    def step(acc: Column, x: Column) -> Column:
        same = x.eqNullSafe(acc["prev"])
        run = F.when(same, acc["run"] + 1).otherwise(1)
        # the second element of a run also counts the first's chars
        dup = F.when(
            same, F.length(x) * F.when(acc["run"] == 1, 2).otherwise(1)
        ).otherwise(0)
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            (acc["n"] + 1).alias("n"),
            (acc["distinct"] + F.when(same, 0).otherwise(1)).alias("distinct"),
            (acc["dupc"] + dup).alias("dupc"),
            (acc["chars"] + F.length(x)).alias("chars"),
            F.greatest(acc["top"], run).alias("top"),
            F.when(run > acc["top"], x).otherwise(acc["top_key"]).alias("top_key"),
        )

    return F.coalesce(
        F.aggregate(F.array_sort(arr), zero, step, finish), F.lit(0.0)
    )


def _repetition_signals(text: Column) -> dict:
    """RepetitionStats' four signals, each its own expression over
    ``text``: no signal reads another's arrays through an alias."""
    tokens = tokenize_expr(F.lower(text))
    lines = F.split(text, "\n")
    # a one-element transform binds the tokens for their three reads
    bigrams = F.transform(
        F.array(tokens),
        lambda tok: F.when(F.size(tok) < 2, F.array().cast("array<string>"))
        .otherwise(
            F.transform(
                F.sequence(F.lit(0), F.size(tok) - 2),
                lambda i: F.concat_ws(" ", F.slice(tok, i + 1, 2)),
            )
        ),
    )[0]
    return {
        "dup_word_frac": F.when(
            F.size(tokens) > 0,
            1 - F.size(F.array_distinct(tokens)) / F.size(tokens).cast("double"),
        ).otherwise(0.0),
        "dup_line_frac": _run_scan(
            lines, lambda s: 1 - s["distinct"] / s["n"].cast("double")
        ),
        "dup_line_char_frac": _run_scan(
            lines,
            lambda s: F.when(
                s["chars"] > 0, s["dupc"] / s["chars"].cast("double")
            ).otherwise(0.0),
        ),
        # a top bigram means two tokens, so the text is not empty
        "top_bigram_char_frac": _run_scan(
            bigrams,
            lambda s: F.when(
                s["top"] > 0,
                s["top"].cast("long")
                * F.length(s["top_key"])
                / F.length(text).cast("double"),
            ).otherwise(0.0),
        ),
    }


class RepetitionStats:
    """Gopher-style repetition quality signals (Rae et al. 2021,
    "Scaling Language Models", §A1.1 quality heuristics).

    Per document:

    * ``dup_word_frac`` — 1 − distinct/total whitespace tokens;
    * ``dup_line_frac`` — 1 − distinct/total '\\n'-lines;
    * ``dup_line_char_frac`` — fraction of line characters that sit
      in a line occurring more than once;
    * ``top_bigram_char_frac`` — (count × chars) of the most frequent
      word 2-gram over the document's character count (tie-break:
      count desc, bigram asc — deterministic).

    Plan shape: one projection of per-row expressions, no shuffle and
    no join. The line and bigram signals are each one sorted
    run-length scan (:func:`_run_scan`) whose ``finish`` is the ratio.
    No signal reads an array or a scan through a projected alias: a
    filter on a signal is pushed below the projection with every
    alias it reads inlined, which would evaluate the array per read.

    Each row is scored on its own: rows sharing an ``id_column``
    value, or with a null one, are not merged. That equals the
    per-id result whenever the id is unique and non-null.
    """

    def __init__(self, id_column: str = "doc_id", text_column: str = "text"):
        self.id_column = id_column
        self.text_column = text_column

    def transform(self, df: DataFrame) -> DataFrame:
        signals = _repetition_signals(F.col(self.text_column))
        return df.select(
            self.id_column, *[expr.alias(name) for name, expr in signals.items()]
        )


# RE2-compatible patterns (work identically under Java regex and
# DuckDB/RE2, so the oracle reproduces the operator exactly):
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    # (?:\+|\b) instead of \b\+?: \b before the non-word '+' fails at
    # a non-word boundary, so the optional '+' could never match and
    # international prefixes were left unmasked
    "phone": r"(?:\+|\b)\d{3}[- ]?\d{3}[- ]?\d{4}\b",
}


class PIIScrubber:
    """Detect and mask PII spans (emails, IPv4 addresses, phone-like
    numbers) — the scrub step corpus pipelines run before training.

    ``transform`` adds a ``{kind}_count`` column per pattern and a
    ``scrubbed_text`` column with every span replaced by
    ``[{KIND}]``. Everything is ``regexp_count``/``regexp_replace``
    — single-pass, codegen, no shuffle, scale-free. Patterns are
    deliberately RE2-compatible so any SQL engine verifies the
    output byte-for-byte; swap in stricter patterns per corpus via
    the ``patterns`` argument.
    """

    def __init__(
        self,
        text_column: str = "text",
        patterns: Optional[dict] = None,
        output_column: str = "scrubbed_text",
    ):
        self.text_column = text_column
        self.patterns = dict(patterns or PII_PATTERNS)
        self.output_column = output_column

    def transform(self, df: DataFrame) -> DataFrame:
        text = F.col(self.text_column)
        for kind, pat in self.patterns.items():
            df = df.withColumn(
                f"{kind}_count", F.regexp_count(text, F.lit(pat))
            )
        scrubbed = text
        for kind, pat in self.patterns.items():
            scrubbed = F.regexp_replace(
                scrubbed, pat, f"[{kind.upper()}]"
            )
        return df.withColumn(self.output_column, scrubbed)


class DocumentChunker:
    """Split documents into fixed-token-budget training chunks.

    Emits one row per chunk: (id, chunk_idx, chunk_text, n_tokens),
    where chunks are consecutive non-overlapping windows of up to
    ``max_tokens`` whitespace tokens (``overlap`` tokens of lookback
    optional). The chunk text is the whitespace-normalized re-join of
    its tokens — the form a tokenizer consumes — NOT the original
    byte span. Pure expression work per row (sequence + slice +
    posexplode): no shuffle, no UDF; a 100 TB corpus chunks at scan
    speed. Documents with zero tokens emit no rows; non-empty
    documents always emit at least one chunk (even when
    ``n_tokens <= overlap``).
    """

    def __init__(
        self,
        id_column: str = "doc_id",
        text_column: str = "text",
        max_tokens: int = 512,
        overlap: int = 0,
    ):
        if max_tokens < 1:
            raise ValueError("max_tokens must be >= 1")
        if not 0 <= overlap < max_tokens:
            raise ValueError("overlap must be in [0, max_tokens)")
        self.id_column = id_column
        self.text_column = text_column
        self.max_tokens = max_tokens
        self.overlap = overlap

    def transform(self, df: DataFrame) -> DataFrame:
        tokens = tokenize_expr(F.col(self.text_column))
        stride = self.max_tokens - self.overlap
        # number of chunks = max(ceil((n - overlap) / stride), 1) for
        # n > 0: the floor of 1 keeps short documents (0 < n <= overlap,
        # where the ceil is <= 0) as a single whole-document chunk
        # instead of silently dropping them
        n = F.size(tokens)
        n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
            F.greatest(
                F.ceil((n - F.lit(self.overlap)) / F.lit(stride)).cast("int"),
                F.lit(1),
            )
        )
        chunks = F.transform(
            F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
            lambda i: F.slice(
                tokens, i * stride + 1, self.max_tokens
            ),
        )
        out = df.select(
            self.id_column,
            F.posexplode(
                F.when(n_chunks > 0, chunks).otherwise(
                    F.array().cast("array<array<string>>")
                )
            ).alias("chunk_idx", "_chunk_tokens"),
        )
        return out.select(
            self.id_column,
            "chunk_idx",
            F.concat_ws(" ", "_chunk_tokens").alias("chunk_text"),
            F.size("_chunk_tokens").alias("n_tokens"),
        )


class HashSplitter:
    """Deterministic train/validation/test corpus splitting by key
    hash — the split every dataset card describes ("docs are
    assigned by hash of id"): bucket = md5/xxhash64(key) mod
    ``granularity``, contiguous bucket ranges map to named splits by
    weight. Stable under corpus growth (a document's split never
    changes when other documents arrive — the property random
    splits lack), reproducible in any engine (md5 family →
    ``q_hash_split`` gate), zero shuffle: the assignment is a
    projection.

    Not the interaction-level :mod:`replay_spark.splitters` (those
    implement the reference's recsys split semantics); this is the
    corpus-level device. No reference counterpart (LLM-pipeline
    extension).
    """

    def __init__(
        self,
        weights: dict,
        key_column: str = "doc_id",
        granularity: int = 10_000,
        hash_family: str = "md5",
        output_column: str = "split",
    ):
        if not weights or abs(sum(weights.values()) - 1.0) > 1e-9:
            raise ValueError("weights must be a non-empty dict summing to 1")
        if hash_family not in ("md5", "xxhash64"):
            raise ValueError(f"unknown hash_family: {hash_family!r}")
        self.weights = dict(weights)
        self.key_column = key_column
        self.granularity = granularity
        self.hash_family = hash_family
        self.output_column = output_column

    def transform(self, df: DataFrame) -> DataFrame:
        key = F.col(self.key_column).cast("string")
        if self.hash_family == "xxhash64":
            bucket = F.pmod(F.xxhash64(key), F.lit(self.granularity))
        else:
            bucket = F.pmod(
                F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast(
                    "long"
                ),
                F.lit(self.granularity),
            )
        # cumulative integer bucket boundaries, deterministic order
        expr = None
        acc = 0
        names = list(self.weights)
        for i, name in enumerate(names):
            if i == len(names) - 1:
                hi = self.granularity  # absorb rounding remainder
            else:
                hi = acc + int(round(self.weights[name] * self.granularity))
            cond = bucket < F.lit(hi)
            expr = (
                F.when(cond, F.lit(name))
                if expr is None
                else expr.when(cond, F.lit(name))
            )
            acc = hi
        return df.withColumn(self.output_column, expr)


class LengthHistogram:
    """Power-of-two token-length histogram per group — the one-line
    shape check run before choosing chunking/packing budgets:
    ``bucket = floor(log2(n_tokens))`` (bucket −1 for empty docs),
    counted per ``group_columns``. Integer arithmetic via the
    ``bin()``-length device (no float log), one map-side-combined
    aggregation; ``q_length_histogram`` replays it exactly. No
    reference counterpart (LLM-pipeline extension).
    """

    def __init__(
        self,
        text_column: str = "text",
        group_columns: tuple = (),
    ):
        self.text_column = text_column
        self.group_columns = tuple(group_columns)

    def transform(self, df: DataFrame) -> DataFrame:
        n = token_count_expr(F.col(self.text_column)).cast("long")
        bucket = F.when(n <= 0, F.lit(-1)).otherwise(
            F.length(F.bin(n)) - 1
        ).cast("long")
        gcols = list(self.group_columns)
        out = df.withColumn("_bucket", bucket)
        return (
            out.groupBy(*gcols, "_bucket")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(n).alias("total_tokens"),
            )
            .withColumnRenamed("_bucket", "len_bucket")
        )


class HashSampler:
    """Deterministic corpus sampling — ``rand()`` without the
    nondeterminism: keep a row iff ``md5(seed:key) mod G <
    rate · G`` (G = 2^20). The sample is a pure function of
    (key, seed): re-runs, retries, and different engines agree
    row-for-row (``q_hash_sample`` hash gate), a row's fate never
    depends on what else is in the corpus, and disjoint seeds give
    independent samples. Optional per-group ``rates`` dict (e.g.
    per-source downsampling factors — the CorpusMixer realization
    step without RNG).

    Pure projection; zero shuffle; the filter pushes to the scan.
    No reference counterpart (LLM-pipeline extension).
    """

    GRANULARITY = 1 << 20

    def __init__(
        self,
        rate: Optional[float] = None,
        rates: Optional[dict] = None,
        key_column: str = "doc_id",
        group_column: Optional[str] = None,
        seed: int = 0,
    ):
        if (rate is None) == (rates is None):
            raise ValueError("give exactly one of rate / rates")
        if rates is not None and group_column is None:
            raise ValueError("rates requires group_column")
        for r in [rate] if rate is not None else rates.values():
            if not 0.0 <= r <= 1.0:
                raise ValueError("rates must be in [0, 1]")
        self.rate = rate
        self.rates = dict(rates) if rates else None
        self.key_column = key_column
        self.group_column = group_column
        self.seed = seed

    def _bucket(self) -> Column:
        key = F.concat(
            F.lit(f"{self.seed}:"),
            F.col(self.key_column).cast("string"),
        )
        return F.pmod(
            F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long"),
            F.lit(self.GRANULARITY),
        )

    def transform(self, df: DataFrame) -> DataFrame:
        bucket = self._bucket()
        if self.rate is not None:
            thr = int(self.rate * self.GRANULARITY)
            return df.filter(bucket < thr)
        thr_expr = None
        for grp, r in sorted(self.rates.items()):
            t = F.lit(int(r * self.GRANULARITY))
            cond = F.col(self.group_column) == F.lit(grp)
            thr_expr = (
                F.when(cond, t)
                if thr_expr is None
                else thr_expr.when(cond, t)
            )
        thr_expr = thr_expr.otherwise(F.lit(0))  # unlisted groups drop
        return df.filter(bucket < thr_expr)


class WeightedSampler:
    """Weighted sampling WITHOUT replacement (Efraimidis & Spirakis
    2006, "Weighted random sampling with a reservoir"): keep the
    ``k`` rows with the largest ``u^(1/w)`` keys — equivalently the
    largest ``ln(u)/w`` — which draws each subset with probability
    proportional to its weights, the quality-weighted
    document-selection primitive ("sample 1M docs ∝ quality score").

    Determinism: ``u`` derives from ``md5(seed:key)`` (a pure
    function of the row, the StratifiedSampler device), so re-runs
    and engines agree row-for-row; the selection key is
    stable-rounded with the id as tie-break, so the cross-engine
    ``ln`` last-ulp class can't flip membership.

    Plan shape — no global total order: rank within ``salts`` hash
    buckets first (every global winner is a bucket winner), then an
    exact rank over the bounded ``<= salts·k`` survivors, then one
    LEFT SEMI join back (AQE broadcasts the key set) so full-width
    rows never shuffle. No reference counterpart (training-data
    extension).
    """

    def __init__(
        self,
        k: int,
        weight_column: str = "weight",
        key_column: str = "doc_id",
        seed: int = 0,
        salts: int = 32,
    ):
        if k < 1:
            raise ValueError("k must be >= 1")
        if salts < 1:
            raise ValueError("salts must be >= 1")
        self.k = k
        self.weight_column = weight_column
        self.key_column = key_column
        self.seed = seed
        self.salts = salts

    def _selection_key(self) -> Column:
        from replay_spark.utils.spark_utils import stable_round

        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.lit(f"ws{self.seed}"),
                        F.col(self.key_column).cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 60))
        return stable_round(
            F.log(u) / F.col(self.weight_column).cast("double"), 9
        )

    def ranked(self, df: DataFrame) -> DataFrame:
        """``[key, sample_rank]`` — the ``k`` winners (weights must
        be > 0; nulls/non-positives are excluded)."""
        kc = self.key_column
        slim = df.select(kc, self.weight_column).filter(
            F.col(self.weight_column).isNotNull()
            & (F.col(self.weight_column) > 0)
        )
        scored = slim.select(
            kc, self._selection_key().alias("_r")
        ).withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.col(kc)), F.lit(self.salts)),
        )
        w_local = Window.partitionBy("_salt").orderBy(
            F.col("_r").desc(), F.col(kc).asc()
        )
        local = scored.withColumn(
            "_rn", F.row_number().over(w_local)
        ).filter(F.col("_rn") <= self.k)
        w_global = Window.orderBy(F.col("_r").desc(), F.col(kc).asc())
        return (
            local.withColumn("sample_rank", F.row_number().over(w_global))
            .filter(F.col("sample_rank") <= self.k)
            .select(kc, F.col("sample_rank").cast("long").alias("sample_rank"))
        )

    def transform(self, df: DataFrame) -> DataFrame:
        """The sampled rows of ``df`` (original columns)."""
        return df.join(
            self.ranked(df).select(self.key_column),
            on=self.key_column,
            how="left_semi",
        )


class StratifiedSampler:
    """EXACT-count stratified sampling: keep exactly ``n`` rows per
    stratum (or a per-stratum ``counts`` dict, or
    ``floor(fraction * |stratum|)`` via ``fractions``), chosen
    deterministically by ``md5(seed:key)`` rank — the ``rand()``-free,
    exact-count twin of ``df.sampleBy`` (which is probabilistic in
    BOTH membership and size). The sample is a pure function of
    (key, seed): re-runs and engines agree row-for-row, and growing a
    stratum only ever evicts the largest-digest rows.

    Plan shape — no per-stratum total ordering anywhere (a hot
    stratum never lands on one reducer), the SourceCapFilter pattern:

    1. 3-column projection ``(stratum, key, digest)``; rank within
       ``(stratum, salt)`` and keep each salt bucket's ``n_g``
       smallest digests — every one of a stratum's ``n_g`` global
       winners is among its salt bucket's ``n_g`` smallest, so no
       winner is lost;
    2. exact rank over the surviving ``<= salts * n_g`` candidates
       per stratum (bounded, skew-free) picks the final keys;
    3. one LEFT SEMI join (AQE broadcasts the small key set) filters
       the corpus — full-width rows are never shuffled.

    ``fractions`` runs one extra map-side-combined count pass to turn
    fractions into exact counts (strata assumed driver-bounded —
    sources/languages, not user ids). Strata absent from ``counts``/
    ``fractions`` are dropped ("select only what's listed"); strata
    smaller than their target keep every row. No reference
    counterpart (LLM-pipeline extension).
    """

    def __init__(
        self,
        n: Optional[int] = None,
        counts: Optional[dict] = None,
        fractions: Optional[dict] = None,
        stratum_column: str = "source",
        key_column: str = "doc_id",
        seed: int = 0,
        salts: int = 32,
    ):
        given = sum(x is not None for x in (n, counts, fractions))
        if given != 1:
            raise ValueError("give exactly one of n / counts / fractions")
        if n is not None and n < 1:
            raise ValueError("n must be >= 1")
        if counts and any(c < 0 for c in counts.values()):
            raise ValueError("counts must be >= 0")
        if fractions and any(
            not 0.0 <= f <= 1.0 for f in fractions.values()
        ):
            raise ValueError("fractions must be in [0, 1]")
        if salts < 1:
            raise ValueError("salts must be >= 1")
        self.n = n
        self.counts = dict(counts) if counts else None
        self.fractions = dict(fractions) if fractions else None
        self.stratum_column = stratum_column
        self.key_column = key_column
        self.seed = seed
        self.salts = salts

    def _digest(self) -> Column:
        return F.md5(
            F.concat(
                F.lit(f"{self.seed}:"),
                F.col(self.key_column).cast("string"),
            )
        )

    def _cap_expr(self, counts: Optional[dict]) -> Column:
        if counts is None:
            return F.lit(int(self.n))
        cap = None
        for g, c in sorted(counts.items()):
            cond = F.col(self.stratum_column) == g
            cap = (
                F.when(cond, int(c))
                if cap is None
                else cap.when(cond, int(c))
            )
        if cap is None:
            return F.lit(0)
        return cap.otherwise(F.lit(0))

    def sampled_keys(self, df: DataFrame) -> DataFrame:
        """The sampled ``(stratum, key)`` pairs (the cheap half — use
        directly when only keys are needed downstream)."""
        from pyspark.sql import Window

        counts = self.counts
        if self.fractions is not None:
            sizes = {
                r["_g"]: r["_n"]
                for r in df.groupBy(
                    F.col(self.stratum_column).alias("_g")
                )
                .agg(F.count(F.lit(1)).alias("_n"))
                .collect()
            }
            counts = {
                g: int(f * sizes.get(g, 0))
                for g, f in self.fractions.items()
            }
        cap = self._cap_expr(counts)
        proj = df.select(
            self.stratum_column,
            self.key_column,
            self._digest().alias("_d"),
        ).withColumn("_cap", cap)
        proj = proj.filter(F.col("_cap") > 0)
        salted = proj.withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.col(self.key_column)), F.lit(self.salts)),
        )
        w1 = Window.partitionBy(self.stratum_column, "_salt").orderBy(
            "_d", self.key_column
        )
        local = salted.withColumn("_r1", F.row_number().over(w1)).filter(
            F.col("_r1") <= F.col("_cap")
        )
        w2 = Window.partitionBy(self.stratum_column).orderBy(
            "_d", self.key_column
        )
        return (
            local.withColumn("_r2", F.row_number().over(w2))
            .filter(F.col("_r2") <= F.col("_cap"))
            .select(self.stratum_column, self.key_column)
        )

    def transform(self, df: DataFrame) -> DataFrame:
        """Keep the sampled rows (full width) — one semi join."""
        keys = self.sampled_keys(df)
        return df.join(
            keys,
            on=[self.stratum_column, self.key_column],
            how="left_semi",
        )


class GlobalShuffler:
    """Deterministic global corpus shuffle + sharding for training
    export — the "shuffle once, then stream shards sequentially"
    step every pretraining run needs, without ``rand()``: a row's
    shard is ``md5(seed:key) mod num_shards`` and its position
    within the shard is its md5 rank, so the permutation is a pure
    function of (key, seed) — re-runs, retries, and different
    engines produce the identical order (``q_global_shuffle`` hash
    gate), and changing the seed is a fresh independent shuffle.

    At scale: the shard assignment is a projection (no shuffle);
    positions need ONE hash-partitioned sort — md5 is uniform, so
    shards are balanced by construction and the per-shard sort is
    spill-safe. Feed the result straight to
    :func:`replay_spark.data.tfrecord.write_tfrecord` /
    ``write_webdataset`` with ``shard_column="shard"``. No reference
    counterpart (LLM-pipeline extension).
    """

    def __init__(
        self,
        num_shards: int = 16,
        key_column: str = "doc_id",
        seed: int = 0,
        shard_column: str = "shard",
        position_column: str = "position",
    ):
        if num_shards < 1:
            raise ValueError("num_shards must be >= 1")
        self.num_shards = num_shards
        self.key_column = key_column
        self.seed = seed
        self.shard_column = shard_column
        self.position_column = position_column

    def transform(self, df: DataFrame) -> DataFrame:
        h = F.md5(
            F.concat(
                F.lit(f"{self.seed}:"),
                F.col(self.key_column).cast("string"),
            )
        )
        shard = F.pmod(
            F.conv(F.substring(h, 1, 15), 16, 10).cast("long"),
            F.lit(self.num_shards),
        )
        out = df.withColumn("_h", h).withColumn(self.shard_column, shard)
        w = (
            Window.partitionBy(self.shard_column)
            .orderBy(F.col("_h"), F.col(self.key_column))
        )
        return out.withColumn(
            self.position_column, F.row_number().over(w).cast("long")
        ).drop("_h")


class ScriptDetector:
    """Unicode-script composition signals — the char-level companion
    to the stopword :class:`LanguageIdentifier` (scripts separate
    what stopword lists cannot: a Cyrillic document never needs an
    English stopword probe): per-script character counts over
    configurable codepoint ranges, each script's fraction of LETTER
    characters, and the dominant script (ties to the
    lexicographically smallest name; ``und`` when no letters).

    Counting is ``regexp_count`` over literal character-class ranges
    — JVM-side, RE2-compatible, replayed exactly by the
    ``q_script_detect`` oracle. Zero shuffle. No reference
    counterpart (LLM-pipeline extension).
    """

    # [start, end] codepoint ranges per script (the major blocks;
    # extend per deployment)
    SCRIPTS: dict = {
        "latin": [("A", "Z"), ("a", "z"), ("À", "ɏ")],
        "cyrillic": [("Ѐ", "ӿ")],
        "greek": [("Ͱ", "Ͽ")],
        "arabic": [("؀", "ۿ")],
        "cjk": [("一", "鿿"), ("぀", "ヿ")],
    }

    def __init__(self, text_column: str = "text"):
        self.text_column = text_column

    @classmethod
    def _pattern(cls, script: str) -> str:
        return (
            "["
            + "".join(f"{lo}-{hi}" for lo, hi in cls.SCRIPTS[script])
            + "]"
        )

    def transform(self, df: DataFrame) -> DataFrame:
        text = F.col(self.text_column)
        out = df
        counts = {}
        for script in sorted(self.SCRIPTS):
            c = F.regexp_count(text, F.lit(self._pattern(script))).cast(
                "long"
            )
            counts[script] = c
            out = out.withColumn(f"n_{script}", c)
        total = None
        for c in counts.values():
            total = c if total is None else total + c
        out = out.withColumn("n_letters", total)
        for script in sorted(self.SCRIPTS):
            out = out.withColumn(
                f"frac_{script}",
                F.when(
                    F.col("n_letters") > 0,
                    F.col(f"n_{script}")
                    / F.col("n_letters").cast("double"),
                ).otherwise(F.lit(0.0)),
            )
        best = F.sort_array(
            F.array(
                *[
                    F.struct(
                        (-F.col(f"n_{s}")).alias("neg"),
                        F.lit(s).alias("script"),
                    )
                    for s in sorted(self.SCRIPTS)
                ]
            )
        )[0]
        return out.withColumn(
            "dominant_script",
            F.when(best["neg"] < 0, best["script"]).otherwise(
                F.lit("und")
            ),
        )


class TextNormalizer:
    """Unicode normalization for dedup keys and tokenizer inputs —
    the step CCNet/Dolma run before hashing so that visually
    identical strings (composed vs combining-mark accents,
    compatibility ligatures, width variants) collide: ``form``
    (NFC/NFKC/NFD/NFKD via ``unicodedata``), optional accent
    stripping (NFD → drop combining marks → recompose), optional
    lowercasing.

    Unicode's normalization-stability policy makes the mapping
    version-independent for assigned codepoints, which is why the
    ``q_text_normalize`` gate can hash-match DuckDB's ICU
    ``nfc_normalize``/``strip_accents`` on planted accent forms.
    Arrow-batched ``mapInPandas`` (Python's ``unicodedata`` is the
    reference implementation; there is no JVM builtin) — an
    embarrassingly parallel scan. No reference counterpart
    (LLM-pipeline extension).
    """

    def __init__(
        self,
        text_column: str = "text",
        output_column: str = "text_norm",
        form: str = "NFC",
        strip_accents: bool = False,
        lowercase: bool = False,
    ):
        if form not in ("NFC", "NFKC", "NFD", "NFKD"):
            raise ValueError(f"unknown form: {form!r}")
        self.text_column = text_column
        self.output_column = output_column
        self.form = form
        self.strip_accents = strip_accents
        self.lowercase = lowercase

    def transform(self, df: DataFrame) -> DataFrame:
        import unicodedata

        form, strip, lower = self.form, self.strip_accents, self.lowercase
        recompose = form if form in ("NFC", "NFKC") else "NFC"

        def normalize(s):
            if s is not None:
                s = unicodedata.normalize(form, s)
                if strip:
                    s = "".join(
                        c
                        for c in unicodedata.normalize("NFD", s)
                        if not unicodedata.combining(c)
                    )
                    s = unicodedata.normalize(recompose, s)
                if lower:
                    s = s.lower()
            yield (s,)

        return map_rows(
            df,
            [self.text_column],
            normalize,
            [*df.columns, (self.output_column, StringType())],
        )


class CompressionRatioScorer:
    """zlib compression ratio as a document quality signal — the
    Dolma/Gopher-family heuristic the regex tiers can't express:
    heavily templated or repetitive documents compress far below
    natural prose (ratio = compressed/raw bytes; boilerplate ≈ 0.1,
    English prose ≈ 0.4-0.6, random ≈ 1).

    Runs in ``mapInPandas`` (stdlib ``zlib``, pinned ``level`` so the
    byte count is reproducible on a fixed zlib build). DEFLATE's
    emitted length is not a cross-engine-portable quantity, so the
    contract gate is rows-only (``q_compression_ratio``); the
    signal's ORDERING properties (repetitive < prose < random) are
    pinned by tests. Embarrassingly parallel; one cheap pass.
    No reference counterpart (LLM-pipeline extension).
    """

    def __init__(
        self,
        text_column: str = "text",
        id_column: str = "doc_id",
        level: int = 6,
    ):
        if not 1 <= level <= 9:
            raise ValueError("level must be in [1, 9]")
        self.text_column = text_column
        self.id_column = id_column
        self.level = level

    def transform(self, df: DataFrame) -> DataFrame:
        import zlib

        level = self.level

        def score(text):
            raw = (text or "").encode("utf-8")
            comp = len(zlib.compress(raw, level))
            yield len(raw), comp, comp / len(raw) if raw else None

        return map_rows(
            df,
            [self.text_column],
            score,
            [
                self.id_column,
                ("raw_bytes", LongType()),
                ("compressed_bytes", LongType()),
                ("compression_ratio", DoubleType()),
            ],
        )


class SentenceSplitter:
    """Regex sentence segmentation: one row per sentence with its
    in-document index — the explode LLM pipelines run before
    sentence-level dedup or contamination checks.

    A sentence is a maximal run of non-terminal characters followed
    by a terminal-punctuation run (``[.!?]+``); a trailing unpunctuated
    remnant is its own sentence. The pattern is lookaround-free
    (``[^.!?]+[.!?]+|[^.!?]+$``) so RE2-family engines — and the
    ``q_sentences`` DuckDB oracle — extract identical spans.
    Whitespace is trimmed per sentence; empty sentences are dropped.

    One posexplode, no shuffle. No reference counterpart
    (LLM-pipeline extension).
    """

    PATTERN = r"[^.!?]+[.!?]+|[^.!?]+$"

    def __init__(
        self,
        text_column: str = "text",
        id_column: str = "doc_id",
        min_chars: int = 1,
    ):
        self.text_column = text_column
        self.id_column = id_column
        self.min_chars = min_chars

    def transform(self, df: DataFrame) -> DataFrame:
        sentences = F.filter(
            F.transform(
                F.regexp_extract_all(
                    F.col(self.text_column), F.lit(self.PATTERN), 0
                ),
                # NOT bare F.trim: transform would feed the element
                # INDEX into trim's trim-characters parameter
                lambda s: F.trim(s),
            ),
            lambda s: F.length(s) >= self.min_chars,
        )
        return df.select(
            self.id_column,
            F.posexplode(sentences).alias("sentence_index", "sentence"),
        )


class BlocklistFilter:
    """C4-style blocklist gating: count occurrences of listed words /
    phrases per document (case-insensitive, word-boundary matched
    for single words, substring matched for phrases) and drop
    documents at or above ``max_hits``. The published pipelines run
    this with a large profanity blocklist; the operator takes ANY
    list — the mechanism, thresholds and audit columns are the
    operator, the list is configuration.

    One regex alternation evaluated JVM-side (RE2-compatible: plain
    escaped literals with ``\\b`` boundaries), zero shuffle —
    ``blocklist_hits`` + ``blocked`` columns via ``transform``,
    passing rows via ``filter``. No reference counterpart
    (LLM-pipeline extension).
    """

    def __init__(
        self,
        blocklist: tuple,
        text_column: str = "text",
        max_hits: int = 1,
    ):
        if not blocklist:
            raise ValueError("blocklist must be non-empty")
        if max_hits < 1:
            raise ValueError("max_hits must be >= 1")
        self.blocklist = tuple(w.lower() for w in blocklist)
        self.text_column = text_column
        self.max_hits = max_hits
        import re as _re

        parts = []
        for w in self.blocklist:
            esc = _re.escape(w)
            # single words get word boundaries; phrases match as-is
            parts.append(rf"\b{esc}\b" if " " not in w else esc)
        self.pattern = "|".join(parts)

    def transform(self, df: DataFrame) -> DataFrame:
        hits = F.regexp_count(
            F.lower(F.col(self.text_column)), F.lit(self.pattern)
        ).cast("long")
        return df.withColumn("blocklist_hits", hits).withColumn(
            "blocked", F.col("blocklist_hits") >= self.max_hits
        )

    def filter(self, df: DataFrame) -> DataFrame:
        return (
            self.transform(df)
            .filter(~F.col("blocked"))
            .select(*df.columns)
        )


class TextRankSummarizer:
    """Extractive summarization (TextRank, Mihalcea & Tarau 2004):
    per document, rank sentences by PageRank over the
    sentence-similarity graph (edge weight = token-overlap
    similarity normalized by log lengths) and keep the top
    ``num_sentences`` in original order — the summarize-before-
    inspect pass corpus curation uses on long documents.

    Per-document graphs are tiny (sentences², not corpus²), so each
    document's power iteration runs exactly in numpy inside
    ``applyInPandas`` grouped by doc — embarrassingly parallel,
    deterministic (fixed iteration count, no RNG), zero driver
    involvement. Composes :class:`SentenceSplitter` for the
    segmentation. Rows-only contract (``q_textrank`` — the power
    iteration is not SQL); ranking behavior pinned by golden tests.
    No reference counterpart (LLM-pipeline extension).
    """

    def __init__(
        self,
        num_sentences: int = 3,
        text_column: str = "text",
        id_column: str = "doc_id",
        damping: float = 0.85,
        iterations: int = 30,
    ):
        if num_sentences < 1:
            raise ValueError("num_sentences must be >= 1")
        self.num_sentences = num_sentences
        self.text_column = text_column
        self.id_column = id_column
        self.damping = damping
        self.iterations = iterations

    def transform(self, df: DataFrame) -> DataFrame:
        """``[<id>, summary, n_sentences_in, n_sentences_out]``."""
        import numpy as np

        idc = self.id_column
        k, d, iters = self.num_sentences, self.damping, self.iterations
        sentences = SentenceSplitter(
            text_column=self.text_column, id_column=idc
        ).transform(df)

        def summarize_doc(doc_id, pdf: pd.DataFrame) -> tuple:
            sents = list(pdf["sentence"])
            n = len(sents)
            if n <= k:
                keep = list(range(n))
            else:
                token_sets = [
                    set(s.lower().split()) for s in sents
                ]
                # pairwise overlap counts as ONE binary-incidence
                # matmul instead of n²/2 Python set intersections —
                # the counts are exact small integers either way, so
                # W is bit-identical to the loop form while long
                # documents (hundreds of sentences) drop from
                # seconds to milliseconds
                vocab: dict = {}
                for ts in token_sets:
                    for t in ts:
                        if t not in vocab:
                            vocab[t] = len(vocab)
                M = np.zeros((n, max(1, len(vocab))))
                for i, ts in enumerate(token_sets):
                    for t in ts:
                        M[i, vocab[t]] = 1.0
                inter = M @ M.T
                lens = np.log(M.sum(axis=1) + 1)
                denom = lens[:, None] + lens[None, :]
                W = np.where(inter > 0, inter / np.maximum(denom, 1e-300), 0.0)
                np.fill_diagonal(W, 0.0)
                row_sums = W.sum(axis=1)
                r = np.full(n, 1.0 / n)
                for _ in range(iters):
                    contrib = np.where(
                        row_sums > 0, r / np.maximum(row_sums, 1e-12), 0.0
                    )
                    r = (1 - d) / n + d * (W @ contrib)
                # top-k by (score desc, position asc), emitted in
                # original order
                order = sorted(
                    range(n), key=lambda i: (-r[i], i)
                )[:k]
                keep = sorted(order)
            summary = " ".join(sents[i] for i in keep)
            return (doc_id, summary, n, len(keep))

        def summarize_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values([idc, "sentence_index"])
            rows = [
                summarize_doc(doc_id, g)
                for doc_id, g in pdf.groupby(idc, sort=False)
            ]
            return pd.DataFrame(
                rows,
                columns=[idc, "summary", "n_sentences_in", "n_sentences_out"],
            )

        import pandas as pd  # noqa: F811

        return bucketed_apply_in_pandas(
            sentences,
            idc,
            summarize_bucket,
            f"{idc} long, summary string, "
            "n_sentences_in long, n_sentences_out long",
        )


class CorpusMixer:
    """Stratified corpus mixing: sample each stratum (source/domain/
    language) at its own rate to hit a target mixture.

    ``fractions`` maps stratum value → sampling fraction in [0, 1];
    strata absent from the map use ``default_fraction`` (0.0 drops
    them). Sampling is `df.sampleBy` — per-row Bernoulli with a
    per-stratum rate, seeded, executed entirely at scan time with no
    shuffle; exact at corpus scale by the law of large numbers.
    ``plan_fractions`` computes the fractions needed to reach target
    PROPORTIONS given the observed stratum counts and a total budget
    (one small groupBy-count, collected — #strata rows, driver-safe).
    """

    def __init__(
        self,
        stratum_column: str = "source",
        fractions: Optional[dict] = None,
        default_fraction: float = 0.0,
        seed: int = 42,
    ):
        self.stratum_column = stratum_column
        self.fractions = dict(fractions or {})
        self.default_fraction = default_fraction
        self.seed = seed

    @staticmethod
    def plan_fractions(
        df: DataFrame,
        stratum_column: str,
        target_proportions: dict,
        total_rows: int,
    ) -> dict:
        """fractions achieving ``target_proportions`` of
        ``total_rows``, capped at 1.0 (can't upsample without
        replacement — undershoot is reported by the caller comparing
        counts)."""
        counts = {
            r[stratum_column]: r["count"]
            for r in df.groupBy(stratum_column).count().collect()
        }
        out = {}
        for stratum, prop in target_proportions.items():
            have = counts.get(stratum, 0)
            want = prop * total_rows
            out[stratum] = min(1.0, want / have) if have else 0.0
        return out

    @staticmethod
    def plan_temperature_fractions(
        df: DataFrame,
        stratum_column: str,
        total_rows: int,
        alpha: float = 0.5,
    ) -> dict:
        """Temperature-scaled mixture planning — the multilingual /
        LLM "alpha sampling" rule (mC4, XLM-R): target proportion of
        stratum s is ``n_s^alpha / Σ n^alpha``. ``alpha=1`` keeps the
        natural distribution; ``alpha → 0`` flattens toward uniform,
        upweighting rare domains/languages. One small groupBy-count
        collected (#strata rows, driver-safe), then the same
        capped-fraction conversion as :meth:`plan_fractions`."""
        if not 0.0 < alpha <= 1.0:
            raise ValueError("alpha must be in (0, 1]")
        counts = {
            r[stratum_column]: r["count"]
            for r in df.groupBy(stratum_column).count().collect()
        }
        z = sum(n ** alpha for n in counts.values())
        if z == 0:
            return {s: 0.0 for s in counts}
        props = {s: (n ** alpha) / z for s, n in counts.items()}
        return {
            s: min(1.0, props[s] * total_rows / n) if n else 0.0
            for s, n in counts.items()
        }

    def transform(self, df: DataFrame) -> DataFrame:
        if self.default_fraction > 0:
            # sampleBy treats unlisted strata as fraction 0, so a
            # nonzero default needs the stratum universe — one small
            # distinct collect (#strata rows)
            strata = [
                r[self.stratum_column]
                for r in df.select(self.stratum_column).distinct().collect()
            ]
            fractions = {
                s: float(self.fractions.get(s, self.default_fraction))
                for s in strata
            }
        else:
            fractions = {k: float(v) for k, v in self.fractions.items()}
        return df.sampleBy(self.stratum_column, fractions, seed=self.seed)


class InvertedIndex:
    """Token → posting-list index over the corpus — the search-side
    sink a contamination checker or retrieval pipeline reads:
    per-token document frequency and the (sorted, capped) posting
    array.

    Plan: one explode + distinct + token-keyed aggregation. The cap
    is applied with a per-token row_number window BEFORE collecting,
    so an uncapped hot token never materializes an unbounded array
    in one aggregation buffer; a pathologically hot token still
    lands in one window task — route through the salted two-phase
    cutoff (:class:`SourceCapFilter`'s device) if that matters at
    your scale. ``q_inverted_index`` hash-gates df + postings
    against SQL. No reference counterpart (LLM-pipeline extension).
    """

    def __init__(
        self,
        text_column: str = "text",
        id_column: str = "doc_id",
        max_postings: int = 1000,
        lowercase: bool = True,
    ):
        if max_postings < 1:
            raise ValueError("max_postings must be >= 1")
        self.text_column = text_column
        self.id_column = id_column
        self.max_postings = max_postings
        self.lowercase = lowercase

    def build(self, df: DataFrame) -> DataFrame:
        """``[token, doc_freq, postings]`` (postings = first
        ``max_postings`` doc ids ascending)."""
        idc = self.id_column
        text = F.col(self.text_column)
        if self.lowercase:
            text = F.lower(text)
        pairs = df.select(
            F.col(idc), F.explode(tokenize_expr(text)).alias("token")
        ).distinct()
        w = Window.partitionBy("token").orderBy(F.col(idc).asc())
        capped = pairs.withColumn("_rn", F.row_number().over(w))
        # ONE token-keyed exchange total: the aggregation reuses the
        # window's hashpartitioning(token) layout, df counts ALL
        # pairs while collect_list drops the nulls past the cap
        return capped.groupBy("token").agg(
            F.count("*").alias("doc_freq"),
            F.sort_array(
                F.collect_list(
                    F.when(F.col("_rn") <= self.max_postings, F.col(idc))
                )
            ).alias("postings"),
        )


class BM25SearchScorer:
    """Okapi BM25 document ranking for a free-text query — the
    retrieval scoring loop (Lucene-style non-negative idf):

        score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avg))
        idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)

    ONE corpus pass total: per-document length and per-query-term
    frequencies come out of a single conditional aggregation (the
    query is a handful of terms, so each gets a ``sum(token = t)``
    column), document frequencies and corpus stats reduce from that
    per-doc table, and the score is pure arithmetic — no token join
    anywhere, all JVM expressions, replayed exactly by the
    ``q_bm25_search`` oracle. Complements ItemKNN's bm25 ITEM
    weighting (models/knn.py) with the text-retrieval form. No
    reference counterpart (LLM-pipeline extension).
    """

    def __init__(
        self,
        text_column: str = "text",
        id_column: str = "doc_id",
        k1: float = 1.2,
        b: float = 0.75,
    ):
        self.text_column = text_column
        self.id_column = id_column
        self.k1 = k1
        self.b = b

    def score(self, df: DataFrame, query: str) -> DataFrame:
        """``[<id_column>, n_hits, bm25]`` for docs matching ≥1
        query token; ``bm25`` unrounded (callers gate with
        stable_round)."""
        idc, k1, b = self.id_column, self.k1, self.b
        q_tokens = sorted(set(query.lower().split()))
        if not q_tokens:
            raise ValueError("query has no tokens")
        toks = df.select(
            F.col(idc),
            F.explode(
                tokenize_expr(F.lower(F.col(self.text_column)))
            ).alias("token"),
        )
        tf_cols = [
            F.sum((F.col("token") == F.lit(t)).cast("long")).alias(
                f"_tf{i}"
            )
            for i, t in enumerate(q_tokens)
        ]
        per_doc = toks.groupBy(idc).agg(
            F.count("*").alias("_dl"), *tf_cols
        ).persist()
        df_cols = [
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(q_tokens))
        ]
        stats = per_doc.agg(
            F.count("*").alias("_n"), F.avg("_dl").alias("_avg"), *df_cols
        )
        joined = per_doc.crossJoin(F.broadcast(stats))
        norm = k1 * (1.0 - b + b * F.col("_dl") / F.col("_avg"))
        terms = []
        hits = []
        for i in range(len(q_tokens)):
            tf = F.col(f"_tf{i}")
            idf = F.log(
                (F.col("_n") - F.col(f"_df{i}") + 0.5)
                / (F.col(f"_df{i}") + 0.5)
                + 1.0
            )
            terms.append(
                F.when(tf > 0, idf * tf * (k1 + 1.0) / (tf + norm))
                .otherwise(F.lit(0.0))
            )
            hits.append((tf > 0).cast("long"))
        total = terms[0]
        n_hits = hits[0]
        for t in terms[1:]:
            total = total + t
        for h in hits[1:]:
            n_hits = n_hits + h
        return (
            joined.withColumn("n_hits", n_hits)
            .withColumn("bm25", total)
            .filter(F.col("n_hits") > 0)
            .select(idc, "n_hits", "bm25")
        )


class ReciprocalRankFusion:
    """Hybrid-retrieval rank fusion (Cormack, Clarke & Büttcher
    2009, "Reciprocal rank fusion outperforms Condorcet and
    individual rank learning methods"): combine any number of
    per-query rankings — BM25, ANN cosine, recency, a reranker —
    into one list via ``score(d) = Σ_i 1/(k + rank_i(d))``, the
    standard device behind hybrid lexical+vector search.

    Determinism by construction: each input ranking contributes via
    a CONDITIONAL MIN per source (one groupBy over the unioned
    lists), and the fused score sums the per-source terms in FIXED
    source order — never a float sum whose association depends on
    partitioning. Ties (permuted rank pairs give equal scores) break
    on the document id, so the fused ranking is bit-stable and the
    ``q_rrf_hybrid`` gate hashes pure integers. Scale shape: one
    shuffle on (query, doc) over the CANDIDATE LISTS (top-N per
    ranker — thousands of rows per query, never the corpus), then
    one per-query window over ≤ Σ N rows. No reference counterpart
    (retrieval-tier extension).
    """

    def __init__(
        self,
        k: int = 60,
        query_column: str = "query_id",
        id_column: str = "doc_id",
        rank_column: str = "rank",
    ):
        if k < 1:
            raise ValueError("k must be >= 1")
        self.k = k
        self.query_column = query_column
        self.id_column = id_column
        self.rank_column = rank_column

    def fuse(self, *rankings: DataFrame) -> DataFrame:
        """``[query, doc, rrf_score, fused_rank]`` from ≥ 1 ranking
        frames ``[query, doc, rank]`` (1-based ranks; a doc absent
        from a ranker contributes nothing for it)."""
        if not rankings:
            raise ValueError("need at least one ranking")
        q, d, r = self.query_column, self.id_column, self.rank_column
        tagged = None
        for i, rk in enumerate(rankings):
            part = rk.select(
                F.col(q), F.col(d),
                F.lit(i).alias("_src"),
                F.col(r).cast("long").alias("_r"),
            )
            tagged = part if tagged is None else tagged.unionByName(part)
        per_src = tagged.groupBy(q, d).agg(
            *[
                F.min(F.when(F.col("_src") == i, F.col("_r"))).alias(
                    f"_r{i}"
                )
                for i in range(len(rankings))
            ]
        )
        score = None
        for i in range(len(rankings)):  # fixed-order float sum
            term = F.coalesce(
                F.lit(1.0) / (F.lit(float(self.k)) + F.col(f"_r{i}")),
                F.lit(0.0),
            )
            score = term if score is None else score + term
        w = Window.partitionBy(q).orderBy(
            F.col("rrf_score").desc(), F.col(d).asc()
        )
        return (
            per_src.withColumn("rrf_score", score)
            .withColumn("fused_rank", F.row_number().over(w))
            .select(q, d, "rrf_score", "fused_rank",
                    *[f"_r{i}" for i in range(len(rankings))])
        )


class FuzzyTokenMatcher:
    """SymSpell-style fuzzy matching: all vocabulary token pairs
    within Levenshtein distance ≤ 1, WITHOUT the all-pairs scan —
    each token emits itself plus its 1-deletion variants
    (pure array expressions); any distance-≤1 pair provably shares a
    variant, so candidates come from an equi-join on the variant key
    and exact ``levenshtein`` verification runs only on collisions.
    The same bucket-then-verify shape as the MinHash/SimHash tiers,
    for the typo/normalization-variant use case (query spelling,
    near-identical vocab merging).

    Scale: variants ≈ (avg_len+1)× the vocab — linear; the join key
    is short strings; verification is per-candidate. Candidate
    completeness for distance 1 is a theorem (substitution pairs
    share the deletion at the differing position; indel pairs share
    the shorter string itself); ``q_fuzzy_pairs`` hash-gates the
    whole path since ``levenshtein`` is exact in any engine. No
    reference counterpart (LLM-pipeline extension).
    """

    def __init__(self, token_column: str = "token"):
        self.token_column = token_column

    def _variants(self, df: DataFrame) -> DataFrame:
        tok = F.col(self.token_column)
        big = F.lit(1 << 30)
        deletions = F.transform(
            F.sequence(F.lit(1), F.length(tok)),
            lambda i: F.concat(
                tok.substr(F.lit(1), i - 1), tok.substr(i + 1, big)
            ),
        )
        variants = F.array_distinct(
            F.concat(F.array(tok), deletions)
        )
        return df.select(
            tok.alias("_t"), F.explode(variants).alias("_v")
        )

    def pairs(self, vocab: DataFrame) -> DataFrame:
        """``[token_a, token_b, dist]`` (a < b) for every distinct
        vocab pair with Levenshtein distance ≤ 1."""
        tc = self.token_column
        left = self._variants(vocab.select(tc).distinct())
        right = left.withColumnRenamed("_t", "_t2")
        cands = (
            left.join(right, on="_v")
            .filter(F.col("_t") < F.col("_t2"))
            .select(
                F.col("_t").alias("token_a"),
                F.col("_t2").alias("token_b"),
            )
            .distinct()
        )
        return cands.withColumn(
            "dist", F.levenshtein("token_a", "token_b")
        ).filter(F.col("dist") <= 1)


class VocabBuilder:
    """Corpus vocabulary with term and document frequencies.

    The tokenizer-training / corpus-statistics primitive of an LLM
    data pipeline: one ``explode`` over documents, one token-keyed
    aggregation (map-side combined, so the shuffle carries one row
    per distinct token per partition, not one per occurrence), then
    an ordered take for the optional top-N truncation — ``orderBy +
    limit`` compiles to ``TakeOrderedAndProject``, a per-partition
    heap + driver merge of N rows, never a global sort shuffle.

    Deterministic: ties in term frequency break on the token itself.

    No reference counterpart (LLM-pipeline extension); the closest
    spirit is RePlay's popularity aggregation
    (``/root/reference/replay/models/pop_rec.py:121-136``) applied
    to tokens instead of items.
    """

    def __init__(
        self,
        text_column: str = "text",
        id_column: str = "doc_id",
        lowercase: bool = True,
        min_df: int = 1,
        top_n: Optional[int] = None,
    ):
        if min_df < 1:
            raise ValueError("min_df must be >= 1")
        self.text_column = text_column
        self.id_column = id_column
        self.lowercase = lowercase
        self.min_df = min_df
        self.top_n = top_n

    def transform(self, df: DataFrame) -> DataFrame:
        """Return ``[token, tf, df]`` — corpus-wide term frequency
        and document frequency."""
        text = F.col(self.text_column)
        if self.lowercase:
            text = F.lower(text)
        exploded = df.select(
            F.col(self.id_column).alias("__doc"),
            F.explode(tokenize_expr(text)).alias("token"),
        )
        vocab = exploded.groupBy("token").agg(
            F.count("*").alias("tf"),
            F.countDistinct("__doc").alias("df"),
        )
        if self.min_df > 1:
            vocab = vocab.filter(F.col("df") >= self.min_df)
        if self.top_n is not None:
            vocab = vocab.orderBy(
                F.desc("tf"), F.asc("token")
            ).limit(self.top_n)
        return vocab


class TfIdfKeywords:
    """Per-document top-k keywords by smoothed tf-idf.

    score(d, t) = (count(t in d) / len(d)) * (ln((N+1)/(df(t)+1)) + 1)

    Plan shape: explode → (doc, token) counts and doc lengths share
    the same doc-keyed shuffle; document frequency is one token-keyed
    aggregation; the corpus size N joins in as a broadcast single-row
    aggregate (no driver pull, so the whole thing stays one lazy
    plan); final top-k is a per-document ``row_number`` window over
    the *rounded* score (6 dp) with a token-ascending tie-break, so
    the ordering — not just the output — is reproducible across
    engines regardless of last-ulp ``ln`` differences.

    No reference counterpart (LLM-pipeline extension); the idf
    weighting mirrors RePlay's Word2Vec idf user-vector weighting
    (``/root/reference/replay/models/word2vec.py:175-198``).
    """

    def __init__(
        self,
        text_column: str = "text",
        id_column: str = "doc_id",
        k: int = 5,
        lowercase: bool = True,
    ):
        if k < 1:
            raise ValueError("k must be >= 1")
        self.text_column = text_column
        self.id_column = id_column
        self.k = k
        self.lowercase = lowercase

    def transform(self, df: DataFrame) -> DataFrame:
        """Return ``[<id_column>, token, score, rank]`` with
        ``rank <= k`` per document."""
        idc = self.id_column
        text = F.col(self.text_column)
        if self.lowercase:
            text = F.lower(text)
        toks = df.select(
            F.col(idc), F.explode(tokenize_expr(text)).alias("token")
        )
        doc_tf = toks.groupBy(idc, "token").agg(F.count("*").alias("__c"))
        doc_len = toks.groupBy(idc).agg(F.count("*").alias("__n"))
        dfreq = toks.groupBy("token").agg(
            F.countDistinct(idc).alias("__df")
        )
        n_docs = df.agg(F.count("*").alias("__ndocs"))
        scored = (
            doc_tf.join(doc_len, on=idc)
            .join(dfreq, on="token")
            .crossJoin(F.broadcast(n_docs))
            .withColumn(
                "score",
                stable_round(
                    (F.col("__c").cast("double") / F.col("__n"))
                    * (
                        F.log(
                            (F.col("__ndocs") + F.lit(1.0))
                            / (F.col("__df") + F.lit(1.0))
                        )
                        + F.lit(1.0)
                    ),
                    6,
                ),
            )
        )
        w = Window.partitionBy(idc).orderBy(
            F.desc("score"), F.asc("token")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= self.k)
            .select(idc, "token", "score", "rank")
        )


class UnigramLMScorer:
    """Per-document unigram language-model score — the shape of
    CCNet's LM-perplexity quality filter (Wenzek et al. 2020) with a
    corpus-trained unigram model standing in for the KenLM 5-gram
    (no native LM libs in scope; the Spark-side plumbing — train a
    model on one corpus, score another, rank by perplexity — is the
    real operator).

    score(d) = mean over tokens of ln p(t), with
    p(t) = (count(t) + 1) / (corpus_tokens + vocab_size)  (add-one
    smoothing, so unseen tokens score ln(1/(N+V)) instead of -inf).
    Lower (more negative) = more surprising under the corpus model.

    Plan: one token-keyed aggregation trains the model; corpus totals
    ride along as a broadcast 1-row aggregate; scoring is an explode
    + broadcast-or-shuffle join on token + per-doc mean — all
    JVM-side, one doc-keyed shuffle.
    """

    def __init__(
        self,
        text_column: str = "text",
        id_column: str = "doc_id",
        lowercase: bool = True,
    ):
        self.text_column = text_column
        self.id_column = id_column
        self.lowercase = lowercase

    def _tokens(self, df: DataFrame) -> DataFrame:
        text = F.col(self.text_column)
        if self.lowercase:
            text = F.lower(text)
        return df.select(
            F.col(self.id_column), F.explode(tokenize_expr(text)).alias("token")
        )

    def score(
        self, df: DataFrame, train_df: Optional[DataFrame] = None
    ) -> DataFrame:
        """Return ``[<id_column>, n_tokens, lm_score]``; the model is
        trained on ``train_df`` (defaults to ``df`` itself)."""
        idc = self.id_column
        train_toks = self._tokens(train_df if train_df is not None else df)
        model = train_toks.groupBy("token").agg(
            F.count("*").alias("_c")
        ).persist()
        # corpus totals derive from the (tiny, persisted) model table
        # — re-aggregating the token stream would cost a second full
        # corpus pass (the lesson BigramLMScorer was built with)
        totals = model.agg(
            F.sum("_c").alias("_n"),
            F.count(F.lit(1)).alias("_v"),
        )
        toks = self._tokens(df)
        scored = (
            toks.join(model, on="token", how="left")
            .crossJoin(F.broadcast(totals))
            .withColumn(
                "_lp",
                F.log(
                    (F.coalesce(F.col("_c"), F.lit(0)) + F.lit(1.0))
                    / (F.col("_n") + F.col("_v"))
                ),
            )
        )
        return scored.groupBy(idc).agg(
            F.count("*").alias("n_tokens"),
            stable_round(F.avg("_lp"), 6).alias("lm_score"),
        )


class BigramLMScorer:
    """Per-document bigram language-model score — one rung up from
    :class:`UnigramLMScorer` toward CCNet's KenLM perplexity filter
    (Wenzek et al. 2020): the model now conditions on the previous
    token, so word-salad documents (right vocabulary, wrong order)
    score low even when their unigram profile looks fine.

    score(d) = mean over transitions (t_{i-1}, t_i) of
    ln p(t_i | t_{i-1}), with add-one smoothing over the train
    vocabulary V: p = (count(prev, cur) + 1) / (count(prev) + V) —
    unseen contexts fall back to 1/V-ish mass instead of -inf.
    ``perplexity`` = exp(-score). Documents with fewer than two
    tokens have no transitions: n_bigrams = 0, null score.

    Plan: transitions come from ``arrays_zip(slice, slice)`` — no
    second explode pass over text; the model is ONE (prev, cur)-keyed
    aggregation whose context counts derive from it by a second tiny
    rollup (never a rescan); scoring is explode → two keyed joins
    (AQE broadcasts the model when small) → one doc-keyed mean.
    """

    def __init__(
        self,
        text_column: str = "text",
        id_column: str = "doc_id",
        lowercase: bool = True,
    ):
        self.text_column = text_column
        self.id_column = id_column
        self.lowercase = lowercase

    def _bigrams(self, df: DataFrame) -> DataFrame:
        text = F.col(self.text_column)
        if self.lowercase:
            text = F.lower(text)
        toks = tokenize_expr(text)
        pairs = F.arrays_zip(
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))).alias(
                "prev"
            ),
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))).alias(
                "cur"
            ),
        )
        return df.select(
            F.col(self.id_column),
            F.explode(pairs).alias("_bg"),
        ).select(
            self.id_column,
            F.col("_bg.prev").alias("prev"),
            F.col("_bg.cur").alias("cur"),
        )

    def score(
        self, df: DataFrame, train_df: Optional[DataFrame] = None
    ) -> DataFrame:
        """Return ``[<id_column>, n_bigrams, lm_score, perplexity]``;
        the model is trained on ``train_df`` (defaults to ``df``)."""
        idc = self.id_column
        train = train_df if train_df is not None else df
        train_bg = self._bigrams(train)
        model = train_bg.groupBy("prev", "cur").agg(
            F.count("*").alias("_c")
        )
        contexts = model.groupBy("prev").agg(F.sum("_c").alias("_cc"))
        text = F.col(self.text_column)
        if self.lowercase:
            text = F.lower(text)
        vocab = train.select(
            F.explode(tokenize_expr(text)).alias("token")
        ).agg(F.countDistinct("token").alias("_v"))
        scored = (
            self._bigrams(df)
            .join(model, on=["prev", "cur"], how="left")
            .join(contexts, on="prev", how="left")
            .crossJoin(F.broadcast(vocab))
            .withColumn(
                "_lp",
                F.log(
                    (F.coalesce(F.col("_c"), F.lit(0)) + F.lit(1.0))
                    / (F.coalesce(F.col("_cc"), F.lit(0)) + F.col("_v"))
                ),
            )
            .groupBy(idc)
            .agg(
                F.count("*").alias("n_bigrams"),
                stable_round(F.avg("_lp"), 6).alias("lm_score"),
                stable_round(F.exp(-F.avg("_lp")), 4).alias("perplexity"),
            )
        )
        # docs with < 2 tokens have no transitions: keep the row with
        # n_bigrams = 0 and null scores (a filter pipeline must see
        # every document, not silently lose the short ones)
        return (
            df.select(idc)
            .join(scored, on=idc, how="left")
            .withColumn(
                "n_bigrams", F.coalesce("n_bigrams", F.lit(0))
            )
        )


class KneserNeyBigramScorer(BigramLMScorer):
    """Interpolated Kneser-Ney bigram LM — the smoothing the real
    KenLM models CCNet filters with use, one rung above
    :class:`BigramLMScorer`'s add-one:

        p(w|v) = (max(c(v,w) − d, 0) + d · N1+(v,·) · Pcont(w)) / c(v,·)
        Pcont(w) = N1+(·,w) / |distinct bigram types|

    with absolute discount ``d`` (default 0.75 — exactly
    representable in binary, so the contract oracle's arithmetic is
    bit-identical). Unseen contexts fall back to the continuation
    probability itself; a floor guards log(0) for fully-unseen
    events when scoring foreign text.

    Plan shape matches the parent: the model is ONE (prev, cur)
    aggregation; context totals, forward continuation counts
    N1+(v,·), backward counts N1+(·,w), and the type total all
    derive from that tiny model table (never a corpus rescan);
    scoring is three keyed joins + one doc-keyed mean.
    """

    def __init__(self, *args, discount: float = 0.75, **kwargs):
        super().__init__(*args, **kwargs)
        if not 0.0 < discount < 1.0:
            raise ValueError("discount must be in (0, 1)")
        self.discount = discount

    def score(
        self, df: DataFrame, train_df: Optional[DataFrame] = None
    ) -> DataFrame:
        """Return ``[<id_column>, n_bigrams, kn_score, perplexity]``;
        the model is trained on ``train_df`` (defaults to ``df``)."""
        idc, d = self.id_column, self.discount
        train = train_df if train_df is not None else df
        model = (
            self._bigrams(train)
            .groupBy("prev", "cur")
            .agg(F.count("*").alias("_c"))
        )
        contexts = model.groupBy("prev").agg(
            F.sum("_c").alias("_cc"),
            F.count(F.lit(1)).alias("_n1f"),  # N1+(v, ·)
        )
        backoff = model.groupBy("cur").agg(
            F.count(F.lit(1)).alias("_n1b")  # N1+(·, w)
        )
        types = model.agg(F.count(F.lit(1)).alias("_t"))
        pcont = F.coalesce(F.col("_n1b"), F.lit(0)) / F.col("_t")
        p = F.when(
            F.coalesce(F.col("_cc"), F.lit(0)) > 0,
            (
                F.greatest(
                    F.coalesce(F.col("_c"), F.lit(0)) - F.lit(d),
                    F.lit(0.0),
                )
                + F.lit(d) * F.col("_n1f") * pcont
            )
            / F.col("_cc"),
        ).otherwise(pcont)
        scored = (
            self._bigrams(df)
            .join(model, on=["prev", "cur"], how="left")
            .join(contexts, on="prev", how="left")
            .join(backoff, on="cur", how="left")
            .crossJoin(F.broadcast(types))
            .withColumn("_lp", F.log(F.greatest(p, F.lit(1e-12))))
            .groupBy(idc)
            .agg(
                F.count("*").alias("n_bigrams"),
                stable_round(F.avg("_lp"), 6).alias("kn_score"),
                stable_round(F.exp(-F.avg("_lp")), 4).alias("perplexity"),
            )
        )
        return (
            df.select(idc)
            .join(scored, on=idc, how="left")
            .withColumn("n_bigrams", F.coalesce("n_bigrams", F.lit(0)))
        )


class PerplexityBucketer:
    """CCNet-style quality bucketing (Wenzek et al. 2020, §3): split
    each language's documents into quality buckets (head / middle /
    tail for the default 3) by an LM quality score — the step CCNet
    runs AFTER perplexity scoring to pick which slice of the crawl to
    train on. Composes with :class:`UnigramLMScorer` /
    :class:`KneserNeyBigramScorer` (any score column works).

    Higher score = better (mean log-prob); bucket 0 ("head") is the
    best slice of each language.

    Two strategies:

    - ``"exact"`` (default): deterministic rank buckets —
      ``bucket = floor(n_buckets · (rank−1) / n)`` with rank =
      row number within the language ordered by (score DESC, id).
      Scale shape: ONE global range exchange via
      :func:`~replay_spark.utils.spark_utils.ordered_row_numbers`
      (per-language ranks derived by subtracting broadcast language
      offsets — no per-language window over the full data, so a
      50-TB language is NOT one task). Integer arithmetic end to
      end — no percentile interpolation to diverge cross-engine —
      which is what makes the ``q_ccnet_buckets`` hash gate safe.
    - ``"approx"``: per-language ``percentile_approx`` thresholds
      (mergeable sketch, one tiny agg) broadcast back and compared —
      the cheapest 100-TB path when exact bucket boundaries don't
      matter. Sketch merge order makes threshold values
      run-dependent at the last ulp, so this path is rows-gated
      only.
    """

    def __init__(
        self,
        score_column: str = "lm_score",
        lang_column: str = "lang",
        id_column: str = "doc_id",
        n_buckets: int = 3,
        strategy: str = "exact",
        accuracy: int = 10_000,
        labels: Optional[tuple] = ("head", "middle", "tail"),
    ):
        if n_buckets < 2:
            raise ValueError("n_buckets must be >= 2")
        if strategy not in ("exact", "approx"):
            raise ValueError(f"unknown strategy: {strategy!r}")
        self.score_column = score_column
        self.lang_column = lang_column
        self.id_column = id_column
        self.n_buckets = n_buckets
        self.strategy = strategy
        self.accuracy = accuracy
        self.labels = labels

    def _with_label(self, df: DataFrame) -> DataFrame:
        if self.labels is None or len(self.labels) != self.n_buckets:
            return df
        label_arr = F.array(*[F.lit(s) for s in self.labels])
        return df.withColumn(
            "ppl_label", F.element_at(label_arr, F.col("ppl_bucket").cast("int") + 1)
        )

    def transform(self, df: DataFrame) -> DataFrame:
        """Annotate with ``ppl_bucket`` (0 = head) and, when labels
        fit, ``ppl_label``."""
        lang, score, idc = self.lang_column, self.score_column, self.id_column
        if self.strategy == "approx":
            probs = [i / self.n_buckets for i in range(1, self.n_buckets)]
            ths = df.groupBy(lang).agg(
                F.percentile_approx(
                    score, F.array(*[F.lit(p) for p in probs]), self.accuracy
                ).alias("_ths")
            )
            out = df.join(F.broadcast(ths), on=lang)
            # ths ascending; head = above the top threshold
            bucket = F.lit(self.n_buckets - 1) - F.size(
                F.filter(F.col("_ths"), lambda t: F.col(score) > t)
            )
            return self._with_label(
                out.withColumn("ppl_bucket", bucket.cast("long")).drop("_ths")
            )
        from replay_spark.utils.spark_utils import ordered_row_numbers

        ranked = ordered_row_numbers(
            df,
            [F.col(lang).asc(), F.col(score).desc(), F.col(idc).asc()],
            out_col="_grn",
        )
        counts = df.groupBy(lang).agg(F.count("*").alias("_n"))
        # cumulative language offsets: a one-task window over
        # #languages rows (tiny by construction)
        w = (
            Window.orderBy(lang)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = counts.withColumn(
            "_off", F.coalesce(F.sum("_n").over(w), F.lit(0))
        )
        out = ranked.join(F.broadcast(offsets), on=lang)
        rank_in_lang = F.col("_grn") - F.col("_off")
        bucket = F.floor(
            F.lit(self.n_buckets) * (rank_in_lang - 1) / F.col("_n")
        )
        return self._with_label(
            out.withColumn("ppl_bucket", bucket.cast("long")).drop(
                "_grn", "_off", "_n"
            )
        )


class CountMinSketch:
    """Mergeable Count-Min frequency sketch (Cormode & Muthukrishnan
    2005) over a token column — the bounded-memory stand-in for
    :class:`VocabBuilder`'s exact counts when the 100 TB vocabulary
    itself is too large to materialize: the sketch is ``depth ×
    width`` counters NO MATTER the corpus size, merges by addition
    (map-side combine does the merging for free), and answers
    point-frequency queries with a one-sided error (estimate ≥ true
    count, overshoot ≤ εN with probability 1−δ for width=e/ε,
    depth=ln(1/δ)).

    ``hash_family``: ``"xxhash64"`` (JVM-fast, default for
    production) or ``"md5"`` (the portable family every engine
    reproduces — what the ``q_cms_counts`` hash gate uses, same
    device as the MinHash/SimHash md5 twins).

    Plan shape: ``fit`` is one explode (×depth) + ONE map-side-
    combined aggregation to ≤ depth·width rows; ``estimate`` hashes
    the query tokens and broadcast-joins the tiny sketch. No
    reference counterpart (LLM-pipeline extension).
    """

    def __init__(
        self,
        depth: int = 3,
        width: int = 1024,
        token_column: str = "token",
        hash_family: str = "md5",
    ):
        if depth < 1 or width < 2:
            raise ValueError("need depth >= 1 and width >= 2")
        if hash_family not in ("md5", "xxhash64"):
            raise ValueError(f"unknown hash_family: {hash_family!r}")
        self.depth = depth
        self.width = width
        self.token_column = token_column
        self.hash_family = hash_family

    def _bucket(self, col: Column, seed: int) -> Column:
        if self.hash_family == "xxhash64":
            return F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(self.width))
        h = F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 15),
            16,
            10,
        ).cast("long")
        return F.pmod(h, F.lit(self.width))

    def _stacked_buckets(self, df: DataFrame, *keep: str) -> DataFrame:
        tok = F.col(self.token_column)
        pairs = F.array(
            *[
                F.struct(
                    F.lit(i).alias("_seed"),
                    self._bucket(tok, i).alias("_bucket"),
                )
                for i in range(self.depth)
            ]
        )
        return df.select(
            *keep, F.explode(pairs).alias("_s")
        ).select(*keep, "_s._seed", "_s._bucket")

    def fit(self, df: DataFrame) -> DataFrame:
        """Sketch DataFrame ``[_seed, _bucket, cnt]`` (≤ depth·width
        rows) counting every row of ``df``'s token column once per
        hash row."""
        return (
            self._stacked_buckets(df)
            .groupBy("_seed", "_bucket")
            .agg(F.count("*").alias("cnt"))
        )

    def estimate(self, sketch: DataFrame, queries: DataFrame) -> DataFrame:
        """``queries`` + ``cms_count`` (min over the depth hash rows;
        tokens hashing to untouched buckets estimate 0)."""
        tc = self.token_column
        hashed = self._stacked_buckets(queries, tc)
        return (
            hashed.join(F.broadcast(sketch), on=["_seed", "_bucket"], how="left")
            .groupBy(tc)
            .agg(
                F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_count")
            )
        )


class HeavyHitters:
    """Exact heavy hitters at unbounded cardinality via the
    two-phase Misra-Gries pattern (Misra & Gries 1982): phase 1 runs
    a ``k``-counter MG summary INSIDE each partition (bounded memory
    no matter how many distinct tokens — the reason a plain
    ``groupBy.count`` is the wrong plan at 100 TB vocabulary), phase
    2 broadcast-semi-joins the ≤ k·partitions candidates back over
    the data for EXACT counts, and keeps tokens with
    ``count * k > N``.

    Correctness: per-partition MG keeps every token with partition
    frequency > n_p/(k+1); any token with global frequency > N/(k+1)
    exceeds that bound in at least one partition (pigeonhole), so
    candidates cover all tokens above the (stricter) N/k output
    threshold — the result is EXACT and deterministic, independent
    of partitioning and row order. No reference counterpart
    (LLM-pipeline extension; complements CountMinSketch, which
    answers point queries but cannot enumerate).
    """

    def __init__(self, k: int = 100, token_column: str = "token"):
        if k < 1:
            raise ValueError("k must be >= 1")
        self.k = k
        self.token_column = token_column

    def transform(self, df: DataFrame) -> DataFrame:
        """``[token, count]`` for every token whose exact count
        satisfies ``count * k > N`` (N = total rows)."""
        import pandas as pd

        k = self.k
        tc = self.token_column
        toks = df.select(F.col(tc).alias("token"))

        def mg(batches):
            counters: dict = {}
            n_rows = 0
            for pdf in batches:
                n_rows += len(pdf)
                for tok, w in pdf["token"].value_counts().items():
                    w = int(w)
                    while w > 0:
                        if tok in counters:
                            counters[tok] += w
                            w = 0
                        elif len(counters) < k:
                            counters[tok] = w
                            w = 0
                        else:
                            mn = min(counters.values())
                            dec = min(mn, w)
                            w -= dec
                            for t in list(counters):
                                counters[t] -= dec
                                if counters[t] == 0:
                                    del counters[t]
            yield pd.DataFrame(
                {
                    "token": list(counters) + [None],
                    "n_rows": [0] * len(counters) + [n_rows],
                }
            )

        phase1 = toks.mapInPandas(
            mg, schema="token string, n_rows long"
        ).persist()
        total = phase1.agg(F.sum("n_rows").alias("_total"))
        cands = phase1.filter(F.col("token").isNotNull()).select(
            "token"
        ).distinct()
        exact = (
            toks.join(F.broadcast(cands), on="token")
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("count"))
        )
        out = (
            exact.crossJoin(F.broadcast(total))
            .filter(F.col("count") * k > F.col("_total"))
            .select("token", "count")
        )
        return out


class BloomFilter:
    """Bloom membership filter over a token/key column — the third
    leg of the sketch tier (CMS = frequency, HLL = cardinality,
    Bloom = membership): ``k`` hash functions set bits in an
    ``m``-bit array; a query is "possibly present" iff ALL its bits
    are set — no false negatives, false-positive rate ≈
    (1 − e^(−kn/m))^k.

    The fitted state is the DISTINCT set-bit table (≤ min(k·n, m)
    rows of one integer) — map-side combined, mergeable by union,
    and broadcastable back for querying, which is how a 100 TB
    contamination check against a bounded eval set stays one
    broadcast join instead of a shuffle join. md5 hash family keeps
    the arithmetic portable (``q_bloom_membership`` hash gate);
    xxhash64 for production. No reference counterpart (LLM-pipeline
    extension).
    """

    def __init__(
        self,
        m_bits: int = 1 << 16,
        k: int = 4,
        token_column: str = "token",
        hash_family: str = "md5",
    ):
        if m_bits < 8 or k < 1:
            raise ValueError("need m_bits >= 8 and k >= 1")
        if hash_family not in ("md5", "xxhash64"):
            raise ValueError(f"unknown hash_family: {hash_family!r}")
        self.m_bits = m_bits
        self.k = k
        self.token_column = token_column
        self.hash_family = hash_family

    def _bit(self, col: Column, seed: int) -> Column:
        if self.hash_family == "xxhash64":
            return F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(self.m_bits))
        h = F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 15),
            16,
            10,
        ).cast("long")
        return F.pmod(h, F.lit(self.m_bits))

    def _bits(self, df: DataFrame, *keep: str) -> DataFrame:
        tok = F.col(self.token_column)
        arr = F.array(*[self._bit(tok, i) for i in range(self.k)])
        return df.select(*keep, F.explode(arr).alias("bit"))

    def fit(self, df: DataFrame) -> DataFrame:
        """Distinct set-bit table ``[bit]``."""
        return self._bits(df).distinct()

    def contains(self, bits: DataFrame, queries: DataFrame) -> DataFrame:
        """``queries``' token column + ``maybe_present`` (true iff
        every one of the k bits is set — broadcast join against the
        bit table)."""
        tc = self.token_column
        hashed = self._bits(queries.select(tc).distinct(), tc)
        marked = hashed.join(
            F.broadcast(bits.withColumn("_set", F.lit(1))),
            on="bit",
            how="left",
        )
        return marked.groupBy(tc).agg(
            (F.count("*") == F.sum(F.coalesce(F.col("_set"), F.lit(0))))
            .alias("maybe_present")
        )


class HyperLogLog:
    """HyperLogLog distinct-count sketch (Flajolet et al. 2007) over
    a token column — the mergeable bounded-memory companion to
    :class:`CountMinSketch`: ``m = 2^b`` registers no matter the
    corpus size, merged by per-register MAX (map-side combine does
    it for free), answering COUNT DISTINCT within ~1.04/√m.

    Portable md5 hashing (60-bit int): register ``j = h mod m``,
    remainder ``w = h div m`` (60−b bits), ``rho = (60−b) −
    bitlen(w) + 1`` with ``bitlen`` via ``bin()`` string length —
    the same device in Spark and DuckDB, so the register table is
    bit-identical cross-engine.

    The estimator is formulated in EXACT INTEGER arithmetic to stay
    hash-gateable: instead of summing 2^−M_j (whose floating
    accumulation is order-sensitive), sum S = Σ 2^(maxM − M_j) —
    integers ≤ m·2^55, exact in BIGINT — and compute
    ``E = α_m · m² · 2^maxM / S`` with one deterministic division.
    Small-range (linear counting) correction applies below 2.5·m
    when empty registers remain. No reference counterpart
    (LLM-pipeline extension).
    """

    HASH_BITS = 60  # 15 md5 hex chars

    def __init__(self, b: int = 6, token_column: str = "token"):
        if not 4 <= b <= 16:
            raise ValueError("b must be in [4, 16]")
        self.b = b
        self.m = 1 << b
        self.token_column = token_column

    @property
    def alpha(self) -> float:
        if self.m == 16:
            return 0.673
        if self.m == 32:
            return 0.697
        if self.m == 64:
            return 0.709
        return 0.7213 / (1 + 1.079 / self.m)

    def fit(self, df: DataFrame) -> DataFrame:
        """Register table ``[register, rho_max]`` (≤ m rows): ONE
        map-side-combined MAX aggregation."""
        wbits = self.HASH_BITS - self.b
        h = F.conv(
            F.substring(F.md5(F.col(self.token_column)), 1, 15), 16, 10
        ).cast("long")
        hashed = df.select(
            F.pmod(h, F.lit(self.m)).alias("register"),
            F.floor(h / self.m).cast("long").alias("_w"),
        )
        rho = F.when(
            F.col("_w") == 0, F.lit(wbits + 1)
        ).otherwise(F.lit(wbits + 1) - F.length(F.bin(F.col("_w"))))
        return (
            hashed.withColumn("_rho", rho)
            .groupBy("register")
            .agg(F.max("_rho").alias("rho_max"))
        )

    def estimate(self, registers: DataFrame) -> DataFrame:
        """One-row ``[m, v_empty, n_nonzero, est]`` from a register
        table (tiny — every step is an agg over ≤ m rows)."""
        m, alpha = self.m, self.alpha
        stats = registers.agg(
            F.max("rho_max").alias("_maxm"),
            F.count("*").alias("_nz"),
        )
        joined = registers.crossJoin(F.broadcast(stats))
        summed = joined.agg(
            F.sum(
                F.pow(F.lit(2.0), F.col("_maxm") - F.col("rho_max")).cast(
                    "long"
                )
            ).alias("_sne"),
            F.first("_maxm").alias("_maxm"),
            F.first("_nz").alias("_nz"),
        )
        nz = F.coalesce(F.col("_nz"), F.lit(0))  # empty input: 1 null row
        s_total = F.col("_sne") + (F.lit(m) - nz) * F.pow(
            F.lit(2.0), F.col("_maxm")
        ).cast("long")
        raw = (
            F.lit(alpha * m * m)
            * F.pow(F.lit(2.0), F.col("_maxm"))
            / s_total
        )
        v = F.lit(m) - nz
        est = F.when(nz == 0, F.lit(0.0)).when(
            (v > 0) & (raw <= 2.5 * m),
            F.lit(float(m)) * F.log(F.lit(float(m)) / v),
        ).otherwise(raw)
        return summed.select(
            F.lit(m).alias("m"),
            v.cast("long").alias("v_empty"),
            nz.cast("long").alias("n_nonzero"),
            stable_round(est, 4).alias("est"),
        )

    def distinct_count(self, df: DataFrame) -> DataFrame:
        """Convenience: fit + estimate in one call."""
        return self.estimate(self.fit(df))

    def fit_grouped(self, df: DataFrame, group_cols: list) -> DataFrame:
        """Per-group register tables ``[*group_cols, register,
        rho_max]`` — ≤ m rows per group, one map-side-combined MAX
        aggregation (the scalable ``approx COUNT(DISTINCT) GROUP
        BY``)."""
        wbits = self.HASH_BITS - self.b
        h = F.conv(
            F.substring(F.md5(F.col(self.token_column)), 1, 15), 16, 10
        ).cast("long")
        hashed = df.select(
            *group_cols,
            F.pmod(h, F.lit(self.m)).alias("register"),
            F.floor(h / self.m).cast("long").alias("_w"),
        )
        rho = F.when(
            F.col("_w") == 0, F.lit(wbits + 1)
        ).otherwise(F.lit(wbits + 1) - F.length(F.bin(F.col("_w"))))
        return (
            hashed.withColumn("_rho", rho)
            .groupBy(*group_cols, "register")
            .agg(F.max("_rho").alias("rho_max"))
        )

    def estimate_grouped(
        self, registers: DataFrame, group_cols: list
    ) -> DataFrame:
        """Per-group ``[*group_cols, v_empty, n_nonzero, est]`` from
        :meth:`fit_grouped` output — the same exact-integer
        formulation, one grouped aggregation (every group has ≥ 1
        register by construction, so no empty-input row handling)."""
        m, alpha = self.m, self.alpha
        stats = registers.groupBy(*group_cols).agg(
            F.max("rho_max").alias("_maxm"),
            F.count("*").alias("_nz"),
        )
        joined = registers.join(F.broadcast(stats), on=group_cols)
        summed = joined.groupBy(*group_cols).agg(
            F.sum(
                F.pow(F.lit(2.0), F.col("_maxm") - F.col("rho_max")).cast(
                    "long"
                )
            ).alias("_sne"),
            F.first("_maxm").alias("_maxm"),
            F.first("_nz").alias("_nz"),
        )
        s_total = F.col("_sne") + (F.lit(m) - F.col("_nz")) * F.pow(
            F.lit(2.0), F.col("_maxm")
        ).cast("long")
        raw = (
            F.lit(alpha * m * m)
            * F.pow(F.lit(2.0), F.col("_maxm"))
            / s_total
        )
        v = F.lit(m) - F.col("_nz")
        est = F.when(
            (v > 0) & (raw <= 2.5 * m),
            F.lit(float(m)) * F.log(F.lit(float(m)) / v),
        ).otherwise(raw)
        return summed.select(
            *group_cols,
            v.cast("long").alias("v_empty"),
            F.col("_nz").cast("long").alias("n_nonzero"),
            stable_round(est, 4).alias("est"),
        )


    def overlap_grouped(
        self, registers: DataFrame, group_col: str
    ) -> DataFrame:
        """Sketch set algebra — audience overlap without touching
        the data again: for every group pair ``ga < gb``, the UNION
        sketch is the per-register MAX of the two register tables
        (lossless: it is exactly the sketch of A∪B), and the
        intersection estimate follows by inclusion-exclusion
        ``est(A) + est(B) − est(A∪B)``.

        Everything runs on the ≤ m-rows-per-group register tables
        from :meth:`fit_grouped` — the 100 TB corpus is scanned once
        to sketch, then any number of pairwise overlaps cost
        O(pairs·m) sketch rows. Output: ``[ga, gb, est_a, est_b,
        est_union, est_overlap]`` (overlap can be slightly negative
        at sketch error scale; callers clamp if they need to).
        """
        regs = registers
        groups = regs.select(F.col(group_col).alias("_g")).distinct()
        pairs = (
            groups.select(F.col("_g").alias("ga"))
            .join(
                groups.select(F.col("_g").alias("gb")),
                F.col("ga") < F.col("gb"),
            )
        )
        ra = regs.select(
            F.col(group_col).alias("ga"), "register", "rho_max"
        )
        rb = regs.select(
            F.col(group_col).alias("gb"), "register", "rho_max"
        )
        contrib = pairs.join(ra, on="ga").unionByName(
            pairs.join(rb, on="gb")
        )
        union_regs = contrib.groupBy("ga", "gb", "register").agg(
            F.max("rho_max").alias("rho_max")
        )
        est_u = self.estimate_grouped(union_regs, ["ga", "gb"]).select(
            "ga", "gb", F.col("est").alias("est_union")
        )
        singles = self.estimate_grouped(regs, [group_col])
        ea = singles.select(
            F.col(group_col).alias("ga"), F.col("est").alias("est_a")
        )
        eb = singles.select(
            F.col(group_col).alias("gb"), F.col("est").alias("est_b")
        )
        out = (
            est_u.join(F.broadcast(ea), on="ga")
            .join(F.broadcast(eb), on="gb")
        )
        overlap = stable_round(
            F.col("est_a") + F.col("est_b") - F.col("est_union"), 4
        )
        return out.select(
            "ga", "gb", "est_a", "est_b", "est_union",
            overlap.alias("est_overlap"),
        )


class HdrQuantileSketch:
    """Log-linear quantile sketch (the HdrHistogram design: Tene,
    ``HdrHistogram.org``) over a NON-NEGATIVE INTEGER column — the
    fourth leg of the sketch tier (CMS = frequency, HLL =
    cardinality, Bloom = membership, Hdr = QUANTILES): bounded,
    mergeable state where an exact per-group sort cannot run.

    Bucketing avoids ``ln`` entirely (whose last-ulp libm
    differences could flip a bucket cross-engine): ``bitlen`` is
    string-exact and the sub-bucket shift is division by a power of
    two — bit-exact below 2^53 and an IDENTICAL IEEE sequence in
    both engines above it:

    * ``v < 2^k``            → ``bucket = v``                (exact)
    * ``v ≥ 2^k``, ``e = bitlen(v) − 1``, ``s = e − k``
                             → ``bucket = s·2^k + (v >> s)``

    so each bucket spans ``2^s`` consecutive integers starting at
    ``(rem + 2^k) << s`` (``rem = bucket mod 2^k``, ``s = bucket>>k
    − 1``) and the quantile estimate (the bucket's LOWER bound) has
    relative error ≤ 2^−k. ``bitlen`` is ``length(bin(v))`` — the
    HLL device, verified identical in Spark and DuckDB, which is
    what makes the sketch hash-gateable (``q_hdr_quantiles``).

    Scale shape: ``fit``/``fit_grouped`` is ONE map-side-combined
    count aggregation to ≤ ``(64−k)·2^k`` rows per group (k=7 → ≤
    7,296 buckets for the full long range) no matter the input size;
    sketches merge by bucket-wise count ADD (union of shards,
    streaming micro-batches, cross-day rollups). ``quantiles`` is
    the rank-join device from ``grouped_exact_quantiles``: cumulate
    the tiny bucket table per group, explode target ranks
    ``max(1, ceil(q·n))`` from the count table, pick the first
    bucket whose cumulative count reaches each rank. The exact-sort
    twin stays the right answer when a full shuffle is affordable;
    this is the bounded-state path. No reference counterpart
    (sketch-tier extension).
    """

    def __init__(self, precision_bits: int = 7, value_column: str = "v"):
        if not 1 <= precision_bits <= 20:
            raise ValueError("precision_bits must be in [1, 20]")
        self.k = precision_bits
        self.value_column = value_column

    # -- bucket algebra (shared Spark/SQL shapes) ------------------------

    def _bucket(self) -> Column:
        v = F.col(self.value_column).cast("long")
        k = self.k
        e = F.length(F.bin(v)) - F.lit(1)  # bitlen(v) - 1, v > 0
        s = (e - F.lit(k)).cast("int")
        coarse = s.cast("long") * F.lit(1 << k) + F.floor(
            v / F.pow(F.lit(2.0), s)
        ).cast("long")
        return F.when(v < F.lit(1 << k), v).otherwise(coarse)

    def bucket_sql(self, value_expr: str) -> str:
        """The identical bucket formula as ANSI SQL (for oracles and
        engine-independent consumers)."""
        k = self.k
        return (
            f"CASE WHEN ({value_expr}) < {1 << k} THEN ({value_expr}) "
            f"ELSE (length(bin({value_expr})) - 1 - {k}) * {1 << k} "
            f"+ CAST(floor(({value_expr}) / power(2.0, "
            f"length(bin({value_expr})) - 1 - {k})) AS BIGINT) END"
        )

    def _lower_bound(self, bucket: Column) -> Column:
        # coarse buckets live at bucket ∈ [(s+1)·2^k, (s+2)·2^k) for
        # shift s, so s = bucket>>k − 1 and lo = (rem + 2^k) << s
        k = self.k
        t = F.floor(bucket / F.lit(1 << k)).cast("long")
        rem = bucket - t * F.lit(1 << k)
        return F.when(bucket < F.lit(1 << k), bucket).otherwise(
            (rem + F.lit(1 << k))
            * F.pow(F.lit(2.0), (t - F.lit(1)).cast("int")).cast("long")
        )

    # -- fitting -----------------------------------------------------------

    def fit_grouped(self, df: DataFrame, group_cols) -> DataFrame:
        """Sketch table ``[*group_cols, bucket, cnt]`` — one
        aggregation, map-side combined. Values must be ≥ 0 (shift
        upstream; a negative raises downstream of the bin())."""
        groups = (
            [group_cols] if isinstance(group_cols, str) else list(group_cols)
        )
        clean = df.select(*groups, self.value_column).filter(
            F.col(self.value_column).isNotNull()
        )
        return (
            clean.withColumn("bucket", self._bucket())
            .groupBy(*groups, "bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    def fit(self, df: DataFrame) -> DataFrame:
        """Ungrouped sketch ``[bucket, cnt]``."""
        return self.fit_grouped(
            df.withColumn("_g", F.lit(0)), "_g"
        ).drop("_g")

    @staticmethod
    def merge(*sketches: DataFrame) -> DataFrame:
        """Union sketches (same grouping columns) by bucket-wise
        count addition — shards, days, streams compose losslessly."""
        if not sketches:
            raise ValueError("need at least one sketch")
        out = sketches[0]
        for s in sketches[1:]:
            out = out.unionByName(s)
        keys = [c for c in out.columns if c != "cnt"]
        return out.groupBy(*keys).agg(
            F.sum("cnt").cast("long").alias("cnt")
        )

    # -- querying ----------------------------------------------------------

    def quantiles_grouped(
        self, sketch: DataFrame, group_cols, probs
    ) -> DataFrame:
        """``[*group_cols, prob, value]`` where ``value`` is the
        LOWER BOUND of the bucket holding rank ``max(1, ceil(p·n))``
        — within 2^−k relative of the exact quantile. One window
        over the tiny bucket table + a rank join; adding
        probabilities adds join rows, never scans."""
        groups = (
            [group_cols] if isinstance(group_cols, str) else list(group_cols)
        )
        probs = list(probs)
        if not probs:
            raise ValueError("need at least one probability")
        for p in probs:
            if not 0.0 <= p <= 1.0:
                raise ValueError(f"prob {p} outside [0, 1]")
        w = (
            Window.partitionBy(*groups)
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        cum = sketch.withColumn("_cum", F.sum("cnt").over(w))
        counts = sketch.groupBy(*groups).agg(
            F.sum("cnt").cast("long").alias("_n")
        )
        # ranks in EXACT rational arithmetic — float ceil(p·n) is
        # engine-dependent at boundaries (Spark doubles give
        # 0.9·2500 → 2250.0000000000005 → 2251; DuckDB decimal
        # literals give exactly 2250): ceil(n·num/den) =
        # (n·num + den − 1) div den with the minimal num/den of p
        from fractions import Fraction

        def _rank(p):
            frac = Fraction(str(float(p))).limit_denominator(10**6)
            num, den = frac.numerator, frac.denominator
            exact = F.floor(
                (F.col("_n") * F.lit(num) + F.lit(den - 1))
                / F.lit(den)
            ).cast("long")
            return F.greatest(F.lit(1).cast("long"), exact)

        targets = counts.select(
            *[F.col(g).alias(f"_g_{g}") for g in groups],
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(float(p)).alias("prob"),
                            _rank(p).alias("_r"),
                        )
                        for p in probs
                    ]
                )
            ).alias("_t"),
        ).select(*[f"_g_{g}" for g in groups], "_t.prob", "_t._r")
        cond = (F.col("_cum") >= F.col("_r")) & (
            F.col("_cum") - F.col("cnt") < F.col("_r")
        )
        for g in groups:
            cond = cond & (F.col(f"_g_{g}") == F.col(g))
        return targets.join(cum, cond).select(
            *[F.col(f"_g_{g}").alias(g) for g in groups],
            "prob",
            self._lower_bound(F.col("bucket")).alias("value"),
        )

    def quantiles(self, sketch: DataFrame, probs) -> DataFrame:
        return self.quantiles_grouped(
            sketch.withColumn("_g", F.lit(0)), "_g", probs
        ).drop("_g")


class DSIRSelector:
    """Data Selection with Importance Resampling (Xie et al. 2023):
    score every raw document by how much more likely its hashed
    n-gram features are under a TARGET corpus than under the raw
    corpus, then keep the highest-weight slice — the
    importance-weighting recipe for steering a 100 TB crawl toward a
    reference distribution (e.g. Wikipedia-like text).

        log w(x) = Σ_f  ln p_target(f) − ln p_raw(f)

    over x's features f (word unigrams + bigrams, counted WITH
    multiplicity), where each p is an add-one-smoothed hashed-bucket
    probability: p(f) = (count(bucket(f)) + 1) / (N + B).

    Buckets are the first ``bucket_chars`` hex chars of md5(feature)
    (B = 16^bucket_chars, default 65 536) — a string key any engine
    reproduces bit-identically, which is what makes the
    ``q_dsir_weights`` hash gate portable (same device as the
    simhash/minhash md5 gates).

    Plan shape at 100 TB: feature explode is a narrow map; the two
    bucket-count tables are ≤ B rows each (map-side combined, then
    BROADCAST back), so scoring is explode → broadcast join → one
    doc-keyed sum. No wide shuffle except the final per-doc
    aggregation. No reference counterpart (LLM-pipeline extension).
    """

    def __init__(
        self,
        text_column: str = "text",
        id_column: str = "doc_id",
        bucket_chars: int = 4,
        use_bigrams: bool = True,
    ):
        if not 1 <= bucket_chars <= 8:
            raise ValueError("bucket_chars must be in [1, 8]")
        self.text_column = text_column
        self.id_column = id_column
        self.bucket_chars = bucket_chars
        self.num_buckets = 16 ** bucket_chars
        self.use_bigrams = use_bigrams

    def _features(self, df: DataFrame) -> DataFrame:
        """(id, bucket) rows, one per feature occurrence. All array
        expressions are TOTAL (no sequence(0, n-k) that goes negative
        on short docs — see SubstringDeduplicator's plan note)."""
        toks = tokenize_expr(F.lower(F.col(self.text_column)))
        feats = toks
        if self.use_bigrams:
            pair_len = F.greatest(F.size(toks) - 1, F.lit(0))
            bigrams = F.zip_with(
                F.slice(toks, 1, pair_len),
                F.slice(toks, 2, pair_len),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
            feats = F.concat(toks, bigrams)
        return df.select(
            F.col(self.id_column),
            F.explode(feats).alias("_f"),
        ).select(
            self.id_column,
            F.substring(F.md5("_f"), 1, self.bucket_chars).alias("_b"),
        )

    def release(self) -> None:
        """Unpersist the intermediate frames the last :meth:`weights`
        call pinned (they must outlive the returned lazy frame's
        first materialization, so they cannot be released inside
        ``weights`` itself)."""
        for frame in getattr(self, "_persisted", []):
            try:
                frame.unpersist()
            except Exception:
                pass
        self._persisted = []

    def weights(self, raw_df: DataFrame, target_df: DataFrame) -> DataFrame:
        """``[<id_column>, n_features, log_weight]`` for every raw
        document (higher = more target-like)."""
        self.release()
        idc, B = self.id_column, self.num_buckets
        # ONE tokenize+md5 pass over the raw corpus: the per-doc
        # bucket multiplicities feed both the corpus bucket table
        # (second-level sum) and the scoring join — previously the
        # feature explode ran twice (once per consumer), a full extra
        # corpus pass. The persisted frame is one row per (doc,
        # distinct bucket) — far smaller than the feature stream —
        # and is the amortization point that makes the single pass
        # real (without it lineage recompute brings the second pass
        # back).
        raw_doc_buckets = (
            self._features(raw_df)
            .groupBy(idc, "_b")
            .agg(F.count("*").alias("_n"))
            .persist()
        )
        tgt_feats = self._features(target_df)
        raw_counts = raw_doc_buckets.groupBy("_b").agg(
            F.sum("_n").alias("_cr")
        ).persist()
        tgt_counts = tgt_feats.groupBy("_b").agg(
            F.count("*").alias("_ct")
        ).persist()
        # feature totals are the SUM of the (tiny, persisted) bucket
        # tables — deriving them there instead of re-aggregating the
        # feature stream saves one full corpus pass per side
        totals = raw_counts.agg(F.sum("_cr").alias("_nr")).crossJoin(
            tgt_counts.agg(F.sum("_ct").alias("_nt"))
        )
        buckets = raw_counts.join(tgt_counts, on="_b", how="full").crossJoin(
            F.broadcast(totals)
        )
        log_ratio = F.log(
            (F.coalesce(F.col("_ct"), F.lit(0)) + F.lit(1.0))
            / (F.col("_nt") + F.lit(float(B)))
        ) - F.log(
            (F.coalesce(F.col("_cr"), F.lit(0)) + F.lit(1.0))
            / (F.col("_nr") + F.lit(float(B)))
        )
        lut = buckets.select("_b", log_ratio.alias("_lr"))
        out = (
            raw_doc_buckets.join(F.broadcast(lut), on="_b")
            .groupBy(idc)
            .agg(
                F.sum("_n").alias("n_features"),
                stable_round(
                    F.sum(F.col("_n") * F.col("_lr")), 6
                ).alias("log_weight"),
            )
        )
        # the intermediates must stay persisted until the caller
        # materializes the (lazy) result — an eager checkpoint-and-
        # release here was measured at 3x the query wall (0.58 ->
        # 1.70 s bench: a second job plus block storage per call).
        # Instead the persists are tracked and released on the NEXT
        # weights() call (or explicitly via release()), bounding the
        # session pin to one call's frames.
        self._persisted = [raw_doc_buckets, raw_counts, tgt_counts]
        return out

    def select(
        self, raw_df: DataFrame, target_df: DataFrame, n: int
    ) -> DataFrame:
        """The ``n`` most target-like raw documents (deterministic:
        ties break on the id). Global sort+limit is a TakeOrdered —
        no full-data shuffle."""
        idc = self.id_column
        w = self.weights(raw_df, target_df)
        top = (
            w.orderBy(F.col("log_weight").desc(), F.col(idc).asc())
            .limit(n)
            .select(idc, "log_weight")
        )
        return raw_df.join(top, on=idc)


class QualityClassifier:
    """MODEL-based quality filtering — the GPT-3 / CCNet recipe: a
    linear classifier over hashed bag-of-words features is trained to
    separate a high-quality reference corpus from the raw crawl, and
    its probability (not hand-written heuristics) gates documents.
    Complements :class:`QualityScorer` (the heuristic tier) exactly
    the way production pipelines stack the two.

    Everything is JVM-side Spark ML: ``HashingTF`` over the
    whitespace tokens (``num_features`` buckets — the fastText-style
    hashing trick, no driver vocabulary), ``LogisticRegression``
    (distributed L-BFGS), and ``vector_to_array`` to expose
    P(quality) as a plain double column. No Python in the scoring
    path; scoring a 100 TB corpus is one narrow map.

    ``fit`` expects ``label_column`` (1.0 = reference/high quality);
    ``fit_reference`` builds that frame from a positive and a
    negative DataFrame. Training is iterative ⇒ rows-only contract
    (``q_quality_classifier``); behaviour is pinned by a separable
    synthetic-corpus test.
    """

    def __init__(
        self,
        text_column: str = "text",
        label_column: str = "label",
        num_features: int = 262144,
        lowercase: bool = True,
        max_iter: int = 20,
        reg_param: float = 0.0,
    ):
        if num_features < 2:
            raise ValueError("num_features must be >= 2")
        self.text_column = text_column
        self.label_column = label_column
        self.num_features = num_features
        self.lowercase = lowercase
        self.max_iter = max_iter
        self.reg_param = reg_param
        self._model = None

    def _tokens(self, df: DataFrame) -> DataFrame:
        text = F.col(self.text_column)
        if self.lowercase:
            text = F.lower(text)
        return df.withColumn("_qc_tokens", tokenize_expr(text))

    def fit(self, df: DataFrame) -> "QualityClassifier":
        from pyspark.ml.classification import LogisticRegression
        from pyspark.ml.feature import HashingTF

        tf = HashingTF(
            inputCol="_qc_tokens",
            outputCol="_qc_features",
            numFeatures=self.num_features,
        )
        feats = tf.transform(self._tokens(df)).withColumn(
            "_qc_label", F.col(self.label_column).cast("double")
        )
        lr = LogisticRegression(
            featuresCol="_qc_features",
            labelCol="_qc_label",
            maxIter=self.max_iter,
            regParam=self.reg_param,
        )
        self._model = lr.fit(feats)
        self._tf = tf
        return self

    def fit_reference(
        self, positive: DataFrame, negative: DataFrame
    ) -> "QualityClassifier":
        """Train from a reference corpus (label 1) vs a raw sample
        (label 0) — the standard construction."""
        lc = self.label_column
        union = positive.select(
            F.col(self.text_column), F.lit(1.0).alias(lc)
        ).unionByName(
            negative.select(F.col(self.text_column), F.lit(0.0).alias(lc))
        )
        return self.fit(union)

    def transform(self, df: DataFrame) -> DataFrame:
        """Append ``quality_prob`` (P(reference-like)) and
        ``quality_pred`` (0/1 at the 0.5 cut)."""
        from pyspark.ml.functions import vector_to_array

        if self._model is None:
            raise ValueError("QualityClassifier must be fit first")
        scored = self._model.transform(
            self._tf.transform(self._tokens(df))
        )
        return (
            scored.withColumn(
                "quality_prob",
                F.element_at(vector_to_array("probability"), 2),
            )
            .withColumn(
                "quality_pred", F.col("prediction").cast("int")
            )
            .drop(
                "_qc_tokens", "_qc_features", "_qc_label",
                "rawPrediction", "probability", "prediction",
            )
        )

    def filter(self, df: DataFrame, threshold: float = 0.5) -> DataFrame:
        """Documents scoring at or above ``threshold``, original
        columns only."""
        return (
            self.transform(df)
            .filter(F.col("quality_prob") >= threshold)
            .select(df.columns)
        )


class QualityFilterPipeline:
    """C4/FineWeb-style document filter chain: compose the quality
    signals (length, alpha/digit ratios, stopword density, Gopher
    repetition fractions) into a keep/drop verdict with named reasons.

    One scan end-to-end, no shuffle and no join: QualityScorer's
    ratios and RepetitionStats' ``dup_word_frac`` and
    ``top_bigram_char_frac`` are per-row expressions over the same
    rows; the verdict is a conjunction evaluated JVM-side and the
    reasons column materializes WHICH rule fired (the part pipeline
    operators usually lose). ``transform`` annotates, ``filter``
    drops. Each row gets its own verdict, whatever its ``id_column``
    (a null or repeated id neither drops nor merges rows).

    Threshold defaults follow the published heuristics (C4: short
    docs, symbol ratios; Gopher §A1.1: repetition fractions) scaled
    to whitespace tokenization.
    """

    def __init__(
        self,
        text_column: str = "text",
        id_column: str = "doc_id",
        min_tokens: int = 10,
        max_tokens: Optional[int] = 100_000,
        min_alpha_ratio: float = 0.6,
        max_digit_ratio: float = 0.2,
        max_dup_word_frac: float = 0.6,
        max_top_bigram_char_frac: float = 0.2,
        lang: str = "en",
    ):
        self.text_column = text_column
        self.id_column = id_column
        self.min_tokens = min_tokens
        self.max_tokens = max_tokens
        self.min_alpha_ratio = min_alpha_ratio
        self.max_digit_ratio = max_digit_ratio
        self.max_dup_word_frac = max_dup_word_frac
        self.max_top_bigram_char_frac = max_top_bigram_char_frac
        self.lang = lang

    def transform(self, df: DataFrame) -> DataFrame:
        """Annotate with ``keep`` boolean + ``drop_reasons`` array."""
        scored = QualityScorer(self.text_column, lang=self.lang).transform(df)
        rep = _repetition_signals(F.col(self.text_column))
        idc = self.id_column
        signals = scored.select(
            idc,
            *[c for c in scored.columns if c != idc],
            rep["dup_word_frac"].alias("dup_word_frac"),
            rep["top_bigram_char_frac"].alias("top_bigram_char_frac"),
        )
        n_tokens = token_count_expr(F.col(self.text_column))
        checks = [
            ("too_short", n_tokens < self.min_tokens),
        ]
        if self.max_tokens is not None:
            checks.append(("too_long", n_tokens > self.max_tokens))
        checks += [
            ("low_alpha", F.col("alpha_ratio") < self.min_alpha_ratio),
            ("high_digit", F.col("digit_ratio") > self.max_digit_ratio),
            ("repeated_words", F.col("dup_word_frac") > self.max_dup_word_frac),
            (
                "repeated_bigram",
                F.col("top_bigram_char_frac") > self.max_top_bigram_char_frac,
            ),
        ]
        reasons = F.filter(
            F.array(
                *[
                    F.when(cond, F.lit(name)).otherwise(F.lit(None))
                    for name, cond in checks
                ]
            ),
            lambda x: x.isNotNull(),
        )
        return signals.withColumn("drop_reasons", reasons).withColumn(
            "keep", F.size("drop_reasons") == 0
        )

    def filter(self, df: DataFrame) -> DataFrame:
        """Return only the documents passing every check, original
        columns only."""
        return (
            self.transform(df)
            .filter(F.col("keep"))
            .select(*df.columns)
        )


class GopherQualityFilter:
    """The full Gopher document-quality rule set (Rae et al. 2021,
    §A1.1) as one JVM-side expression scan — complementary to
    :class:`QualityFilterPipeline` (C4 ratios + repetition fractions):
    this operator covers the word-shape and line-shape rules the
    pipeline omits.

    Rules (a document is DROPPED when any fires):

    - ``word_count``: outside ``[min_words, max_words]``
    - ``mean_word_len``: outside ``[min_mean_word_len, max_mean_word_len]``
    - ``symbol_ratio``: ``#``/ellipsis occurrences per word above
      ``max_symbol_word_ratio``
    - ``bullet_lines``: fraction of lines starting with a bullet
      (``-``, ``*``, ``•``) above ``max_bullet_line_frac``
    - ``ellipsis_lines``: fraction of lines ending with an ellipsis
      above ``max_ellipsis_line_frac``
    - ``alpha_words``: fraction of words containing at least one
      alphabetic character below ``min_alpha_word_frac``
    - ``stopwords``: fewer than ``min_stopword_hits`` DISTINCT words
      from Gopher's required-stopword list (the, be, to, of, and,
      that, have, with)

    Words are raw whitespace tokens (punctuation kept attached), the
    same tokenization every other text operator here uses, so the
    whole rule set is one embarrassingly parallel projection — no
    shuffle, no UDF, and a DuckDB oracle replays it exactly
    (``q_gopher_quality``). No reference counterpart (LLM-pipeline
    extension).
    """

    REQUIRED_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

    def __init__(
        self,
        text_column: str = "text",
        min_words: int = 50,
        max_words: int = 100_000,
        min_mean_word_len: float = 3.0,
        max_mean_word_len: float = 10.0,
        max_symbol_word_ratio: float = 0.1,
        max_bullet_line_frac: float = 0.9,
        max_ellipsis_line_frac: float = 0.3,
        min_alpha_word_frac: float = 0.8,
        min_stopword_hits: int = 2,
    ):
        self.text_column = text_column
        self.min_words = min_words
        self.max_words = max_words
        self.min_mean_word_len = min_mean_word_len
        self.max_mean_word_len = max_mean_word_len
        self.max_symbol_word_ratio = max_symbol_word_ratio
        self.max_bullet_line_frac = max_bullet_line_frac
        self.max_ellipsis_line_frac = max_ellipsis_line_frac
        self.min_alpha_word_frac = min_alpha_word_frac
        self.min_stopword_hits = min_stopword_hits

    def transform(self, df: DataFrame) -> DataFrame:
        """Annotate with the per-rule signals, ``keep`` and
        ``drop_reasons`` (same contract as QualityFilterPipeline)."""
        text = F.col(self.text_column)
        words = tokenize_expr(text)
        n_words = F.size(words).cast("long")
        total_word_chars = F.aggregate(
            F.transform(words, F.length), F.lit(0), lambda acc, x: acc + x
        )
        mean_word_len = F.when(
            n_words > 0, total_word_chars / n_words.cast("double")
        ).otherwise(F.lit(0.0))
        n_symbols = F.regexp_count(text, F.lit(r"#|\.\.\.|…")).cast("long")
        symbol_ratio = F.when(
            n_words > 0, n_symbols / n_words.cast("double")
        ).otherwise(F.lit(0.0))
        lines = F.split(text, "\n")
        n_lines = F.size(lines).cast("double")
        bullet_frac = F.size(
            F.filter(lines, lambda l: F.ltrim(l).rlike(r"^[-*•]"))
        ) / n_lines
        ellipsis_frac = F.size(
            F.filter(lines, lambda l: F.rtrim(l).rlike(r"(\.\.\.|…)$"))
        ) / n_lines
        alpha_word_frac = F.when(
            n_words > 0,
            F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]")))
            / n_words.cast("double"),
        ).otherwise(F.lit(0.0))
        stop_lit = F.array(*[F.lit(s) for s in self.REQUIRED_STOPWORDS])
        stopword_hits = F.size(
            F.array_intersect(
                F.array_distinct(F.transform(words, F.lower)), stop_lit
            )
        ).cast("long")

        annotated = (
            df.withColumn("n_words", n_words)
            .withColumn("mean_word_len", mean_word_len)
            .withColumn("symbol_word_ratio", symbol_ratio)
            .withColumn("bullet_line_frac", bullet_frac)
            .withColumn("ellipsis_line_frac", ellipsis_frac)
            .withColumn("alpha_word_frac", alpha_word_frac)
            .withColumn("stopword_hits", stopword_hits)
        )
        checks = [
            (
                "word_count",
                (F.col("n_words") < self.min_words)
                | (F.col("n_words") > self.max_words),
            ),
            (
                "mean_word_len",
                (F.col("mean_word_len") < self.min_mean_word_len)
                | (F.col("mean_word_len") > self.max_mean_word_len),
            ),
            (
                "symbol_ratio",
                F.col("symbol_word_ratio") > self.max_symbol_word_ratio,
            ),
            (
                "bullet_lines",
                F.col("bullet_line_frac") > self.max_bullet_line_frac,
            ),
            (
                "ellipsis_lines",
                F.col("ellipsis_line_frac") > self.max_ellipsis_line_frac,
            ),
            (
                "alpha_words",
                F.col("alpha_word_frac") < self.min_alpha_word_frac,
            ),
            (
                "stopwords",
                F.col("stopword_hits") < self.min_stopword_hits,
            ),
        ]
        reasons = F.filter(
            F.array(
                *[
                    F.when(cond, F.lit(name)).otherwise(F.lit(None))
                    for name, cond in checks
                ]
            ),
            lambda x: x.isNotNull(),
        )
        return annotated.withColumn("drop_reasons", reasons).withColumn(
            "keep", F.size("drop_reasons") == 0
        )

    def filter(self, df: DataFrame) -> DataFrame:
        """Only the documents passing every rule, original columns."""
        return self.transform(df).filter(F.col("keep")).select(*df.columns)


class C4TextCleaner:
    """C4-style line-level text cleaning (Raffel et al. 2020, §2.2)
    as one JVM-side expression scan — the LINE-shape companion to the
    document-level verdicts of :class:`QualityFilterPipeline` /
    :class:`GopherQualityFilter`.

    Line rules (a line is REMOVED from the document when any fires):

    - does not end in a terminal punctuation mark (``. ! ? " ”`` after
      right-trim)
    - fewer than ``min_line_words`` whitespace words
    - contains a blocked word (default: ``javascript``),
      case-insensitive
    - contains a cookie/policy boilerplate phrase (terms of use,
      privacy policy, cookie policy, uses/use of/use cookies)

    Page rules (the whole document is DROPPED when any fires):

    - ``lorem_ipsum``: contains the phrase "lorem ipsum"
    - ``curly_brace``: contains ``{`` (code, not prose)
    - ``too_few_sentences``: fewer than ``min_sentences`` terminal
      punctuation marks in the CLEANED text

    ``transform`` annotates with ``clean_text`` (kept lines rejoined),
    line/sentence counts, ``keep`` and ``drop_reasons``; ``filter``
    returns only kept pages with ``text`` replaced by the cleaned
    text. Everything is built-in string/array expressions — no
    shuffle, no UDF, embarrassingly parallel at 100 TB, and the
    ``q_c4_clean`` DuckDB oracle replays it exactly. No reference
    counterpart (LLM-pipeline extension).
    """

    LINE_BLOCK_WORDS = ["javascript"]
    POLICY_PHRASES = [
        "terms of use",
        "privacy policy",
        "cookie policy",
        "uses cookies",
        "use of cookies",
        "use cookies",
    ]

    def __init__(
        self,
        text_column: str = "text",
        min_line_words: int = 3,
        min_sentences: int = 5,
        curly_brace_filter: bool = True,
        output_column: str = "clean_text",
    ):
        self.text_column = text_column
        self.min_line_words = min_line_words
        self.min_sentences = min_sentences
        self.curly_brace_filter = curly_brace_filter
        self.output_column = output_column

    def _line_ok(self, line: Column) -> Column:
        ok = F.rtrim(line).rlike(r'[.!?"”]$')
        ok = ok & (F.size(tokenize_expr(line)) >= self.min_line_words)
        low = F.lower(line)
        for w in self.LINE_BLOCK_WORDS:
            ok = ok & ~low.contains(w)
        for p in self.POLICY_PHRASES:
            ok = ok & ~low.contains(p)
        return ok

    def transform(self, df: DataFrame) -> DataFrame:
        text = F.col(self.text_column)
        lines = F.split(text, "\n")
        kept = F.filter(lines, self._line_ok)
        clean = F.array_join(kept, "\n")
        annotated = (
            df.withColumn(self.output_column, clean)
            .withColumn("n_lines_kept", F.size(kept).cast("long"))
            .withColumn(
                "n_lines_dropped",
                (F.size(lines) - F.size(kept)).cast("long"),
            )
            .withColumn(
                "n_sentences",
                F.regexp_count(
                    F.col(self.output_column), F.lit(r"[.!?]")
                ).cast("long"),
            )
        )
        checks = [
            ("lorem_ipsum", F.lower(text).contains("lorem ipsum")),
            (
                "too_few_sentences",
                F.col("n_sentences") < self.min_sentences,
            ),
        ]
        if self.curly_brace_filter:
            checks.insert(1, ("curly_brace", text.contains("{")))
        reasons = F.filter(
            F.array(
                *[
                    F.when(cond, F.lit(name)).otherwise(F.lit(None))
                    for name, cond in checks
                ]
            ),
            lambda x: x.isNotNull(),
        )
        return annotated.withColumn("drop_reasons", reasons).withColumn(
            "keep", F.size("drop_reasons") == 0
        )

    def filter(self, df: DataFrame) -> DataFrame:
        """Only the pages passing every page rule, with ``text``
        replaced by the cleaned text (original column set)."""
        out = self.transform(df).filter(F.col("keep"))
        return out.withColumn(
            self.text_column, F.col(self.output_column)
        ).select(*df.columns)


class SequencePacker:
    """Greedy document-preserving sequence packing: lay documents
    head-to-tail in a deterministic order and assign each to the
    fixed-token-budget training window ("pack") where its FIRST token
    lands — the concat-then-slice layout LLM training pipelines use
    (Megatron/GPT-style), except documents are never split, so a pack
    may run over budget by the tail of its last document (consumers
    truncate or pad; ``pack_offset`` gives the in-pack start).

    No reference counterpart (LLM-pipeline extension).

    Plan shape: per-doc token counts are a map-side expression; the
    global running total uses the two-phase range-partitioned prefix
    sum (``ordered_prefix_sums`` — no single-task window, scale-safe
    past billions of docs; see PLANS.md); pack id/offset are then
    pure arithmetic. ONE range-partition shuffle total.
    """

    def __init__(
        self,
        budget: int,
        id_column: str = "doc_id",
        text_column: str = "text",
    ):
        if budget < 1:
            raise ValueError("budget must be >= 1")
        self.budget = budget
        self.id_column = id_column
        self.text_column = text_column

    def transform(self, df: DataFrame) -> DataFrame:
        from replay_spark.utils.spark_utils import ordered_prefix_sums

        idc, budget = self.id_column, int(self.budget)
        with_counts = df.select(
            idc,
            token_count_expr(F.col(self.text_column))
            .cast("long")
            .alias("n_tokens"),
        )
        summed = ordered_prefix_sums(
            with_counts, [F.col(idc).asc()], "n_tokens", out_col="_csum"
        )
        before = F.col("_csum") - F.col("n_tokens")
        return summed.select(
            idc,
            "n_tokens",
            F.floor(before / budget).cast("long").alias("pack_id"),
            (before % budget).cast("long").alias("pack_offset"),
        )


class BinPacker:
    """First-fit-decreasing sample packing — the padding-minimizing
    complement to :class:`SequencePacker`: SequencePacker lays
    documents head-to-tail (zero fragmentation, but a pack may run
    OVER budget by its tail document); BinPacker guarantees no pack
    exceeds ``budget`` (over-long documents get flagged singleton
    packs), trading a small padding waste — the classic trade
    training pipelines pick between.

    Global FFD is inherently sequential, so the distributed form
    hash-partitions documents deterministically (md5 of the id into
    ``num_partitions`` cells) and runs EXACT FFD within each cell in
    ``applyInPandas``; for cells of thousands of documents the waste
    is within a hair of global FFD (both are ≤ 11/9·OPT + 1), and
    every run/engine produces the same assignment (hash partitioning
    + (len desc, id asc) order — no RNG). Pack ids encode
    ``cell · 2³² + local``. One hash shuffle on the 2-column count
    projection; full rows never move. Rows-only contract
    (``q_bin_pack``) — the FFD loop is not SQL — with the budget /
    waste / determinism properties pinned by tests.
    No reference counterpart (LLM-pipeline extension).
    """

    def __init__(
        self,
        budget: int,
        id_column: str = "doc_id",
        text_column: str = "text",
        num_partitions: int = 32,
    ):
        if budget < 1:
            raise ValueError("budget must be >= 1")
        if num_partitions < 1:
            raise ValueError("num_partitions must be >= 1")
        self.budget = budget
        self.id_column = id_column
        self.text_column = text_column
        self.num_partitions = num_partitions

    def transform(self, df: DataFrame) -> DataFrame:
        """``[<id>, n_tokens, pack_id, overflow]`` — ``overflow``
        marks single-document packs longer than the budget."""
        idc, budget = self.id_column, int(self.budget)
        cell = F.pmod(
            F.conv(
                F.substring(F.md5(F.col(idc).cast("string")), 1, 15),
                16,
                10,
            ).cast("long"),
            F.lit(self.num_partitions),
        )
        counts = df.select(
            F.col(idc),
            token_count_expr(F.col(self.text_column))
            .cast("long")
            .alias("n_tokens"),
            cell.alias("_cell"),
        )

        def pack(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(
                ["n_tokens", idc], ascending=[False, True]
            )
            part = int(pdf["_cell"].iloc[0]) if len(pdf) else 0
            remaining: list = []  # capacity left per open pack
            packs, overflow = [], []
            for n in pdf["n_tokens"]:
                n = int(n)
                if n > budget:
                    packs.append(len(remaining))
                    remaining.append(0)  # sealed oversize pack
                    overflow.append(True)
                    continue
                for j, cap in enumerate(remaining):
                    if cap >= n:
                        packs.append(j)
                        remaining[j] = cap - n
                        break
                else:
                    packs.append(len(remaining))
                    remaining.append(budget - n)
                overflow.append(False)
            out = pdf[[idc, "n_tokens"]].copy()
            out["pack_id"] = [
                (part << 32) + j for j in packs
            ]
            out["overflow"] = overflow
            return out

        import pandas as pd  # noqa: F811

        return counts.groupBy("_cell").applyInPandas(
            pack,
            schema=f"{idc} long, n_tokens long, pack_id long, "
            "overflow boolean",
        )


class SourceCapFilter:
    """Per-source document cap (the FineWeb/CommonCrawl "domain cap"
    rule): keep at most ``cap`` documents per source, deterministic —
    the ``cap`` smallest ids win. No reference counterpart
    (LLM-pipeline extension).

    Plan shape (no per-source total ordering anywhere — a hot domain
    never lands on one reducer):

    1. per-source counts (map-side combined, tiny) pick the over-cap
       sources — assumed to be a small minority of hot domains, so
       they broadcast;
    2. the per-source cutoff id (the ``cap``-th smallest) is computed
       on a 2-column ``(source, id)`` projection of only the over-cap
       rows via a SALTED two-phase top-k: rank within
       ``(source, salt)`` — each partition holds ~rows/salts ids —
       keep the local ``cap`` smallest, then rank the surviving
       ≤ ``salts·cap`` candidates per source (bounded, skew-free) and
       take the max kept id as the source's threshold (exact: every
       one of a source's ``cap`` smallest ids is among the ``cap``
       smallest of its salt bucket);
    3. one full scan filters the corpus against the broadcast
       threshold map. Full-width rows are never shuffled at all.

    Requires ``id_column`` unique per source for an exact cap (ids
    tied at the threshold are all kept — deterministic either way).
    The input lineage is evaluated three times (counts, id
    projection, final filter) — scans 1–2 are column-pruned to two
    columns, but if the upstream pipeline is expensive (shuffles,
    joins), pass ``auto_persist=True`` or persist it before calling
    ``transform``; at corpus scale an unpersisted shuffle-bearing
    input costs two redundant full passes.

    With ``auto_persist=True``, ``transform`` persists the input for
    the duration of the plan build and the caller is responsible for
    the returned frame's lifetime: the persisted input stays
    referenced by the output's lineage and is unpersisted via
    ``release()`` (or falls out with the executor cache LRU).
    """

    def __init__(
        self,
        cap: int,
        partition_column: str = "source",
        id_column: str = "doc_id",
        salts: int = 32,
        auto_persist: bool = False,
    ):
        if cap < 1:
            raise ValueError("cap must be >= 1")
        if salts < 1:
            raise ValueError("salts must be >= 1")
        self.cap = cap
        self.partition_column = partition_column
        self.id_column = id_column
        self.salts = salts
        self.auto_persist = auto_persist
        self._persisted: Optional[DataFrame] = None

    def release(self) -> None:
        """Unpersist the input frame retained by ``auto_persist``."""
        if self._persisted is not None:
            self._persisted.unpersist()
            self._persisted = None

    def transform(self, df: DataFrame) -> DataFrame:
        if self.auto_persist:
            df = df.persist()
            self._persisted = df
        src, idc, cap = self.partition_column, self.id_column, self.cap
        over_sources = (
            df.groupBy(src)
            .agg(F.count(F.lit(1)).alias("_cnt"))
            .filter(F.col("_cnt") > cap)
            .select(src)
        )
        over_ids = (
            df.select(src, idc)
            .join(F.broadcast(over_sources), on=src, how="left_semi")
            .withColumn(
                "_salt",
                F.pmod(F.xxhash64(F.col(idc)), F.lit(self.salts)),
            )
        )
        local_topk = (
            over_ids.withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy(src, "_salt").orderBy(
                        F.col(idc).asc()
                    )
                ),
            )
            .filter(F.col("_rn") <= cap)
            .drop("_rn", "_salt")
        )
        thresholds = (
            local_topk.withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy(src).orderBy(F.col(idc).asc())
                ),
            )
            .filter(F.col("_rn") <= cap)
            .groupBy(src)
            .agg(F.max(idc).alias("_max_keep_id"))
        )
        return (
            df.join(F.broadcast(thresholds), on=src, how="left")
            .filter(
                F.col("_max_keep_id").isNull()
                | (F.col(idc) <= F.col("_max_keep_id"))
            )
            .select(df.columns)
        )
