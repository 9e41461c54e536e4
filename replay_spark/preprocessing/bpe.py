"""Trainable byte-pair-encoding tokenizer — DataFrame-native.

The tokenization tier of an LLM data pipeline: learn a BPE merge
table from a corpus, then tokenize documents with it (token arrays /
counts / ids). Classic Sennrich-style word-level BPE:

* ``fit`` aggregates the corpus ONCE into a word-type frequency
  table — bounded by vocabulary growth (Heaps' law), not corpus
  size: 100 TB of text still collapses to ~10^6-10^7 distinct words
  with map-side combine, so everything after the first aggregation
  runs on a small table.
* The merge loop runs on that word-type table. Below
  ``driver_threshold`` word types it collects and runs the standard
  in-memory loop (the same shape HuggingFace trainers use — fast,
  exact). Above it, merges run in BATCHED DataFrame rounds: adjacent
  symbol pairs via ``arrays_zip`` of shifted slices, one
  frequency-weighted pair-count aggregate collecting the top
  ``batch_candidates``, a provably-safe prefix of symbol-disjoint
  pairs folded per round (see ``_fit_distributed``), and one
  Arrow-batched rewrite applying the whole batch —
  O(num_merges / batch) jobs over a vocabulary-sized frame, never a
  corpus rescan. Both paths produce identical merges
  (parity-tested); ties break lexicographically so training is
  deterministic.
* ``transform`` tokenizes documents with the learned ranks inside
  ``mapInPandas`` — greedy lowest-rank merging per word with a
  per-batch word cache (each distinct word is tokenized once per
  batch), merges broadcast via closure.

No reference counterpart (LLM-pipeline extension; the reference's
``TensorSequenceTokenizer`` maps ids, it does not learn subwords).
Training is iterative and therefore rows-only gated
(`q_bpe_tokens`); the merge algebra is pinned by golden tests (the
classic hug/pug corpus) and the driver/distributed parity test.
"""

from __future__ import annotations

from typing import Iterator, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from replay_spark.preprocessing.text import tokenize_expr
from replay_spark.utils.spark_utils import fixpoint, map_rows, release

__all__ = ["BPETokenizer", "ByteLevelBPETokenizer", "WordPieceTokenizer"]

_EOW = "</w>"


def _word_symbols(word: str) -> tuple:
    return tuple(word[:-1]) + ((word[-1] + _EOW),) if word else ()


def _merge_word(symbols: tuple, pair: tuple) -> tuple:
    out = []
    i = 0
    while i < len(symbols):
        if (
            i + 1 < len(symbols)
            and symbols[i] == pair[0]
            and symbols[i + 1] == pair[1]
        ):
            out.append(pair[0] + pair[1])
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return tuple(out)


class BPETokenizer:
    """Learn ``num_merges`` BPE merges from a corpus, then tokenize.

    ``fit`` → ``self.merges`` (ordered list of (left, right)).
    ``transform`` adds a ``tokens`` array column; ``vocabulary``
    returns the token → id table (ids dense, sorted lexicographically
    for determinism).
    """

    def __init__(
        self,
        num_merges: int = 200,
        text_column: str = "text",
        lowercase: bool = True,
        min_pair_count: int = 2,
        driver_threshold: int = 1_000_000,
        batch_candidates: int = 256,
    ):
        if num_merges < 1:
            raise ValueError("num_merges must be >= 1")
        if batch_candidates < 1:
            raise ValueError("batch_candidates must be >= 1")
        self.num_merges = num_merges
        self.text_column = text_column
        self.lowercase = lowercase
        self.min_pair_count = min_pair_count
        self.driver_threshold = driver_threshold
        self.batch_candidates = batch_candidates
        self.merges: Optional[list] = None

    # -- training ------------------------------------------------------------

    def _word_freqs(self, df: DataFrame) -> DataFrame:
        text = F.col(self.text_column)
        if self.lowercase:
            text = F.lower(text)
        return (
            df.select(F.explode(tokenize_expr(text)).alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("freq"))
        )

    def fit(self, df: DataFrame) -> "BPETokenizer":
        wf = self._word_freqs(df).persist()
        try:
            n_types = wf.count()
            if n_types <= self.driver_threshold:
                rows = wf.collect()
                self.merges = self._fit_driver(
                    {r["word"]: r["freq"] for r in rows}
                )
            else:
                self.merges = self._fit_distributed(wf)
        finally:
            wf.unpersist()
        return self

    def _symbols(self, word: str) -> tuple:
        """Initial symbol sequence for a word type (subclass hook:
        byte-level maps UTF-8 bytes instead of chars+EOW)."""
        return _word_symbols(word)

    def _fit_driver(self, word_freqs: dict) -> list:
        """Standard in-memory BPE over the word-type dict."""
        symbols = {w: self._symbols(w) for w in word_freqs}
        merges: list = []
        for _ in range(self.num_merges):
            counts: dict = {}
            for w, freq in word_freqs.items():
                syms = symbols[w]
                for i in range(len(syms) - 1):
                    p = (syms[i], syms[i + 1])
                    counts[p] = counts.get(p, 0) + freq
            if not counts:
                break
            # deterministic: max count, then lexicographically smallest
            best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            if best[1] < self.min_pair_count:
                break
            pair = best[0]
            merges.append(pair)
            for w in symbols:
                if pair[0] in symbols[w]:
                    symbols[w] = _merge_word(symbols[w], pair)
        return merges

    def _fit_distributed(self, wf: DataFrame) -> list:
        """BATCHED merge rounds over the (bounded) word-type table:
        one pair-count aggregate (top ``batch_candidates`` collected)
        + one Arrow-batched rewrite applies SEVERAL merges per round,
        cutting the job count from O(num_merges) to
        O(num_merges / batch) while staying EXACTLY equal to the
        sequential algorithm (pinned by the driver/distributed parity
        test). A candidate batch is a prefix of the
        (count desc, pair asc)-sorted list, extended while provably
        safe and stopped at the first violation:

        * symbol-disjointness — a selected pair's counts are invariant
          under the other selected merges only if no symbol (or merged
          string) is shared, so an interacting candidate ends the
          batch (its true count under the applied merges is unknown);
        * the new-pair bound — merging (a, b) can CREATE pairs
          ``(x, ab)`` / ``(ab, y)`` with counts bounded by the
          pre-merge counts of ``(x, a)`` / ``(b, y)`` (and by the
          K-th collected count for pairs outside the collected list);
          a candidate whose count does not strictly exceed that bound
          could lose the sequential argmax to a created pair, so it
          ends the batch.

        Worst case (adversarially chained pairs) degenerates to one
        merge per round — still correct; typical corpora fold 5-50
        merges per aggregate. For production 32k-merge vocabularies
        prefer the driver path: the word-TYPE table is Heaps-law
        bounded, so ``driver_threshold`` is the real control."""
        words = wf.select(
            F.transform(
                F.split(F.col("word"), ""),
                lambda c, i: F.when(
                    i == F.length("word") - 1, F.concat(c, F.lit(_EOW))
                ).otherwise(c),
            ).alias("syms"),
            "freq",
        )
        merges: list = []
        K = self.batch_candidates

        def step(words: DataFrame, seen: dict) -> Optional[DataFrame]:
            if len(merges) >= self.num_merges:
                return None
            pairs = words.select(
                F.explode(
                    F.arrays_zip(
                        F.slice(
                            "syms", 1, F.greatest(F.size("syms") - 1, F.lit(0))
                        ).alias("a"),
                        F.slice(
                            "syms", 2, F.greatest(F.size("syms") - 1, F.lit(0))
                        ).alias("b"),
                    )
                ).alias("p"),
                "freq",
            ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "freq")
            top = (
                pairs.groupBy("a", "b")
                .agg(F.sum("freq").alias("n"))
                .orderBy(F.col("n").desc(), F.col("a").asc(), F.col("b").asc())
                .limit(K)
                .collect()
            )
            if not top or top[0]["n"] < self.min_pair_count:
                return None
            counts = {(r["a"], r["b"]): r["n"] for r in top}
            # pairs beyond the collected list have count <= the K-th
            # collected count; if the list is complete, none exist
            floor_bound = top[-1]["n"] if len(top) == K else 0
            selected: list = []
            touched: set = set()
            bound = floor_bound
            for r in top:
                pair, cnt = (r["a"], r["b"]), r["n"]
                if cnt < self.min_pair_count:
                    break
                if len(merges) + len(selected) >= self.num_merges:
                    break
                if selected and (
                    pair[0] in touched
                    or pair[1] in touched
                    or (pair[0] + pair[1]) in touched
                    or cnt <= bound
                ):
                    break
                selected.append(pair)
                touched.update((pair[0], pair[1], pair[0] + pair[1]))
                adj = max(
                    [
                        c
                        for (x, y), c in counts.items()
                        if y == pair[0] or x == pair[1]
                    ]
                    + [0]
                )
                bound = max(bound, adj)
            merges.extend(selected)

            def apply_merges(s, batch=tuple(selected)):
                t = tuple(s)
                for p in batch:
                    t = _merge_word(t, p)
                yield (list(t),)

            return map_rows(
                words,
                ["syms"],
                apply_merges,
                [("syms", ArrayType(StringType())), "freq"],
            )

        # each round's checkpoint truncates the plan, which would
        # otherwise chain one Python stage per round (driver OOM well
        # before 32k merges); every round merges at least one pair
        words, _, _ = fixpoint(
            words, step, self.num_merges, "BPETokenizer merge rounds"
        )
        release(words)
        return merges

    # -- inference -----------------------------------------------------------

    def _encode_word(self, word: str, ranks: dict) -> list:
        syms = list(self._symbols(word))
        while len(syms) > 1:
            best_rank, best_i = None, None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_i is None:
                break
            syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
        return syms

    def transform(
        self, df: DataFrame, output_column: str = "tokens"
    ) -> DataFrame:
        """Append ``output_column``: the BPE token array per row."""
        if self.merges is None:
            raise ValueError("BPETokenizer must be fit before transform")
        ranks = {pair: i for i, pair in enumerate(self.merges)}
        lowercase = self.lowercase
        encode_word = self._encode_word
        cache: dict = {}  # one per partition (see map_rows)

        def process(text):
            words = (
                (text or "").lower() if lowercase else (text or "")
            ).split()
            doc = []
            for w in words:
                hit = cache.get(w)
                if hit is None:
                    hit = encode_word(w, ranks)
                    cache[w] = hit
                doc.extend(hit)
            yield (doc,)

        return map_rows(
            df,
            [self.text_column],
            process,
            [*df.columns, (output_column, ArrayType(StringType()))],
        )

    def vocabulary(self, df: DataFrame) -> DataFrame:
        """(token, token_id) over the corpus' realized BPE tokens —
        dense ids, lexicographic, deterministic. Numbered with the
        two-phase range-partition utility, so even a pathological
        vocabulary never takes a one-task global sort."""
        from replay_spark.utils.spark_utils import ordered_row_numbers

        distinct = self.transform(df).select(
            F.explode("tokens").alias("token")
        ).distinct()
        numbered = ordered_row_numbers(
            distinct, [F.col("token").asc()], out_col="token_id"
        )
        return numbered.withColumn(
            "token_id", F.col("token_id") - 1
        ).select("token", "token_id")


class WordPieceTokenizer:
    """Vocabulary-driven WordPiece tokenization (the BERT family's
    scheme): per word, greedy LONGEST-match against the vocabulary,
    with non-initial pieces carrying the ``##`` continuation prefix
    and any un-coverable word collapsing to ``unk_token``.

    This is the inference half — training a WordPiece vocabulary is
    BPE with a likelihood merge score, so pair
    :class:`BPETokenizer` (or any published vocab file) with this
    class for the full loop. The vocabulary broadcasts to executors
    as a frozen set (a 30k-entry BERT vocab is ~1 MB); matching runs
    inside Arrow-batched ``mapInPandas``, so tokenization is
    embarrassingly parallel and payloads never reach the driver. No
    reference counterpart (LLM-pipeline extension).
    """

    def __init__(
        self,
        vocab,
        text_column: str = "text",
        output_column: str = "tokens",
        unk_token: str = "[UNK]",
        continuation_prefix: str = "##",
        max_input_chars_per_word: int = 100,
        lowercase: bool = True,
    ):
        vocab = list(vocab)
        if not vocab:
            raise ValueError("vocab must be non-empty")
        self.vocab = vocab
        self.text_column = text_column
        self.output_column = output_column
        self.unk_token = unk_token
        self.continuation_prefix = continuation_prefix
        self.max_input_chars_per_word = max_input_chars_per_word
        self.lowercase = lowercase

    @staticmethod
    def tokenize_word(
        word: str,
        vocab: frozenset,
        unk_token: str = "[UNK]",
        continuation_prefix: str = "##",
        max_chars: int = 100,
    ) -> list:
        """Greedy longest-match WordPiece for ONE word — the exact
        BERT reference algorithm."""
        if len(word) > max_chars:
            return [unk_token]
        pieces = []
        start = 0
        n = len(word)
        while start < n:
            end = n
            piece = None
            while end > start:
                sub = word[start:end]
                if start > 0:
                    sub = continuation_prefix + sub
                if sub in vocab:
                    piece = sub
                    break
                end -= 1
            if piece is None:
                return [unk_token]
            pieces.append(piece)
            start = end
        return pieces

    def transform(self, df: DataFrame) -> DataFrame:
        """Add ``output_column``: the WordPiece tokens of every
        whitespace-split word, concatenated in document order."""
        spark = df.sparkSession
        bc = spark.sparkContext.broadcast(frozenset(self.vocab))
        unk = self.unk_token
        cont = self.continuation_prefix
        max_chars = self.max_input_chars_per_word
        lower = self.lowercase
        tokenize_word = WordPieceTokenizer.tokenize_word

        def process(text):
            if text is None:
                yield ([],)
                return
            vocab = bc.value
            if lower:
                text = text.lower()
            doc = []
            for word in text.split():
                doc.extend(tokenize_word(word, vocab, unk, cont, max_chars))
            yield (doc,)

        return map_rows(
            df,
            [self.text_column],
            process,
            [*df.columns, (self.output_column, ArrayType(StringType()))],
        )


def bytes_to_unicode() -> dict:
    """The GPT-2 reversible byte → printable-unicode-char table
    (Radford et al. 2019, public ``encoder.py``): the 188 printable
    latin-1 bytes map to themselves, the rest to U+0100.. — every
    byte gets a VISIBLE single-char symbol, so BPE merges operate on
    strings while staying exactly byte-level."""
    bs = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(ord("\xa1"), ord("\xac") + 1))
        + list(range(ord("\xae"), ord("\xff") + 1))
    )
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return dict(zip(bs, [chr(c) for c in cs]))


_BYTE_TO_CHAR = bytes_to_unicode()
_CHAR_TO_BYTE = {c: b for b, c in _BYTE_TO_CHAR.items()}

# GPT-2 pretokenization, Python-re approximation of the published
# \p{L}/\p{N} pattern: [^\W\d_] ≈ \p{L} and \d ≈ \p{N} (Nd only —
# the rare Nl/No codepoints fall into the punctuation run; an honest,
# documented deviation). Leading spaces attach to the following
# pretoken, contractions split as their own pretokens, trailing
# whitespace runs stay whole — the properties downstream merges need.
import re as _re

_GPT2_PRETOKEN = _re.compile(
    r"'s|'t|'re|'ve|'m|'ll|'d| ?[^\W\d_]+| ?\d+| ?[^\s\w]+|\s+(?!\S)|\s+"
)


def _byte_map_word(pretoken: str) -> str:
    return "".join(_BYTE_TO_CHAR[b] for b in pretoken.encode("utf-8"))


class ByteLevelBPETokenizer(BPETokenizer):
    """GPT-2-style byte-level BPE: pretokenize with the published
    regex (spaces attach to the next pretoken), map each pretoken's
    UTF-8 bytes through the reversible byte↔unicode table, and learn
    merges over the mapped alphabet — NO unknown tokens ever
    (any byte sequence tokenizes), and ``decode_tokens`` is the exact
    inverse (round-trip property-tested). Word-type table stays
    Heaps-law bounded like the base class; training runs the driver
    loop (the distributed batcher's symbolizer is char+EOW — above
    ``driver_threshold`` word types this class raises rather than
    silently training the wrong alphabet).

    No reference counterpart (LLM-pipeline extension); byte table and
    pretoken regex follow the public GPT-2 encoder."""

    def __init__(
        self,
        num_merges: int = 200,
        text_column: str = "text",
        min_pair_count: int = 2,
        driver_threshold: int = 1_000_000,
    ):
        super().__init__(
            num_merges=num_merges,
            text_column=text_column,
            lowercase=False,
            min_pair_count=min_pair_count,
            driver_threshold=driver_threshold,
        )

    def _symbols(self, word: str) -> tuple:
        # `word` is already byte-mapped (see _word_freqs/transform):
        # each char IS one byte symbol
        return tuple(word)

    @staticmethod
    def _pretokens(text: str) -> list:
        return _GPT2_PRETOKEN.findall(text or "")

    def _word_freqs(self, df: DataFrame) -> DataFrame:
        import pandas as pd

        text_column = self.text_column
        pretokens = self._pretokens

        def explode_words(batches: Iterator) -> Iterator:
            for pdf in batches:
                counts: dict = {}
                for text in pdf[text_column]:
                    for w in pretokens(text):
                        m = _byte_map_word(w)
                        counts[m] = counts.get(m, 0) + 1
                yield pd.DataFrame(
                    {
                        "word": list(counts),
                        "freq": list(counts.values()),
                    }
                )

        return (
            df.select(text_column)
            .mapInPandas(explode_words, schema="word string, freq long")
            .groupBy("word")
            .agg(F.sum("freq").alias("freq"))
        )

    def fit(self, df: DataFrame) -> "ByteLevelBPETokenizer":
        wf = self._word_freqs(df).persist()
        try:
            n_types = wf.count()
            if n_types > self.driver_threshold:
                raise ValueError(
                    f"{n_types} byte-level word types exceed "
                    f"driver_threshold={self.driver_threshold}; "
                    "raise it (the table is Heaps-law bounded) or "
                    "use the word-level BPETokenizer's distributed "
                    "trainer"
                )
            rows = wf.collect()
            self.merges = self._fit_driver(
                {r["word"]: r["freq"] for r in rows}
            )
        finally:
            wf.unpersist()
        return self

    def transform(
        self, df: DataFrame, output_column: str = "tokens"
    ) -> DataFrame:
        if self.merges is None:
            raise ValueError(
                "ByteLevelBPETokenizer must be fit before transform"
            )
        ranks = {pair: i for i, pair in enumerate(self.merges)}
        encode_word = self._encode_word
        pretokens = self._pretokens
        cache: dict = {}  # one per partition (see map_rows)

        def process(text):
            doc = []
            for w in pretokens(text):
                m = _byte_map_word(w)
                hit = cache.get(m)
                if hit is None:
                    hit = encode_word(m, ranks)
                    cache[m] = hit
                doc.extend(hit)
            yield (doc,)

        return map_rows(
            df,
            [self.text_column],
            process,
            [*df.columns, (output_column, ArrayType(StringType()))],
        )

    @staticmethod
    def decode_tokens(tokens) -> str:
        """Exact inverse of ``transform`` over one document's token
        list: mapped chars → bytes → UTF-8 text."""
        data = bytes(
            _CHAR_TO_BYTE[c] for tok in tokens for c in tok
        )
        return data.decode("utf-8", errors="replace")
