"""Unigram language-model tokenizer (the SentencePiece scheme) —
DataFrame-native.

Completes the subword trio alongside :class:`BPETokenizer` (merge
learning) and :class:`WordPieceTokenizer` (greedy longest-match
inference): Kudo 2018's unigram LM, where the vocabulary is a set of
pieces with log-probabilities, segmentation is the Viterbi-optimal
piece sequence, and training is EM over the corpus with iterative
vocabulary pruning.

Scale shape (the BPE argument, re-applied):

* ``fit`` aggregates the corpus ONCE into a word-type frequency
  table — bounded by vocabulary growth (Heaps' law), not corpus
  size. Everything after that first aggregation runs on the small
  word-type table.
* Each EM iteration needs expected piece counts under the current
  model. Below ``driver_threshold`` word types the forward-backward
  pass runs in-driver (fast, exact — the same shape the SentencePiece
  trainer uses). Above it, the E-step is ONE Spark job: pieces
  broadcast as a dict, per-word forward-backward inside Arrow-batched
  ``mapInPandas`` emitting (piece, expected_count) pairs, then a
  map-side-combined ``groupBy().sum()``. O(num_iterations) jobs over
  a vocabulary-sized frame — never a corpus rescan. Both paths
  produce identical vocabularies (parity-tested); all ties break
  lexicographically so training is deterministic.
* ``transform`` segments documents with the learned pieces inside
  ``mapInPandas`` — per-word Viterbi with a per-batch word cache
  (each distinct word segments once per batch), pieces broadcast via
  closure. Embarrassingly parallel; nothing reaches the driver.

Deviations from the SentencePiece reference implementation, stated
honestly: pre-tokenization is whitespace word-level (consistent with
the BPE/WordPiece tiers here) rather than whole-sentence with the
U+2581 space marker, and pruning keeps the top pieces by expected
count (single characters always kept) rather than ranking by exact
likelihood-loss-if-removed; both are the standard reimplementation
simplifications and neither changes the model family or the
segmentation algebra.

No reference counterpart (LLM-pipeline extension; the reference's
``TensorSequenceTokenizer`` maps ids, it does not learn subwords).
Training is iterative and gated rows-only; INFERENCE is exact and
hash-gated (`q_unigram_tokens`) via :meth:`from_vocab` with integer
scores, where the Viterbi optimum is replayable by construction.
"""

from __future__ import annotations

import math
from typing import Dict, Iterator, List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from replay_spark.preprocessing.text import tokenize_expr
from replay_spark.utils.spark_utils import map_rows

__all__ = ["UnigramTokenizer"]


def viterbi_segment(
    word: str,
    pieces: Dict[str, float],
    max_piece_length: int,
    unk_token: str,
    unk_score: float,
) -> List[str]:
    """Viterbi-optimal segmentation of ONE word.

    ``best[i]`` is the max total score over segmentations of
    ``word[:i]``; unknown single characters are admitted as
    ``unk_token`` at ``unk_score`` so segmentation is total. Ties
    break toward FEWER pieces, then toward the lexicographically
    smaller piece ending at the boundary — fully deterministic.
    """
    n = len(word)
    NEG = float("-inf")
    best = [NEG] * (n + 1)
    best_len = [0] * (n + 1)
    back: List[Optional[Tuple[int, Optional[str]]]] = [None] * (n + 1)
    best[0] = 0.0
    for end in range(1, n + 1):
        lo = max(0, end - max_piece_length)
        for start in range(lo, end):
            if best[start] == NEG:
                continue
            piece = word[start:end]
            score = pieces.get(piece)
            if score is None:
                if end - start > 1:
                    continue
                score = unk_score
                piece = None  # rendered as unk_token
            cand = best[start] + score
            cand_len = best_len[start] + 1
            if cand > best[end]:
                better = True
            elif cand == best[end]:
                prev = back[end]
                prev_piece = (
                    prev[1] if prev and prev[1] is not None else unk_token
                )
                this_piece = piece if piece is not None else unk_token
                better = cand_len < best_len[end] or (
                    cand_len == best_len[end] and this_piece < prev_piece
                )
            else:
                better = False
            if better:
                best[end] = cand
                best_len[end] = cand_len
                back[end] = (start, piece)
    out: List[str] = []
    i = n
    while i > 0:
        start, piece = back[i]
        out.append(piece if piece is not None else unk_token)
        i = start
    out.reverse()
    return out


def _forward_backward(
    word: str,
    pieces: Dict[str, float],
    max_piece_length: int,
    unk_score: float,
) -> Tuple[Dict[str, float], float]:
    """Expected piece counts for ONE word under the unigram model
    (sum over all segmentations), plus the word's log-likelihood.
    Log-domain forward-backward over the segmentation lattice."""
    n = len(word)
    NEG = float("-inf")
    fwd = [NEG] * (n + 1)
    bwd = [NEG] * (n + 1)
    fwd[0] = 0.0
    bwd[n] = 0.0
    arcs: List[Tuple[int, int, str, float]] = []
    for end in range(1, n + 1):
        lo = max(0, end - max_piece_length)
        for start in range(lo, end):
            piece = word[start:end]
            score = pieces.get(piece)
            if score is None:
                if end - start > 1:
                    continue
                score = unk_score
            arcs.append((start, end, piece, score))
    for start, end, _piece, score in arcs:
        if fwd[start] != NEG:
            x = fwd[start] + score
            fwd[end] = x if fwd[end] == NEG else _logadd(fwd[end], x)
    for start, end, _piece, score in reversed(arcs):
        if bwd[end] != NEG:
            x = bwd[end] + score
            bwd[start] = x if bwd[start] == NEG else _logadd(bwd[start], x)
    z = fwd[n]
    counts: Dict[str, float] = {}
    if z == NEG:
        return counts, NEG
    for start, end, piece, score in arcs:
        if fwd[start] == NEG or bwd[end] == NEG:
            continue
        post = math.exp(fwd[start] + score + bwd[end] - z)
        if piece in pieces:
            counts[piece] = counts.get(piece, 0.0) + post
    return counts, z


def _logadd(a: float, b: float) -> float:
    if a < b:
        a, b = b, a
    return a + math.log1p(math.exp(b - a))


class UnigramTokenizer:
    """Learn a unigram-LM piece vocabulary of ``vocab_size`` from a
    corpus (EM + pruning), then Viterbi-segment with it.

    ``fit`` → ``self.pieces`` (piece → log-probability).
    ``transform`` adds an ``output_column`` token-array column.
    ``from_vocab`` builds an inference-only instance from published
    (piece, score) pairs — scores need not be normalized.
    """

    def __init__(
        self,
        vocab_size: int = 1000,
        text_column: str = "text",
        output_column: str = "tokens",
        max_piece_length: int = 8,
        seed_size: int = 20_000,
        num_iterations: int = 4,
        shrink_factor: float = 0.75,
        lowercase: bool = True,
        unk_token: str = "[UNK]",
        unk_score: float = -20.0,
        driver_threshold: int = 1_000_000,
    ):
        if vocab_size < 1:
            raise ValueError("vocab_size must be >= 1")
        if not 0.0 < shrink_factor < 1.0:
            raise ValueError("shrink_factor must be in (0, 1)")
        self.vocab_size = vocab_size
        self.text_column = text_column
        self.output_column = output_column
        self.max_piece_length = max_piece_length
        self.seed_size = seed_size
        self.num_iterations = num_iterations
        self.shrink_factor = shrink_factor
        self.lowercase = lowercase
        self.unk_token = unk_token
        self.unk_score = unk_score
        self.driver_threshold = driver_threshold
        self.pieces: Optional[Dict[str, float]] = None

    @classmethod
    def from_vocab(cls, scored_pieces, **kwargs) -> "UnigramTokenizer":
        """Inference-only construction from (piece, score) pairs (or
        a piece → score mapping); scores are used as-is."""
        obj = cls(**kwargs)
        if isinstance(scored_pieces, dict):
            obj.pieces = {str(k): float(v) for k, v in scored_pieces.items()}
        else:
            obj.pieces = {str(p): float(s) for p, s in scored_pieces}
        if not obj.pieces:
            raise ValueError("scored_pieces must be non-empty")
        return obj

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

    def _seed_pieces(self, word_freqs: List[Tuple[str, int]]) -> Dict[str, float]:
        """Seed vocabulary: all substrings up to ``max_piece_length``
        scored by summed occurrence frequency; keep the top
        ``seed_size`` (single characters always kept). Probabilities
        initialize proportional to those counts."""
        sub_counts: Dict[str, float] = {}
        for word, freq in word_freqs:
            n = len(word)
            for i in range(n):
                for j in range(i + 1, min(n, i + self.max_piece_length) + 1):
                    piece = word[i:j]
                    sub_counts[piece] = sub_counts.get(piece, 0.0) + freq
        chars = {p for p in sub_counts if len(p) == 1}
        multi = sorted(
            (p for p in sub_counts if len(p) > 1),
            key=lambda p: (-sub_counts[p], p),
        )
        keep = max(self.seed_size - len(chars), 0)
        kept = chars | set(multi[:keep])
        total = sum(sub_counts[p] for p in kept)
        logt = math.log(total)
        return {p: math.log(sub_counts[p]) - logt for p in sorted(kept)}

    def _estep_driver(
        self,
        word_freqs: List[Tuple[str, int]],
        pieces: Dict[str, float],
    ) -> Tuple[Dict[str, float], float]:
        counts: Dict[str, float] = {}
        ll = 0.0
        for word, freq in word_freqs:
            wc, wll = _forward_backward(
                word, pieces, self.max_piece_length, self.unk_score
            )
            if wll == float("-inf"):
                continue
            ll += freq * wll
            for p, c in wc.items():
                counts[p] = counts.get(p, 0.0) + freq * c
        return counts, ll

    def _estep_distributed(
        self, wf: DataFrame, pieces: Dict[str, float]
    ) -> Tuple[Dict[str, float], float]:
        """One Spark job: broadcast pieces, per-word forward-backward
        in Arrow batches, map-side-combined global sum."""
        spark = wf.sparkSession
        bc = spark.sparkContext.broadcast(pieces)
        max_len = self.max_piece_length
        unk_score = self.unk_score

        def estep(batches: Iterator) -> Iterator:
            import pandas as pd

            model = bc.value
            for pdf in batches:
                agg: Dict[str, float] = {}
                ll = 0.0
                for word, freq in zip(pdf["word"], pdf["freq"]):
                    wc, wll = _forward_backward(
                        word, model, max_len, unk_score
                    )
                    if wll == float("-inf"):
                        continue
                    ll += freq * wll
                    for p, c in wc.items():
                        agg[p] = agg.get(p, 0.0) + freq * c
                out = pd.DataFrame(
                    {
                        "piece": list(agg.keys()) + ["\x00ll"],
                        "val": list(agg.values()) + [ll],
                    }
                )
                yield out

        rows = (
            wf.mapInPandas(estep, schema="piece string, val double")
            .groupBy("piece")
            .agg(F.sum("val").alias("val"))
            .collect()
        )
        counts: Dict[str, float] = {}
        ll = 0.0
        for r in rows:
            if r["piece"] == "\x00ll":
                ll = r["val"]
            else:
                counts[r["piece"]] = r["val"]
        bc.unpersist()
        return counts, ll

    def _mstep_and_prune(
        self,
        pieces: Dict[str, float],
        counts: Dict[str, float],
        target: int,
    ) -> Dict[str, float]:
        """Re-estimate log-probs from expected counts, then prune to
        ``target`` pieces by expected count (single characters always
        survive; ties lexicographic)."""
        chars = {p for p in pieces if len(p) == 1}
        scored = {p: counts.get(p, 0.0) for p in pieces}
        multi = sorted(
            (p for p in pieces if len(p) > 1),
            key=lambda p: (-scored[p], p),
        )
        keep = chars | set(multi[: max(target - len(chars), 0)])
        total = sum(max(scored[p], 1e-12) for p in keep)
        logt = math.log(total)
        return {
            p: math.log(max(scored[p], 1e-12)) - logt for p in sorted(keep)
        }

    def fit(self, df: DataFrame) -> "UnigramTokenizer":
        wf = self._word_freqs(df).persist()
        try:
            n_types = wf.count()
            driver_mode = n_types <= self.driver_threshold
            if driver_mode:
                word_freqs = [
                    (r["word"], r["freq"]) for r in wf.collect()
                ]
                pieces = self._seed_pieces(word_freqs)
            else:
                word_freqs = []
                pieces = self._seed_pieces(self._top_words(wf))
            size = len(pieces)
            while True:
                for _ in range(self.num_iterations):
                    if driver_mode:
                        counts, _ll = self._estep_driver(word_freqs, pieces)
                    else:
                        counts, _ll = self._estep_distributed(wf, pieces)
                    pieces = self._mstep_and_prune(pieces, counts, size)
                if size <= self.vocab_size:
                    break
                size = max(
                    self.vocab_size, int(size * self.shrink_factor)
                )
                pieces = self._mstep_and_prune(pieces, counts, size)
            self.pieces = pieces
            return self
        finally:
            wf.unpersist()

    def _top_words(self, wf: DataFrame) -> List[Tuple[str, int]]:
        """Seed-vocabulary sample when the word-type table itself is
        huge: the most frequent word types carry nearly all substring
        mass (Zipf), so seed from the top slice (never fewer than
        ``seed_size`` word types); EM then runs over the FULL
        distributed table."""
        rows = (
            wf.orderBy(F.desc("freq"), "word")
            .limit(max(self.driver_threshold, self.seed_size, 1))
            .collect()
        )
        return [(r["word"], r["freq"]) for r in rows]

    # -- inference -----------------------------------------------------------

    def transform(self, df: DataFrame) -> DataFrame:
        """Add ``output_column``: Viterbi pieces of every
        whitespace-split word, concatenated in document order."""
        if self.pieces is None:
            raise RuntimeError("fit() or from_vocab() first")
        spark = df.sparkSession
        bc = spark.sparkContext.broadcast(self.pieces)
        max_len = self.max_piece_length
        unk = self.unk_token
        unk_score = self.unk_score
        lower = self.lowercase

        def process(cache: Dict[str, List[str]], text):
            if text is None:
                yield ([],)
                return
            model = bc.value
            if lower:
                text = text.lower()
            doc: List[str] = []
            for word in text.split():
                got = cache.get(word)
                if got is None:
                    got = viterbi_segment(word, model, max_len, unk, unk_score)
                    cache[word] = got
                doc.extend(got)
            yield (doc,)

        return map_rows(
            df,
            [self.text_column],
            process,
            [*df.columns, (self.output_column, ArrayType(StringType()))],
            per_batch=dict,
        )
