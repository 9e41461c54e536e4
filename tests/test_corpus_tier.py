"""Job counts, cache ownership, partition invariance and exactness of
the corpus tier: the quality filter and its repetition signals, the
n-gram dedup pairs and the driver-built HNSW index."""

import re
from collections import Counter

import numpy as np
import pytest

from replay_spark.ann import HNSWANN
from replay_spark.preprocessing.dedup import (
    EmbeddingDeduplicator,
    MinHashLSHDeduplicator,
    NGramJaccardDeduplicator,
    SimHashDeduplicator,
)
from replay_spark.preprocessing.text import QualityFilterPipeline, RepetitionStats

# measured on the test session: 7 jobs for the pairs and 1 for the
# fit (13 and 5 with the self-join caches and the count before collect)
PAIRS_JOB_BOUND = 7
HNSW_FIT_JOB_BOUND = 1
# the verdict is per-row expressions: one job (7 with the repetition
# signals' explode, two doc-keyed shuffles and the joins)
QUALITY_FILTER_JOB_BOUND = 1

WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu "
    "nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
).split()


@pytest.fixture(scope="module")
def docs(spark):
    rng = np.random.default_rng(11)
    rows = []
    for i in range(30):
        words = [WORDS[j] for j in rng.integers(0, len(WORDS), size=20)]
        rows.append((2 * i, " ".join(words)))
        # a near duplicate: one word swapped
        words[int(rng.integers(0, 20))] = "near"
        rows.append((2 * i + 1, " ".join(words)))
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(5)
    base = rng.normal(size=(40, 8))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    # near-duplicate vectors for the embedding dedup
    rows += [(100 + i, [float(x) + 1e-4 for x in base[i]]) for i in range(10)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ngram_pairs_job_count(spark_work, docs):
    """Tripwire: both sides of the pair self-join and the per-document
    sizes reuse one shingle exchange; a cache in between adds its own
    materialization jobs and splits that reuse."""
    n_pairs, jobs, _ = spark_work(
        lambda: NGramJaccardDeduplicator(n=3, threshold=0.2).pairs(docs).count()
    )
    assert n_pairs >= 30
    assert jobs <= PAIRS_JOB_BOUND, jobs


def test_quality_filter_job_count(spark_work, docs):
    """Tripwire: the repetition signals are per-row expressions in the
    scorer's projection, with no shuffle and no join back."""
    rows, jobs, _ = spark_work(
        lambda: QualityFilterPipeline()
        .transform(docs)
        .select("doc_id", "keep")
        .collect()
    )
    assert len(rows) == 60
    assert jobs <= QUALITY_FILTER_JOB_BOUND, jobs


def test_quality_filter_sorts_bigrams_once(spark, docs):
    """A filter on the verdict is pushed below the scoring projection
    with every alias it reads inlined; the signals read no alias, so
    the pushed-down condition still sorts each row's bigrams once."""
    plan = QualityFilterPipeline().filter(docs)._jdf.queryExecution().optimizedPlan()
    assert plan.toString().count("array_sort(") == 1


REPETITION_TEXTS = [
    None,
    "",
    "   ",
    " \t ",
    "word",
    # "zzz yy" and "a b" both occur twice: the smaller bigram wins,
    # though it comes later and is shorter
    "zzz yy zzz yy a b a b",
    # repeated lines of different lengths, empty lines from \n\n
    "abc\nabc\nx\nx\nx\n\nlong line here\n\nlong line here",
    "one line\n",
    "\nleading newline",
    "héllo wörld\nhéllo wörld\nñ ñ ñ",
    "Same same SAME\nsame",
]


def _repetition_reference(text):
    """Python replica of RepetitionStats on one row: Spark's trim
    strips spaces only, ``\\s`` is ASCII whitespace, ``length`` counts
    code points, and the top bigram is count desc, bigram asc."""
    if text is None:
        return 0.0, 0.0, 0.0, 0.0
    trimmed = text.lower().strip(" ")
    tokens = re.split(r"\s+", trimmed, flags=re.ASCII) if trimmed else []
    word = 1 - len(set(tokens)) / len(tokens) if tokens else 0.0
    lines = Counter(text.split("\n"))
    line = 1 - len(lines) / sum(lines.values())
    chars = sum(c * len(x) for x, c in lines.items())
    dup = sum(c * len(x) for x, c in lines.items() if c > 1)
    line_chars = dup / chars if chars > 0 else 0.0
    bigrams = Counter(" ".join(tokens[j : j + 2]) for j in range(len(tokens) - 1))
    top = 0.0
    if bigrams and text:
        count, key = min((-c, b) for b, c in bigrams.items())
        top = -count * len(key) / len(text)
    return word, line, line_chars, top


@pytest.mark.parametrize("conf", ["shipped", "aqe_off_37"])
def test_repetition_stats_match_reference(spark, conf):
    """Every signal equals the reference exactly, row by row: a null or
    repeated doc_id is scored per row, not merged or dropped."""
    overrides = (
        {}
        if conf == "shipped"
        else {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": "37",
        }
    )
    saved = {key: spark.conf.get(key) for key in overrides}
    for key, value in overrides.items():
        spark.conf.set(key, value)
    try:
        rows = list(enumerate(REPETITION_TEXTS))
        rows += [(None, "x x\nx x"), (5, "b b b b")]
        df = spark.createDataFrame(rows, "doc_id long, text string").repartition(3)
        got = sorted(
            (tuple(r) for r in RepetitionStats().transform(df).collect()), key=repr
        )
        expected = sorted(
            ((i, *_repetition_reference(t)) for i, t in rows), key=repr
        )
        assert got == expected
    finally:
        for key, value in saved.items():
            spark.conf.set(key, value)


def test_hnsw_fit_job_count(spark_work, vectors):
    """Tripwire: the fit reads its corpus with one bounded collect, not
    a count followed by a sorted collect."""
    ann, jobs, _ = spark_work(
        lambda: HNSWANN(M=6, ef_construction=24, seed=3).fit(vectors)
    )
    assert len(ann._ids) == 50
    assert jobs <= HNSW_FIT_JOB_BOUND, jobs


def test_dedup_candidates_leave_no_cache(spark, docs, vectors):
    """The four self-join candidate generators pin no engine storage:
    nothing would ever release it."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    assert NGramJaccardDeduplicator(n=3, threshold=0.5).pairs(docs).count() >= 30
    assert MinHashLSHDeduplicator(threshold=0.5).candidate_pairs(docs).count() > 0
    assert SimHashDeduplicator(max_hamming=16).candidate_pairs(docs).count() > 0
    assert (
        EmbeddingDeduplicator(dim=8, threshold=0.99, num_planes=2)
        .pairs(vectors)
        .count()
        == 10
    )
    leaked = set(jsc.getPersistentRDDs().keySet().toArray()) - before
    assert not leaked, leaked


def test_hnsw_fit_is_partition_invariant(spark, vectors):
    """Insertion follows id order, so the graph is the same whatever
    the corpus partitioning."""
    params = dict(M=6, ef_construction=24, seed=3)
    one = HNSWANN(**params).fit(vectors.coalesce(1))
    seven = HNSWANN(**params).fit(vectors.repartition(7))
    assert np.array_equal(one._ids, seven._ids)
    assert list(one._ids) == sorted(one._ids)
    assert one._links == seven._links
    assert (one._entry, one._max_level) == (seven._entry, seven._max_level)


def test_hnsw_fit_collect_is_bounded(spark, vectors, monkeypatch):
    """Over the bound, fit raises after pulling max_elements + 1 rows,
    not the whole corpus."""
    collected = []
    real_collect = type(vectors).collect

    def spy(self):
        rows = real_collect(self)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(type(vectors), "collect", spy)
    with pytest.raises(ValueError, match="max_elements"):
        HNSWANN(max_elements=10).fit(vectors)
    assert collected == [11]
    collected.clear()
    assert len(HNSWANN(max_elements=50).fit(vectors)._ids) == 50
    assert collected == [50]
