"""Job counts, cache ownership and partition invariance of the corpus
tier: the n-gram dedup pairs and the driver-built HNSW index."""

import numpy as np
import pytest

from replay_spark.ann import HNSWANN
from replay_spark.preprocessing.dedup import (
    EmbeddingDeduplicator,
    MinHashLSHDeduplicator,
    NGramJaccardDeduplicator,
    SimHashDeduplicator,
)

# measured on the test session: 7 jobs for the pairs and 1 for the
# fit (13 and 5 with the self-join caches and the count before collect)
PAIRS_JOB_BOUND = 7
HNSW_FIT_JOB_BOUND = 1

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


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_ngram_pairs_job_count(spark, docs):
    """Tripwire: both sides of the pair self-join and the per-document
    sizes reuse one shingle exchange; a cache in between adds its own
    materialization jobs and splits that reuse."""
    n_pairs, jobs = _jobs(
        spark,
        "test_ngram_pairs_job_count",
        lambda: NGramJaccardDeduplicator(n=3, threshold=0.2).pairs(docs).count(),
    )
    assert n_pairs >= 30
    assert jobs <= PAIRS_JOB_BOUND, jobs


def test_hnsw_fit_job_count(spark, vectors):
    """Tripwire: the fit reads its corpus with one bounded collect, not
    a count followed by a sorted collect."""
    ann, jobs = _jobs(
        spark,
        "test_hnsw_fit_job_count",
        lambda: HNSWANN(M=6, ef_construction=24, seed=3).fit(vectors),
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
