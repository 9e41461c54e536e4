"""IVF-PQ fit cost, sample equivalence and code ownership: the
training sample is one bounded collect when the corpus fits it, the
codes are a lazy local checkpoint, and a re-fit or an append releases
the codes it replaces."""

import numpy as np
import pytest

from replay_spark.ann import IVFPQANN, PQANN
from replay_spark.ann import search as ann_search

# measured on the test session: fit plus a count of the codes runs 3
# jobs (6 with a corpus count before the sample's collect and the
# codes persisted, which adds a job that fills the cache)
IVFPQ_FIT_JOB_BOUND = 3

PARAMS = dict(dim=8, num_cells=4, nprobe=2, m=2, ksub=8, iters=5, seed=3)


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """300 random 8-d vectors, read back from one parquet file, so the
    plan's size estimate is the file's and the scan is one partition."""
    rng = np.random.default_rng(29)
    base = rng.normal(size=(300, 8))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    path = str(tmp_path_factory.mktemp("ivfpq") / "corpus")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


def _storage(spark):
    return {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _codes_rdd(ann):
    return ann._codes._jdf.queryExecution().analyzed().rdd().id()


def _fit(df, cls, **kw):
    """(centroids, codebooks, sorted codes) of a fresh fit on ``df``."""
    params = dict(PARAMS, **kw)
    if cls is PQANN:
        del params["num_cells"], params["nprobe"]
    ann = cls(**params).fit(df)
    codes = sorted((r[0], r[1], tuple(r[2])) for r in ann._codes.collect())
    return ann.centroids, ann.codebooks, codes


def test_ivfpq_fit_job_count(spark_work, corpus):
    """Tripwire: one bounded collect draws the sample and the first
    read of the codes fills their checkpoint. Jobs, not actions: the
    lazy checkpoint registers an execution that runs no job."""
    ann = IVFPQANN(**PARAMS)
    n, jobs, _ = spark_work(lambda: ann.fit(corpus)._codes.count())
    assert n == 300
    assert jobs <= IVFPQ_FIT_JOB_BOUND, jobs


def test_pq_fit_with_codebooks_runs_no_job(spark_work, corpus):
    """Tripwire: with given codebooks nothing is trained, and the plan's
    size estimate stands in for the count that sizes the encode (2 jobs)."""
    books = np.random.default_rng(3).normal(size=(2, 8, 4))
    ann = PQANN(dim=8, m=2, ksub=8)
    _, jobs, _ = spark_work(lambda: ann.fit(corpus, codebooks=books))
    assert jobs == 0, jobs
    assert ann._codes.count() == 300


@pytest.mark.parametrize("cls", [IVFPQANN, PQANN])
@pytest.mark.parametrize("parts", [1, 7])
@pytest.mark.parametrize("train_sample", [1000, 100])
def test_train_sample_matches_count_and_sample(
    corpus, monkeypatch, cls, parts, train_sample
):
    """Centroids, codebooks and codes equal those of the count plus
    seeded ``sample`` draw, whether the probe is taken or not, and when
    the size estimate admits a probe that overflows."""
    df = corpus if parts == 1 else corpus.repartition(parts)
    counts = []
    real_count = type(df).count

    def spy(self):
        counts.append(1)
        return real_count(self)

    monkeypatch.setattr(type(df), "count", spy)
    real_estimate = ann_search.plan_bytes
    monkeypatch.setattr(ann_search, "plan_bytes", lambda df: 2**62)
    want = _fit(df, cls, train_sample=train_sample)
    assert counts == [1]
    # the file's own estimate (a few hundred vectors) admits the probe
    # for a sample of 1000 and not for 100; an estimate of 0 always
    # admits it, and at 100 the probe overflows
    for estimate in (real_estimate, lambda df: 0):
        monkeypatch.setattr(ann_search, "plan_bytes", estimate)
        counts.clear()
        got = _fit(df, cls, train_sample=train_sample)
        assert counts == ([] if train_sample > 300 else [1])
        assert np.array_equal(got[0], want[0])
        assert np.array_equal(got[1], want[1])
        assert got[2] == want[2]


def test_codes_have_one_owner(spark, corpus):
    """A re-fit and an append each release the codes they replace, so
    one codes RDD stays stored; ``unpersist()`` would free nothing."""
    before = _storage(spark)
    ann = IVFPQANN(**PARAMS).fit(corpus)
    ann._codes.count()
    assert _storage(spark) - before == {_codes_rdd(ann)}
    # the replaced frames stay referenced, so the ContextCleaner cannot
    # be what frees their blocks
    replaced = [ann._codes]
    ann.fit(corpus)
    ann._codes.count()
    assert _storage(spark) - before == {_codes_rdd(ann)}
    replaced.append(ann._codes)
    ann.append(corpus.limit(10).selectExpr("vec_id + 1000 AS vec_id", "embedding"))
    assert ann._codes.count() == 310
    assert _storage(spark) - before == {_codes_rdd(ann)}
