"""Job counts, cache ownership, partition invariance and exactness of
the corpus tier: the quality filter and its repetition signals, the
n-gram dedup pairs and the driver-built HNSW index."""

import re
from collections import Counter
from contextlib import contextmanager

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

# measured on the test session: 6 jobs for the pairs (7 when AQE
# broadcasts the shingle table into the self-join, 13 with the
# self-join caches), 1 for the fit (5 with a count before the
# collect), 2 for the clusters over cached pairs (3 with a cache sized
# by its own count) and 1 for an unfiltered search and its collect (2
# with a per-query window)
PAIRS_JOB_BOUND = 6
HNSW_FIT_JOB_BOUND = 1
CLUSTERS_JOB_BOUND = 2
HNSW_SEARCH_JOB_BOUND = 1
# a filtered search and its collect: 3 on the exact path (6 with a
# count of the admissible ids before their collect), 7 on the broad
# path (14 with a probe job for the queries still pending)
HNSW_EXACT_FILTER_JOB_BOUND = 3
HNSW_BROAD_FILTER_JOB_BOUND = 7
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


CONFS = {
    "shipped": {},
    "aqe_off_37": {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "37",
    },
}


@contextmanager
def session_conf(spark, conf):
    """Run the block under one of ``CONFS``, then restore the session."""
    overrides = CONFS[conf]
    saved = {key: spark.conf.get(key) for key in overrides}
    for key, value in overrides.items():
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key, value in saved.items():
            spark.conf.set(key, value)


@pytest.mark.parametrize("conf", sorted(CONFS))
def test_repetition_stats_match_reference(spark, conf):
    """Every signal equals the reference exactly, row by row: a null or
    repeated doc_id is scored per row, not merged or dropped."""
    with session_conf(spark, conf):
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


def test_near_dup_clusters_job_count(spark_work, docs):
    """Tripwire: the pair projection is materialized and sized in one
    observed checkpoint; the union-find then collects it. A cache
    sized by a count of its own pushes it over the bound."""
    from replay_spark.preprocessing.dedup import NearDupClusters

    pairs = NGramJaccardDeduplicator(n=3, threshold=0.2).pairs(docs).cache()
    try:
        assert pairs.count() >= 30
        rows, jobs, _ = spark_work(
            lambda: NearDupClusters().components(pairs).collect()
        )
        assert jobs <= CLUSTERS_JOB_BOUND, jobs
        component = {r["node"]: r["component"] for r in rows}
        # every planted near duplicate joins its original's component
        for i in range(30):
            assert component[2 * i + 1] == component[2 * i]
    finally:
        pairs.unpersist()


def test_near_dup_clusters_keep_the_session_serializable(spark, docs):
    """Sizing the pairs registers nothing on the session: Spark ML
    closures that capture it (a LogisticRegression summary) must still
    serialize after a components call."""
    from replay_spark.preprocessing.dedup import NearDupClusters

    pairs = NGramJaccardDeduplicator(n=3, threshold=0.2).pairs(docs)
    assert len(NearDupClusters().components(pairs).collect()) >= 60
    jvm = spark.sparkContext._jvm
    assert len(jvm.org.apache.spark.util.Utils.serialize(spark._jsparkSession)) > 0


def test_near_dup_clusters_release_their_pairs(spark, docs):
    """The pair checkpoint is released before ``components`` returns:
    the driver branch's output is a local frame, so no storage stays."""
    from replay_spark.preprocessing.dedup import NearDupClusters

    def stored():
        return {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    pairs = NGramJaccardDeduplicator(n=3, threshold=0.2).pairs(docs)
    before = stored()
    assert len(NearDupClusters().components(pairs).collect()) >= 60
    assert stored() - before == set()


def test_hnsw_search_job_count(spark_work, vectors):
    """Tripwire: an unfiltered search ranks each query's hits inside
    the walk's own row; a per-query window adds an exchange and a job."""
    ann = HNSWANN(M=6, ef_construction=24, seed=3).fit(vectors)
    queries = vectors.filter("vec_id < 10")
    rows, jobs, _ = spark_work(lambda: ann.search(queries, k=4).collect())
    assert len(rows) == 40
    assert jobs <= HNSW_SEARCH_JOB_BOUND, jobs


@pytest.fixture(scope="module")
def filter_corpus(spark):
    """300 random 8-d vectors; every id but those divisible by 4 is
    admissible to the filtered searches."""
    rng = np.random.default_rng(17)
    base = rng.normal(size=(300, 8))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return corpus, corpus.filter("vec_id % 4 != 0").select("vec_id")


@pytest.mark.parametrize(
    "threshold, bound",
    [(50_000, HNSW_EXACT_FILTER_JOB_BOUND), (0, HNSW_BROAD_FILTER_JOB_BOUND)],
    ids=["exact", "broad"],
)
def test_hnsw_filtered_search_job_count(spark_work, filter_corpus, threshold, bound):
    """Tripwire: the exact path sizes and fetches the admissible ids in
    one bounded collect, and the broad path reads whether any query is
    still pending from its attempt's checkpoint, with no probe job."""
    corpus, ids = filter_corpus
    ann = HNSWANN(
        M=8, ef_construction=48, ef_search=48, seed=1,
        exact_filter_threshold=threshold,
    ).fit(corpus)
    rows, jobs, _ = spark_work(
        lambda: ann.search(
            corpus.filter("vec_id < 10"), k=4, filter_ids=ids
        ).collect()
    )
    assert jobs <= bound, jobs
    assert Counter(r["query_id"] for r in rows) == {q: 4 for q in range(10)}
    assert all(r["neighbor_id"] % 4 for r in rows)


RANK_K = 4
OUT_COLUMN = {"cosine": "cosine", "dot": "score", "l2": "distance"}


@pytest.fixture(scope="module")
def tied_vectors(spark):
    """40 random vectors and two near copies of each of the first 8:
    the copy with the higher id scores better before rounding, and the
    two tie once scores are rounded to 6 places, under every metric."""
    rng = np.random.default_rng(23)
    base = rng.normal(size=(40, 8))
    rows = [(i, base[i]) for i in range(40)]
    for i in range(8):
        ortho = rng.normal(size=8)
        ortho -= ortho @ base[i] / (base[i] @ base[i]) * base[i]
        ortho /= np.linalg.norm(ortho)
        rows.append((200 + i, base[i] * (1 - 1e-9) + 1e-5 * ortho))
        rows.append((300 + i, base[i] * (1 - 1e-10) + 1e-6 * ortho))
    return [(i, [float(x) for x in v]) for i, v in rows]


def _to_score(metric, dist):
    if metric == "cosine":
        return 1.0 - dist
    return -dist if metric == "dot" else dist


def _walk_hits(ann, vecs, qid, kk, admissible=None):
    """The graph walk's hits for one query row: (neighbor_id,
    score_raw) without the query itself, post-filtered if asked."""
    q = ann._prep(np.array([vecs], dtype=np.float64))[0]
    hits = []
    for dist, node in ann._knn(q, kk):
        nid = int(ann._ids[node])
        if nid != qid and (admissible is None or nid in admissible):
            hits.append((nid, _to_score(ann.metric, dist)))
    return hits


def _exact_hits(ann, vecs, qid, kk, admissible):
    """The exact scan's hits over the admissible vectors."""
    nodes = np.nonzero(np.isin(ann._ids, sorted(admissible)))[0]
    sub, sub_ids = ann._vecs[nodes], ann._ids[nodes]
    q = ann._prep(np.array([vecs], dtype=np.float64))[0]
    if ann.metric == "l2":
        diff = sub - q
        dists = np.einsum("ij,ij->i", diff, diff)
    else:
        dots = sub @ q
        dists = -dots if ann.metric == "dot" else 1.0 - dots
    order = np.lexsort((sub_ids, dists))[:kk]
    return [
        (int(sub_ids[n]), _to_score(ann.metric, float(dists[n])))
        for n in order
        if int(sub_ids[n]) != qid
    ]


def _widened_hits(ann, vecs, qid, k, admissible, oversample, retries):
    """The broad-filter walk: re-walk at doubled oversample until k
    admissible hits come back or the retries are spent."""
    kk = k * oversample + 1
    for attempt in range(retries + 1):
        hits = _walk_hits(ann, vecs, qid, kk, admissible)
        if len(hits) >= k or attempt == retries:
            return hits
        kk = (kk - 1) * 2 + 1


def _window_ranked(spark, metric, hit_rows, k):
    """The per-query window ranking that ``HNSWANN.search`` ran before
    it ranked inside the row: rounded score, then neighbour id, over
    all hits of one query row."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from replay_spark.utils.spark_utils import stable_round

    out = OUT_COLUMN[metric]
    flat = [
        (row, qid, nid, score)
        for row, (qid, hits) in enumerate(hit_rows)
        for nid, score in hits
    ]
    df = spark.createDataFrame(
        flat, "row long, query_id long, neighbor_id long, score_raw double"
    )
    score = F.col(out).desc() if metric != "l2" else F.col(out).asc()
    w = Window.partitionBy("row").orderBy(score, F.col("neighbor_id").asc())
    ranked = (
        df.withColumn(out, stable_round("score_raw", 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", out, "rank")
    )
    return sorted(tuple(r) for r in ranked.collect())


@pytest.mark.parametrize("conf", sorted(CONFS))
@pytest.mark.parametrize("path", ["walk", "broad_filter", "exact_filter"])
@pytest.mark.parametrize("metric", ["cosine", "dot", "l2"])
def test_hnsw_ranking_matches_window_reference(spark, tied_vectors, metric, path, conf):
    """Ranking each query's hits inside its row returns exactly the
    rows of the per-query window ranking: the same neighbours, rounded
    scores and ranks, with the lower neighbour id first on a rounded
    tie."""
    ann = HNSWANN(M=6, ef_construction=32, ef_search=32, seed=3, metric=metric)
    if path == "broad_filter":
        ann.exact_filter_threshold = 0
    corpus = spark.createDataFrame(tied_vectors, "vec_id long, embedding array<double>")
    ann.fit(corpus)
    query_rows = [r for r in tied_vectors if r[0] < 12]
    queries = spark.createDataFrame(query_rows, "vec_id long, embedding array<double>")
    k = RANK_K
    if path == "walk":
        hit_rows = [(q, _walk_hits(ann, v, q, k + 1)) for q, v in query_rows]
        search = {}
    else:
        admissible = {i for i, _ in tied_vectors if i % 3 != 1}
        filter_ids = spark.createDataFrame(
            [(i,) for i in sorted(admissible)], "vec_id long"
        )
        search = dict(filter_ids=filter_ids, filter_oversample=1, max_widen_retries=2)
        if path == "exact_filter":
            hit_rows = [
                (q, _exact_hits(ann, v, q, k + 1, admissible)) for q, v in query_rows
            ]
        else:
            hit_rows = [
                (q, _widened_hits(ann, v, q, k, admissible, 1, 2))
                for q, v in query_rows
            ]
    # the corpus plants rounded ties that the raw scores order the
    # other way; the reference must see at least one of them
    better = (lambda a, b: a < b) if metric == "l2" else (lambda a, b: a > b)
    assert any(
        better(s_hi, s_lo) and round(s_hi + 1e-9, 6) == round(s_lo + 1e-9, 6)
        for _, hits in hit_rows
        for n_lo, s_lo in hits
        for n_hi, s_hi in hits
        if n_lo < n_hi
    )
    expected = _window_ranked(spark, metric, hit_rows, k)
    with session_conf(spark, conf):
        got = sorted(tuple(r) for r in ann.search(queries, k=k, **search).collect())
    assert got == expected


def test_hnsw_ranks_each_query_row_on_its_own(spark, tied_vectors):
    """A query id that occurs in two rows gets each row's own top k,
    ranked 1..k twice, as the row-wise text operators score rows."""
    ann = HNSWANN(M=6, ef_construction=32, ef_search=32, seed=3).fit(
        spark.createDataFrame(tied_vectors, "vec_id long, embedding array<double>")
    )
    vecs = dict(tied_vectors)
    query_rows = [(5, vecs[5]), (5, vecs[30]), (7, vecs[7])]
    queries = spark.createDataFrame(query_rows, "vec_id long, embedding array<double>")
    got = sorted(tuple(r) for r in ann.search(queries, k=RANK_K).collect())
    hit_rows = [(q, _walk_hits(ann, v, q, RANK_K + 1)) for q, v in query_rows]
    assert got == _window_ranked(spark, "cosine", hit_rows, RANK_K)
    ranks = sorted(r[3] for r in got if r[0] == 5)
    assert ranks == sorted(2 * list(range(1, RANK_K + 1)))


@pytest.mark.parametrize("metric", ["dot", "l2"])
def test_hnsw_nan_scores_rank_as_nulls(spark, tied_vectors, metric):
    """A NaN score comes back null and ranks where the window put a
    null: last when scores sort descending, first when ascending."""
    vecs = dict(tied_vectors)
    # a vector with a NaN component scores NaN against any query
    corpus = tied_vectors + [
        (500 + i, [float("nan")] + vecs[i][1:]) for i in range(2)
    ]
    ann = HNSWANN(M=6, ef_construction=32, ef_search=32, seed=3, metric=metric)
    ann.fit(spark.createDataFrame(corpus, "vec_id long, embedding array<double>"))
    admissible = {10, 11, 12, 500, 501}
    filter_ids = spark.createDataFrame([(i,) for i in admissible], "vec_id long")
    query_rows = [(i, vecs[i]) for i in range(3)]
    queries = spark.createDataFrame(query_rows, "vec_id long, embedding array<double>")
    got = sorted(
        tuple(r)
        for r in ann.search(queries, k=RANK_K, filter_ids=filter_ids).collect()
    )
    hit_rows = []
    for q, v in query_rows:
        hits = _exact_hits(ann, v, q, RANK_K + 1, admissible)
        hit_rows.append((q, [(n, None if np.isnan(s) else s) for n, s in hits]))
    assert all(
        {s is None for _, s in hits} == {True, False} for _, hits in hit_rows
    )
    assert got == _window_ranked(spark, metric, hit_rows, RANK_K)
