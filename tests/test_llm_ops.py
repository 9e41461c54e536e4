import pytest

import pyspark.sql.functions as F

from replay_spark.ann import BruteForceANN, IVFANN, LSHANN
from replay_spark.datasets import read_table
from replay_spark.multimodal import MediaProcessor, attach_media_metadata
from replay_spark.preprocessing.dedup import (
    EmbeddingDeduplicator,
    ExactDeduplicator,
    MinHashLSHDeduplicator,
    NGramJaccardDeduplicator,
    SimHashDeduplicator,
)
from replay_spark.preprocessing.text import (
    LanguageIdentifier,
    QualityScorer,
    TextStats,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox jumps over a lazy dog"),  # near dup
        (3, "completely different content about spark engines"),
        (4, "der schnelle braune fuchs und der faule hund ist von"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),  # near dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_exact_dedup(docs):
    out = ExactDeduplicator().transform(docs)
    assert out.count() == 5
    kept = {r.doc_id for r in out.collect()}
    assert 0 in kept and 1 not in kept
    groups = ExactDeduplicator().duplicates(docs)
    assert groups.filter("group_size = 2").count() == 1


def test_ngram_jaccard(docs):
    dd = NGramJaccardDeduplicator(n=2, threshold=0.5)
    pairs = dd.pairs(docs)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1) in got  # identical
    assert (0, 2) in got or (1, 2) in got  # near dup
    out = dd.transform(docs)
    assert out.filter("doc_id = 1").count() == 0


def test_minhash_lsh(docs):
    dd = MinHashLSHDeduplicator(n=2, num_hashes=32, bands=16, threshold=0.5)
    sigs = dd.signatures(docs)
    assert sigs.count() == 6  # empty doc still yields one (empty-ish) shingle
    row = {r.doc_id: r.signature for r in sigs.collect()}
    assert row[0] == row[1]  # identical docs → identical signatures
    pairs = dd.candidate_pairs(docs)
    got = {(r.id_a, r.id_b): r.est_jaccard for r in pairs.collect()}
    assert got[(0, 1)] == pytest.approx(1.0)


def test_simhash(docs):
    dd = SimHashDeduplicator(max_hamming=3)
    fps = dd.fingerprints(docs.filter("doc_id < 5"))
    vals = {r.doc_id: r.simhash for r in fps.collect()}
    assert vals[0] == vals[1]
    pairs = dd.candidate_pairs(docs.filter("doc_id < 5"))
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert got[(0, 1)] == 0


def test_embedding_dedup(vectors):
    dd = EmbeddingDeduplicator(dim=4, threshold=0.95, num_planes=0)
    pairs = dd.pairs(vectors)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(0, 1)}
    # bucketed variant still finds the pair (same orthant)
    dd_lsh = EmbeddingDeduplicator(dim=4, threshold=0.95, num_planes=4)
    got2 = {(r.id_a, r.id_b) for r in dd_lsh.pairs(vectors).collect()}
    assert (0, 1) in got2


def test_embedding_dedup_auto_planes(spark):
    """num_planes=None scales with corpus size (bounded buckets) and
    the multi-table banding keeps recall on planted near-dup pairs."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows, planted = [], []
    vid = 0
    for _ in range(200):
        v = rng.normal(size=16)
        rows.append((vid, [float(x) for x in v]))
        vid += 1
    for _ in range(20):
        v = rng.normal(size=16)
        w = v + rng.normal(scale=0.02, size=16)  # cosine ~0.999
        rows.append((vid, [float(x) for x in v]))
        rows.append((vid + 1, [float(x) for x in w]))
        planted.append((vid, vid + 1))
        vid += 2
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    dd = EmbeddingDeduplicator(
        dim=16, threshold=0.95, target_bucket_size=16, seed=3
    )
    planes = dd._resolve_planes(df)
    assert planes == 4  # ceil(log2(240/16))
    got = {(r.id_a, r.id_b) for r in dd.pairs(df).collect()}
    recall = len(got & set(planted)) / len(planted)
    assert recall >= 0.8, f"auto-plane LSH recall {recall} below floor"
    # small corpus (n <= target_bucket_size) -> exact brute force
    small = df.filter("vec_id < 10")
    assert dd._resolve_planes(small) == 0


def test_lsh_ann_auto_planes(spark):
    """LSHANN auto mode: buckets scale with the corpus, results stay
    a subset of brute-force rankings with decent top-1 recall."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = [
        (i, [float(x) for x in rng.normal(size=8)]) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    ann = LSHANN(dim=8, target_bucket_size=64, num_tables=8, seed=5)
    assert ann._resolve_planes(df) == 3  # ceil(log2(300/64))
    res = ann.search(df.filter("vec_id < 10"), df, k=3)
    per_q = {r["query_id"]: r for r in res.filter("rank = 1").collect()}
    assert len(per_q) == 10  # every query found candidates
    # no duplicate (query, neighbor) rows despite multi-table probing
    assert (
        res.groupBy("query_id", "neighbor_id").count().filter("count > 1").count()
        == 0
    )


def test_text_stats_and_quality(docs):
    out = TextStats().transform(docs)
    row = out.filter("doc_id = 0").first()
    assert row.num_tokens == 9
    assert out.filter("doc_id = 5").first().num_tokens == 0
    q = QualityScorer().transform(docs)
    r0 = q.filter("doc_id = 0").first()
    assert 0 < r0.quality_score <= 1.0
    assert r0.stopword_ratio == pytest.approx(2 / 9)  # the, the


def test_language_identifier(docs):
    out = LanguageIdentifier().transform(docs)
    got = {r.doc_id: r.detected_lang for r in out.collect()}
    assert got[0] == "en"
    assert got[4] == "de"
    assert got[5] == "und"


def test_language_identifier_tiebreak(spark):
    """Golden: tied stopword hits resolve to the lexicographically
    SMALLEST language code (the documented rule, mirrored by the
    q_lang_id oracle)."""
    df = spark.createDataFrame(
        [
            (0, "the der"),  # en=1 ('the'), de=1 ('der') -> de
            (1, "la"),  # es=1, fr=1 -> es
            (2, "de"),  # es=1, fr=1 ('de' in both) -> es
            (3, "the the der"),  # en=2 beats de=1 -> en
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.detected_lang
        for r in LanguageIdentifier().transform(df).collect()
    }
    assert got == {0: "de", 1: "es", 2: "es", 3: "en"}


def test_brute_force_ann(vectors):
    ann = BruteForceANN()
    res = ann.search(vectors.filter("vec_id = 0"), vectors, k=2)
    rows = res.orderBy("rank").collect()
    assert rows[0].neighbor_id == 1
    assert rows[0].cosine == pytest.approx(0.999 / (0.999**2 + 0.01**2) ** 0.5, rel=1e-6)


def test_ivf_ann(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    ann = IVFANN(num_clusters=4, nprobe=2, seed=42).fit(emb)
    res = ann.search(emb.filter("vec_id < 3"), k=5)
    assert res.groupBy("query_id").count().count() == 3
    # recall check vs brute force on one query
    bf = BruteForceANN().search(emb.filter("vec_id = 0"), emb, k=5)
    bf_ids = {r.neighbor_id for r in bf.collect()}
    ivf_ids = {r.neighbor_id for r in res.filter("query_id = 0").collect()}
    assert len(bf_ids & ivf_ids) >= 2  # partial recall is expected


def test_lsh_ann(vectors):
    ann = LSHANN(dim=4, num_planes=2, seed=1)
    res = ann.search(vectors, vectors, k=3)
    assert res.count() > 0


def test_multimodal_plumbing(spark):
    rows = [(0, b"fake image bytes"), (1, b"other payload"), (2, None)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    meta = attach_media_metadata(df)
    got = {r.media_id: r.num_bytes for r in meta.collect()}
    assert got[0] == 16 and got[2] is None or got[2] == 0  # null payload
    out = MediaProcessor().transform(df)
    rows_out = {r.media_id: r for r in out.collect()}
    assert len(rows_out) == 3
    assert len(rows_out[0].features) == 16
    assert 64 <= rows_out[0].width <= 319
    # determinism
    out2 = MediaProcessor().transform(df)
    assert rows_out[1].features == {r.media_id: r for r in out2.collect()}[1].features
    # resize is now a REAL (lazy) plan for netpbm payloads; driving it
    # on non-netpbm bytes surfaces the per-payload ValueError
    with pytest.raises(Exception):
        MediaProcessor().resize(df, (32, 32)).collect()
    # frame sampling is likewise a real (lazy) netpbm-stream plan;
    # non-netpbm payloads surface the per-payload ValueError
    with pytest.raises(Exception):
        MediaProcessor().sample_frames(df, every_ms=40).collect()


def _near_dup_corpus():
    """Seeded corpus: 25 base docs of 40 words, each with a near-dup
    (1 word substituted -> trigram-shingle Jaccard ~0.85) plus 25
    unrelated fillers."""
    import random

    rng = random.Random(1234)
    vocab = [f"w{i}" for i in range(500)]
    rows = []
    doc_id = 0
    for _ in range(25):
        words = [rng.choice(vocab) for _ in range(40)]
        rows.append((doc_id, " ".join(words)))
        near = list(words)
        for pos in rng.sample(range(40), 1):
            near[pos] = rng.choice(vocab)
        rows.append((doc_id + 1, " ".join(near)))
        doc_id += 2
    for _ in range(25):
        rows.append((doc_id, " ".join(rng.choice(vocab) for _ in range(40))))
        doc_id += 1
    return rows


def test_minhash_recall_vs_exact(spark):
    """Banded MinHash recall on true >=0.8-Jaccard pairs must beat a
    conservative empirical floor; the analytic bound
    1-(1-s^r)^b for s=0.8, r=2, b=32 is ~1-1e-15."""
    df = spark.createDataFrame(_near_dup_corpus(), "doc_id long, text string")
    exact = {
        (r.id_a, r.id_b)
        for r in NGramJaccardDeduplicator(n=3, threshold=0.8).pairs(df).collect()
    }
    assert len(exact) >= 15  # the construction produced enough true pairs
    cands = {
        (r.id_a, r.id_b)
        for r in MinHashLSHDeduplicator(
            n=3, num_hashes=64, bands=32, threshold=0.7
        ).candidate_pairs(df).collect()
    }
    recall = len(exact & cands) / len(exact)
    assert recall >= 0.9, f"minhash recall {recall} below floor"


def test_simhash_recall_vs_exact(spark):
    """SimHash banded blocking must recover the vast majority of true
    near-duplicate (>=0.8 Jaccard) pairs at a generous hamming cap."""
    df = spark.createDataFrame(_near_dup_corpus(), "doc_id long, text string")
    exact = {
        (r.id_a, r.id_b)
        for r in NGramJaccardDeduplicator(n=3, threshold=0.8).pairs(df).collect()
    }
    assert len(exact) >= 15
    cands = {
        (r.id_a, r.id_b)
        for r in SimHashDeduplicator(max_hamming=12).candidate_pairs(df).collect()
    }
    recall = len(exact & cands) / len(exact)
    assert recall >= 0.8, f"simhash recall {recall} below floor"


def test_ivf_recall_floor(spark, sf_dir):
    """Average IVF recall@5 vs brute force over 20 queries must clear
    a floor at nprobe=half the cells."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 20")
    ivf = IVFANN(num_clusters=8, nprobe=4, seed=42).fit(emb).search(queries, k=5)
    bf = BruteForceANN().search(queries, emb, k=5)
    ivf_sets, bf_sets = {}, {}
    for r in ivf.collect():
        ivf_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in bf.collect():
        bf_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(ivf_sets.get(q, set()) & s) / len(s) for q, s in bf_sets.items()
    ]
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.5, f"IVF avg recall {avg} below floor"


def test_bpe_token_count(spark):
    from replay_spark.preprocessing.text import (
        bpe_token_count_expr,
        token_count_expr,
    )

    df = spark.createDataFrame(
        [(0, "Hello world, it's 42 degrees!"), (1, ""), (2, "one")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.ws, r.bpe)
        for r in df.select(
            "doc_id",
            token_count_expr(F.col("text")).alias("ws"),
            bpe_token_count_expr(F.col("text")).alias("bpe"),
        ).collect()
    }
    # pieces: Hello | " world" | "," | " it" | "'s" | " 42" | " degrees" | "!"
    assert out == {0: (5, 8), 1: (0, 0), 2: (1, 1)}


def test_rolling_fingerprint_properties(spark):
    from replay_spark.preprocessing.text import rolling_fingerprint_expr

    base = "the quick brown fox jumps over the lazy dog " * 5
    rows = [
        (0, base),
        (1, base),                      # identical
        (2, "PREFIX " + base),          # shifted: grams mostly shared
        (3, "совершенно другой текст " * 8),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sk = {
        r.doc_id: list(r.s)
        for r in df.select(
            "doc_id", rolling_fingerprint_expr(F.col("text"), k=12).alias("s")
        ).collect()
    }
    assert sk[0] == sk[1]
    overlap_near = len(set(sk[0]) & set(sk[2]))
    overlap_far = len(set(sk[0]) & set(sk[3]))
    assert overlap_near >= 8  # prefix shift keeps most bottom-k grams
    assert overlap_far == 0


def test_near_dup_clusters_transitive(spark):
    """A~B and B~C must land in one component even though (A, C)
    never met a threshold; D-E form a second component; isolated
    pairs keep the smallest id as the canonical component."""
    from replay_spark.preprocessing.dedup import NearDupClusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (3, 4)],
        "id_a long, id_b long",
    )
    comps = {
        r["node"]: r["component"]
        for r in NearDupClusters().components(pairs).collect()
    }
    assert comps == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20, 23: 20,
    }


def test_near_dup_clusters_transform_keeps_canonical(spark):
    from replay_spark.preprocessing.dedup import NearDupClusters

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(0, 3), (3, 5)], "id_a long, id_b long")
    kept = NearDupClusters().transform(docs, pairs)
    assert sorted(r["doc_id"] for r in kept.collect()) == [0, 1, 2, 4]


def test_repetition_stats_golden(spark):
    from replay_spark.preprocessing.text import RepetitionStats

    docs = spark.createDataFrame(
        [
            # 6 tokens, 4 distinct; 3 lines, 2 distinct ("b b" twice);
            # top bigram "b b" appears 2x (across lines after lowering)
            (1, "a a\nb b\nb b"),
            (2, "unique words only here"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in RepetitionStats().transform(docs).collect()}
    r1 = out[1]
    assert r1["dup_word_frac"] == pytest.approx(1 - 2 / 6)
    assert r1["dup_line_frac"] == pytest.approx(1 - 2 / 3)
    # chars in duplicated lines: "b b" (3 chars) * 2 / total 9 line chars
    assert r1["dup_line_char_frac"] == pytest.approx(6 / 9)
    r2 = out[2]
    assert r2["dup_word_frac"] == 0.0
    assert r2["dup_line_frac"] == 0.0
    r3 = out[3]
    assert r3["dup_word_frac"] == 0.0
    assert r3["top_bigram_char_frac"] == 0.0


def test_pii_scrubber_golden(spark):
    from replay_spark.preprocessing.text import PIIScrubber

    docs = spark.createDataFrame(
        [
            (1, "mail bob@example.com or alice@test.org, call 555-123-4567"),
            (2, "server at 10.0.0.1 and 192.168.1.254"),
            (3, "clean document"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in PIIScrubber().transform(docs).collect()}
    assert out[1]["email_count"] == 2
    assert out[1]["phone_count"] == 1
    assert "[EMAIL]" in out[1]["scrubbed_text"]
    assert "[PHONE]" in out[1]["scrubbed_text"]
    assert "bob@example.com" not in out[1]["scrubbed_text"]
    assert out[2]["ipv4_count"] == 2
    assert "[IPV4]" in out[2]["scrubbed_text"]
    assert out[3]["scrubbed_text"] == "clean document"
    assert out[3]["email_count"] == out[3]["ipv4_count"] == out[3]["phone_count"] == 0


def test_document_chunker_golden(spark):
    from replay_spark.preprocessing.text import DocumentChunker

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "short doc"), (3, "")],
        "doc_id long, text string",
    )
    out = DocumentChunker(max_tokens=4).transform(docs)
    rows = sorted(
        (r["doc_id"], r["chunk_idx"], r["chunk_text"], r["n_tokens"])
        for r in out.collect()
    )
    assert rows == [
        (1, 0, "t0 t1 t2 t3", 4),
        (1, 1, "t4 t5 t6 t7", 4),
        (1, 2, "t8 t9", 2),
        (2, 0, "short doc", 2),
    ]


def test_document_chunker_overlap(spark):
    from replay_spark.preprocessing.text import DocumentChunker

    docs = spark.createDataFrame(
        [(1, "a b c d e f")], "doc_id long, text string"
    )
    out = DocumentChunker(max_tokens=4, overlap=2).transform(docs)
    rows = sorted((r["chunk_idx"], r["chunk_text"]) for r in out.collect())
    # stride 2: windows [a b c d], [c d e f]
    assert rows == [(0, "a b c d"), (1, "c d e f")]


def test_document_chunker_short_doc_with_overlap(spark):
    """0 < n_tokens <= overlap must still emit one whole-doc chunk
    (regression: ceil((n - overlap)/stride) <= 0 dropped the doc)."""
    from replay_spark.preprocessing.text import DocumentChunker

    docs = spark.createDataFrame(
        [(1, "tiny doc"), (2, "a b c"), (3, "")],
        "doc_id long, text string",
    )
    out = DocumentChunker(max_tokens=512, overlap=100).transform(docs)
    rows = sorted(
        (r["doc_id"], r["chunk_idx"], r["chunk_text"], r["n_tokens"])
        for r in out.collect()
    )
    assert rows == [(1, 0, "tiny doc", 2), (2, 0, "a b c", 3)]


def test_pii_scrubber_international_phone(spark):
    """The optional '+' must be consumed by the phone match: the old
    r'\\b\\+?...' never matched the '+' (word boundary before a
    non-word char), leaving '+' unmasked."""
    from replay_spark.preprocessing.text import PIIScrubber

    docs = spark.createDataFrame(
        [(1, "call +555-123-4567 now")], "doc_id long, text string"
    )
    row = PIIScrubber().transform(docs).collect()[0]
    assert row["phone_count"] == 1
    assert row["scrubbed_text"] == "call [PHONE] now"


def test_ngram_jaccard_hot_shingle_cap(spark):
    """max_shingle_df drops shingles shared by more than that many
    documents before the O(df^2) pair join; pairs whose only overlap
    is a hot shingle disappear, cold pairs are unaffected."""
    rows = [(i, "x y") for i in range(1, 5)]  # "x y" has df=4
    rows += [(10, "p q"), (11, "p q")]        # "p q" has df=2
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = NGramJaccardDeduplicator(
        n=2, threshold=0.5, max_shingle_df=3
    ).pairs(df)
    assert {(r.id_a, r.id_b) for r in capped.collect()} == {(10, 11)}
    uncapped = NGramJaccardDeduplicator(
        n=2, threshold=0.5, max_shingle_df=None
    ).pairs(df)
    assert uncapped.count() == 6 + 1  # C(4,2) hot pairs + the cold pair


def test_near_dup_clusters_max_iterations_warning(spark):
    """Exhausting max_iterations with labels still changing must warn
    (silent exit returned split components)."""
    from replay_spark.preprocessing.dedup import NearDupClusters

    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], "id_a long, id_b long"
    )
    with pytest.warns(RuntimeWarning, match="did not converge"):
        NearDupClusters(
            max_iterations=1, driver_threshold=0
        ).components(chain).collect()


def test_corpus_mixer(spark):
    from replay_spark.preprocessing.text import CorpusMixer

    docs = spark.createDataFrame(
        [(i, "web" if i < 200 else "code") for i in range(300)],
        "doc_id long, source string",
    )
    out = CorpusMixer(
        stratum_column="source", fractions={"code": 1.0}, default_fraction=0.25
    ).transform(docs)
    counts = {r["source"]: r["count"] for r in out.groupBy("source").count().collect()}
    assert counts["code"] == 100            # fraction 1.0 keeps all
    assert 20 <= counts.get("web", 0) <= 90  # ~50 expected, Bernoulli
    # seeded -> reproducible
    out2 = CorpusMixer(
        stratum_column="source", fractions={"code": 1.0}, default_fraction=0.25
    ).transform(docs)
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in out2.collect()
    )


def test_corpus_mixer_plan_fractions(spark):
    from replay_spark.preprocessing.text import CorpusMixer

    docs = spark.createDataFrame(
        [(i, "web" if i < 800 else "code") for i in range(1000)],
        "doc_id long, source string",
    )
    fr = CorpusMixer.plan_fractions(
        docs, "source", {"web": 0.5, "code": 0.5}, total_rows=400
    )
    assert fr["web"] == pytest.approx(200 / 800)
    assert fr["code"] == pytest.approx(1.0)  # capped: only 200 available


def test_near_dup_clusters_adaptive_jump_converges_deep_chain(spark):
    """Pointer jumping is adaptive: plain propagation for the first
    jump_after_rounds rounds, then the label-to-label jump join kicks
    in and convergence becomes O(log diameter). A diameter-15 chain
    must converge well inside 9 rounds (3 plain + ~log2(15) jumped) —
    plain-only propagation would need 15."""
    from replay_spark.preprocessing.dedup import NearDupClusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 16)], "id_a long, id_b long"
    )
    import warnings as _w

    with _w.catch_warnings():
        _w.simplefilter("error", RuntimeWarning)  # non-convergence warns
        comps = (
            NearDupClusters(
                max_iterations=9, driver_threshold=0, jump_after_rounds=3
            )
            .components(chain)
            .collect()
        )
    assert {(r["node"], r["component"]) for r in comps} == {
        (i, 1) for i in range(1, 17)
    }


def test_near_dup_clusters_jump_after_zero_matches(spark):
    """jump_after_rounds=0 (jump from round one, the pre-adaptive
    behavior) produces the same components."""
    from replay_spark.preprocessing.dedup import NearDupClusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (3, 4)], "id_a long, id_b long"
    )
    out = {
        (r["node"], r["component"])
        for r in NearDupClusters(driver_threshold=0, jump_after_rounds=0)
        .components(pairs)
        .collect()
    }
    assert out == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_near_dup_clusters_distributed_matches_driver(spark):
    """Both execution paths (driver union-find / distributed
    propagation) must produce identical components."""
    from replay_spark.preprocessing.dedup import NearDupClusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (3, 4)],
        "id_a long, id_b long",
    )
    via_driver = NearDupClusters(driver_threshold=1000).components(pairs)
    via_spark = NearDupClusters(driver_threshold=0).components(pairs)
    as_set = lambda df: {(r["node"], r["component"]) for r in df.collect()}
    assert as_set(via_driver) == as_set(via_spark)


def test_vocab_builder(spark):
    from replay_spark.preprocessing.text import VocabBuilder

    df = spark.createDataFrame(
        [
            (0, "apple banana apple"),
            (1, "banana cherry"),
            (2, "apple"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    vocab = {
        r["token"]: (r["tf"], r["df"])
        for r in VocabBuilder().transform(df).collect()
    }
    assert vocab == {"apple": (3, 2), "banana": (2, 2), "cherry": (1, 1)}

    top = VocabBuilder(top_n=2).transform(df).collect()
    assert [r["token"] for r in top] == ["apple", "banana"]

    mindf = VocabBuilder(min_df=2).transform(df).collect()
    assert sorted(r["token"] for r in mindf) == ["apple", "banana"]

    with pytest.raises(ValueError):
        VocabBuilder(min_df=0)


def test_tfidf_keywords(spark):
    import math

    from replay_spark.preprocessing.text import TfIdfKeywords

    df = spark.createDataFrame(
        [
            (0, "apple banana apple"),
            (1, "banana cherry"),
            (2, "cherry cherry cherry"),
        ],
        "doc_id long, text string",
    )
    out = TfIdfKeywords(k=2).transform(df)
    rows = {
        (r["doc_id"], r["token"]): (r["score"], r["rank"])
        for r in out.collect()
    }
    # doc 0: apple tf=2/3, df=1 -> idf = ln(4/2)+1; banana tf=1/3, df=2
    idf_apple = math.log(4 / 2) + 1
    assert rows[(0, "apple")][1] == 1
    assert abs(rows[(0, "apple")][0] - round(2 / 3 * idf_apple, 6)) < 1e-9
    # every doc emits at most k rows, ranks are 1..k
    per_doc = {}
    for (d, _), (_, rank) in rows.items():
        per_doc.setdefault(d, []).append(rank)
    for ranks in per_doc.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 2

    with pytest.raises(ValueError):
        TfIdfKeywords(k=0)


def test_rolling_fingerprint_md5_mode(spark):
    from replay_spark.preprocessing.text import rolling_fingerprint_expr

    df = spark.createDataFrame(
        [
            (0, "The  Quick   Brown Fox"),
            (1, "the quick brown fox"),  # same after normalization
            (2, "something else entirely"),
        ],
        "doc_id long, text string",
    )
    out = df.select(
        "doc_id",
        rolling_fingerprint_expr(F.col("text"), hash_fn="md5").alias("sk"),
    ).collect()
    sk = {r["doc_id"]: tuple(r["sk"]) for r in out}
    assert sk[0] == sk[1]
    assert sk[0] != sk[2]
    assert all(len(h) == 32 for h in sk[0])  # md5 hex digests
    assert list(sk[0]) == sorted(sk[0])  # bottom-k is sorted

    with pytest.raises(ValueError):
        rolling_fingerprint_expr(F.col("text"), hash_fn="sha1")


def test_contamination_checker(spark):
    from replay_spark.preprocessing.dedup import ContaminationChecker

    train = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta"),  # shares the eval 3-gram
            (11, "alpha beta gamma epsilon"),  # shares 'alpha beta gamma'
            (12, "totally unrelated words here"),
            (13, "x"),  # shorter than n -> whole text is the shingle
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "x")],
        "doc_id long, text string",
    )
    chk = ContaminationChecker(n=3)
    rep = {
        r["doc_id"]: (r["n_shingles"], r["n_contaminated"], r["contamination_frac"])
        for r in chk.report(train, ev).collect()
    }
    assert rep[10] == (2, 2, 1.0)  # both 3-grams appear in eval doc 0
    assert rep[11][1] == 1 and 0 < rep[11][2] < 1
    assert rep[12] == (2, 0, 0.0)
    assert rep[13] == (1, 1, 1.0)  # short doc collides with eval 'x'

    kept = chk.transform(train, ev)
    assert sorted(r["doc_id"] for r in kept.collect()) == [12]
    # threshold relaxation keeps partially-contaminated docs
    kept_half = chk.transform(train, ev, max_frac=0.6)
    assert sorted(r["doc_id"] for r in kept_half.collect()) == [11, 12]

    with pytest.raises(ValueError):
        ContaminationChecker(n=0)

    # empty eval corpus: the fused left-join path must report zero
    # contamination everywhere, not lose rows
    empty = spark.createDataFrame([], "doc_id long, text string")
    rep0 = {
        r["doc_id"]: (r["n_contaminated"], r["contamination_frac"])
        for r in chk.report(train, empty).collect()
    }
    assert set(rep0) == {10, 11, 12, 13}
    assert all(v == (0, 0.0) for v in rep0.values())


def test_sequence_packer(spark):
    """Golden: greedy head-to-tail layout; a doc belongs to the pack
    where its first token lands; empty docs take zero width."""
    from replay_spark.preprocessing.text import SequencePacker

    df = spark.createDataFrame(
        [(0, "a b c"), (1, "d e"), (2, "  "), (3, "f g h i"), (4, "j")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: (r.n_tokens, r.pack_id, r.pack_offset)
        for r in SequencePacker(budget=4).transform(df).collect()
    }
    assert rows[0] == (3, 0, 0)
    assert rows[1] == (2, 0, 3)  # starts in pack 0, overflows its tail
    assert rows[2] == (0, 1, 1)
    assert rows[3] == (4, 1, 1)
    assert rows[4] == (1, 2, 1)

    with pytest.raises(ValueError):
        SequencePacker(budget=0)


def test_source_cap_filter(spark):
    """Cap bites only over-cap sources; smallest ids win; under-cap
    sources pass through untouched."""
    from replay_spark.preprocessing.text import SourceCapFilter

    df = spark.createDataFrame(
        [(i, "hot", f"t{i}") for i in range(5)]
        + [(10, "cold", "t10"), (11, "cold", "t11")],
        "doc_id long, source string, text string",
    )
    out = SourceCapFilter(cap=3).transform(df)
    got = sorted((r.source, r.doc_id) for r in out.collect())
    assert got == [
        ("cold", 10),
        ("cold", 11),
        ("hot", 0),
        ("hot", 1),
        ("hot", 2),
    ]
    assert set(out.columns) == {"doc_id", "source", "text"}

    with pytest.raises(ValueError):
        SourceCapFilter(cap=0)


def test_source_cap_filter_auto_persist(spark):
    """auto_persist=True caches the input (transform scans it 3×),
    yields identical output, and release() drops the cache."""
    from replay_spark.preprocessing.text import SourceCapFilter

    df = spark.createDataFrame(
        [(i, "hot", f"t{i}") for i in range(5)]
        + [(10, "cold", "t10")],
        "doc_id long, source string, text string",
    )
    plain = sorted(
        (r.source, r.doc_id)
        for r in SourceCapFilter(cap=3).transform(df).collect()
    )
    f = SourceCapFilter(cap=3, auto_persist=True)
    out = f.transform(df)
    got = sorted((r.source, r.doc_id) for r in out.collect())
    assert got == plain
    assert f._persisted is not None
    assert f._persisted.storageLevel.useMemory
    f.release()
    assert f._persisted is None


def test_minhash_md5_family(docs):
    from replay_spark.preprocessing.dedup import MinHashLSHDeduplicator

    dd = MinHashLSHDeduplicator(
        n=3, num_hashes=32, bands=16, threshold=0.3, hash_family="md5"
    )
    pairs = {(r["id_a"], r["id_b"]) for r in dd.candidate_pairs(docs).collect()}
    assert (0, 1) in pairs  # exact dups always collide in every band
    sigs = {r["doc_id"]: r["signature"] for r in dd.signatures(docs).collect()}
    assert sigs[0] == sigs[1]
    assert all(0 <= v < (1 << 31) for v in sigs[0])

    with pytest.raises(ValueError):
        MinHashLSHDeduplicator(hash_family="sha1")


def test_simhash_md5_family(docs):
    from replay_spark.preprocessing.dedup import SimHashDeduplicator

    dd = SimHashDeduplicator(max_hamming=3, hash_family="md5")
    fps = {r["doc_id"]: r["simhash"] for r in dd.fingerprints(docs).collect()}
    assert fps[0] == fps[1]  # exact dups -> identical fingerprint
    assert all(0 <= v < (1 << 60) for v in fps.values())
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in dd.candidate_pairs(docs).collect()}
    assert pairs[(0, 1)] == 0

    with pytest.raises(ValueError):
        SimHashDeduplicator(hash_family="crc32")


def test_unigram_lm_scorer(spark):
    import math

    from replay_spark.preprocessing.text import UnigramLMScorer

    train = spark.createDataFrame(
        [(0, "a a b"), (1, "a c")], "doc_id long, text string"
    )
    # model: a=3, b=1, c=1; N=5, V=3
    out = {
        r["doc_id"]: (r["n_tokens"], r["lm_score"])
        for r in UnigramLMScorer().score(train).collect()
    }
    p = lambda c: math.log((c + 1.0) / (5 + 3))
    assert out[0][0] == 3
    assert abs(out[0][1] - round((2 * p(3) + p(1)) / 3, 6)) < 1e-9
    # scoring a doc with unseen tokens against a train corpus
    test = spark.createDataFrame([(9, "z z")], "doc_id long, text string")
    sc = UnigramLMScorer().score(test, train_df=train).collect()[0]
    assert sc["n_tokens"] == 2
    assert abs(sc["lm_score"] - round(p(0), 6)) < 1e-9


def test_ppm_decode_resize_real(spark):
    """REAL image path: decode binary PPM/PGM, histogram features,
    nearest-neighbour resize with re-encode — all inside mapInPandas."""
    import numpy as np

    from replay_spark.multimodal import (
        MediaProcessor,
        decode_ppm,
        encode_ppm,
        ppm_image_decoder,
    )

    rgb = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    gray = np.arange(8 * 8, dtype=np.uint8).reshape(8, 8)
    p6, p5 = encode_ppm(rgb), encode_ppm(gray)
    back, magic = decode_ppm(p6)
    assert magic == "P6" and (back == rgb).all()

    df = spark.createDataFrame(
        [(0, bytearray(p6)), (1, bytearray(p5))],
        "media_id long, payload binary",
    )
    proc = MediaProcessor(decoder=ppm_image_decoder)
    meta = {r["media_id"]: r for r in proc.transform(df).collect()}
    assert (meta[0]["width"], meta[0]["height"]) == (6, 4)
    assert (meta[1]["width"], meta[1]["height"]) == (8, 8)
    assert abs(sum(meta[0]["features"]) - 1.0) < 1e-9  # histogram sums to 1

    resized = {r["media_id"]: r for r in proc.resize(df, (3, 2)).collect()}
    img0, _ = decode_ppm(bytes(resized[0]["payload"]))
    assert img0.shape == (2, 3, 3)
    img1, _ = decode_ppm(bytes(resized[1]["payload"]))
    assert img1.shape == (2, 3)

    with pytest.raises(Exception):
        decode_ppm(b"\x89PNG not a ppm")


def test_wav_decode_real(spark):
    """REAL audio path: stdlib WAV decode inside mapInPandas."""
    import io
    import math
    import struct
    import wave

    from replay_spark.multimodal import MediaProcessor, decode_wav, wav_audio_decoder

    buf = io.BytesIO()
    rate, seconds = 8000, 0.5
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        for i in range(int(rate * seconds)):
            val = int(1000 * math.sin(2 * math.pi * 440 * i / rate))
            w.writeframes(struct.pack("<h", val))
    payload = buf.getvalue()

    meta = decode_wav(payload)
    assert meta["sample_rate"] == 8000
    assert meta["num_channels"] == 1
    assert meta["duration_ms"] == 500
    assert len(meta["features"]) == 16 and all(f > 0 for f in meta["features"])

    df = spark.createDataFrame(
        [(7, bytearray(payload))], "media_id long, payload binary"
    )
    row = MediaProcessor(decoder=wav_audio_decoder).transform(df).collect()[0]
    assert row["width"] == 8000 and row["height"] == 1


def test_wav_encode_roundtrip():
    """encode_wav is the lossless inverse of decode_wav for 16-bit
    PCM — the property q_audio_decode's DuckDB oracle relies on."""
    import io
    import wave

    import numpy as np

    from replay_spark.multimodal import decode_wav, encode_wav

    rng = np.random.default_rng(7)
    samples = rng.integers(-32768, 32768, size=64, dtype=np.int16)
    payload = encode_wav(samples, sample_rate=8000)

    with wave.open(io.BytesIO(payload), "rb") as w:
        assert w.getframerate() == 8000
        assert w.getnchannels() == 1
        assert w.getsampwidth() == 2
        back = np.frombuffer(w.readframes(w.getnframes()), dtype=np.int16)
    assert np.array_equal(back, samples)

    meta = decode_wav(payload)
    segs = samples.astype(np.float64).reshape(16, 4)
    expect = np.sqrt((segs**2).mean(axis=1)) / 32768.0
    assert np.allclose(meta["features"], expect)


def test_video_frame_sampling(spark):
    """REAL video path: concatenated-netpbm stream split + frame
    sampling inside mapInPandas."""
    import numpy as np

    from replay_spark.multimodal import (
        MediaProcessor,
        decode_ppm,
        encode_ppm,
        split_netpbm_stream,
    )

    # 6-frame gray video; frame j is a constant image of value 10*j
    frames = [
        encode_ppm(np.full((4, 5), 10 * j, dtype=np.uint8)) for j in range(6)
    ]
    stream = b"".join(frames)
    parts = split_netpbm_stream(stream)
    assert len(parts) == 6 and parts[3] == frames[3]

    df = spark.createDataFrame(
        [(1, bytearray(stream))], "media_id long, payload binary"
    )
    # 10 fps -> 600 ms duration; 250 ms ticks -> t = 0, 250, 500
    # -> frame indices 0, 2, 5
    out = (
        MediaProcessor()
        .sample_frames(df, every_ms=250, fps=10.0)
        .orderBy("frame_index")
        .collect()
    )
    assert [(r.frame_index, r.t_ms) for r in out] == [(0, 0), (2, 250), (5, 500)]
    assert all(r.width == 5 and r.height == 4 for r in out)
    img, _ = decode_ppm(bytes(out[1].payload))
    assert img.shape == (4, 5) and int(img[0, 0]) == 20

    with pytest.raises(Exception):
        split_netpbm_stream(frames[0] + b"P6 truncated")


def test_video_frames_passthrough_beyond_ten(spark):
    """frame_index rides MediaProcessor.transform as a passthrough
    column — no id-packing, so streams with >10 frames are safe
    (the old media_id*10+frame_index round trip capped at 10)."""
    import numpy as np

    from replay_spark.multimodal import (
        MediaProcessor,
        encode_ppm,
        ppm_image_decoder,
    )

    frames = [
        encode_ppm(np.full((2, 2), 20 * j, dtype=np.uint8)) for j in range(12)
    ]
    df = spark.createDataFrame(
        [(7, bytearray(b"".join(frames)))], "media_id long, payload binary"
    )
    # 10 fps, 100 ms ticks -> every frame sampled, indices 0..11
    sampled = MediaProcessor().sample_frames(df, every_ms=100, fps=10.0)
    decoded = MediaProcessor(decoder=ppm_image_decoder).transform(
        sampled, passthrough=("frame_index", "t_ms")
    )
    rows = decoded.orderBy("frame_index").collect()
    assert [r.frame_index for r in rows] == list(range(12))
    assert [r.t_ms for r in rows] == [100 * k for k in range(12)]
    assert all(r.media_id == 7 for r in rows)
    # frame 11 has constant value 220 -> all mass in histogram bin 13
    assert rows[11].features[13] == 1.0

    with pytest.raises(ValueError, match="passthrough clashes"):
        MediaProcessor().transform(sampled, passthrough=("width",))


def test_sample_frames_integer_ticks_non_integer_fps(spark):
    """Tick->frame mapping is computed from an integer tick counter:
    at 29.97 fps with 333 ms ticks the float-accumulator version
    drifts; floor(k*every_ms*fps/1000) must hold for every k."""
    import numpy as np

    from replay_spark.multimodal import MediaProcessor, encode_ppm

    n, every_ms, fps = 90, 333, 29.97
    frames = [
        encode_ppm(np.full((2, 2), j % 251, dtype=np.uint8)) for j in range(n)
    ]
    df = spark.createDataFrame(
        [(1, bytearray(b"".join(frames)))], "media_id long, payload binary"
    )
    out = (
        MediaProcessor()
        .sample_frames(df, every_ms=every_ms, fps=fps)
        .orderBy("t_ms")
        .collect()
    )
    expect = []
    seen = set()
    for k in range(10**6):
        idx = int(k * every_ms * fps / 1000.0 + 1e-9)
        if idx >= n:
            break
        if idx not in seen:
            seen.add(idx)
            expect.append((idx, k * every_ms))
    assert [(r.frame_index, r.t_ms) for r in out] == expect


def test_sample_frames_null_payload_raises(spark):
    from replay_spark.multimodal import MediaProcessor

    df = spark.createDataFrame(
        [(1, None)], "media_id long, payload binary"
    )
    with pytest.raises(Exception, match="null video payload"):
        MediaProcessor().sample_frames(df, every_ms=100).collect()


def test_container_adapter_seam(spark):
    """Pins the MP4/WebM adapter contract: a fake 'container' format
    (length-prefixed frame blobs) is wired in ONLY via the
    ``splitter=`` hook, and the whole sample -> decode -> feature
    pipeline runs unchanged — exactly the integration an
    ffmpeg-backed deployment does first."""
    import struct

    import numpy as np

    from replay_spark.multimodal import (
        MediaProcessor,
        encode_ppm,
        ppm_image_decoder,
    )

    def build_container(frames):
        return b"FAKE" + b"".join(
            struct.pack(">I", len(f)) + f for f in frames
        )

    def fake_container_splitter(payload: bytes):
        if payload[:4] != b"FAKE":
            raise ValueError("not a FAKE container")
        frames, off = [], 4
        while off < len(payload):
            (ln,) = struct.unpack(">I", payload[off : off + 4])
            frames.append(payload[off + 4 : off + 4 + ln])
            off += 4 + ln
        return frames

    frames = [
        encode_ppm(np.full((3, 3), 40 * j, dtype=np.uint8)) for j in range(5)
    ]
    df = spark.createDataFrame(
        [(1, bytearray(build_container(frames)))],
        "media_id long, payload binary",
    )
    proc = MediaProcessor(splitter=fake_container_splitter)
    sampled = proc.sample_frames(df, every_ms=500, fps=4.0)  # idx 0, 2, 4
    decoded = MediaProcessor(decoder=ppm_image_decoder).transform(
        sampled, passthrough=("frame_index",)
    )
    rows = decoded.orderBy("frame_index").collect()
    assert [r.frame_index for r in rows] == [0, 2, 4]
    assert all(r.width == 3 and r.height == 3 for r in rows)
    # frame 4 is constant 160 -> histogram bin 10
    assert rows[2].features[10] == 1.0
    # the default (netpbm) splitter rejects the container payload
    with pytest.raises(Exception, match="netpbm|PPM"):
        MediaProcessor().sample_frames(df, every_ms=500).collect()


def test_quality_filter_pipeline(spark):
    from replay_spark.preprocessing.text import QualityFilterPipeline

    df = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog again today ok"),
            (1, "short"),
            (2, "num num num num num num num num num num num num"),  # repeats
            (3, "call 1234567890 1234567890 1234567890 33445 5544 11 22 33"),
        ],
        "doc_id long, text string",
    )
    pipe = QualityFilterPipeline(min_tokens=6)
    out = {r["doc_id"]: r for r in pipe.transform(df).collect()}
    assert out[0]["keep"] and out[0]["drop_reasons"] == []
    assert not out[1]["keep"] and "too_short" in out[1]["drop_reasons"]
    assert not out[2]["keep"] and "repeated_words" in out[2]["drop_reasons"]
    assert not out[3]["keep"] and "high_digit" in out[3]["drop_reasons"]
    kept = pipe.filter(df)
    assert [r["doc_id"] for r in kept.collect()] == [0]
    assert kept.columns == ["doc_id", "text"]


def test_paragraph_dedup_keep_first(spark):
    from replay_spark.preprocessing.dedup import ParagraphDeduplicator

    B = "subscribe to our newsletter"
    df = spark.createDataFrame(
        [
            (1, f"alpha one\n\n{B}\n\nbeta two"),
            (2, f"{B}\n\ngamma three"),
            (3, f"delta four\n\n{B}"),
            (4, "unique only"),
            (5, f"{B}"),
        ],
        "doc_id long, text string",
    )
    dd = ParagraphDeduplicator(max_occurrences=1, keep="first")
    out = {r.doc_id: r.text for r in dd.transform(df).collect()}
    # first occurrence = (doc 1, pos 1) keeps the banner; others lose it
    assert out[1] == f"alpha one\n\n{B}\n\nbeta two"
    assert out[2] == "gamma three"
    assert out[3] == "delta four"
    assert out[4] == "unique only"
    assert out[5] == ""  # every paragraph removed -> doc survives empty

    none = ParagraphDeduplicator(max_occurrences=1, keep="none")
    out2 = {r.doc_id: r.text for r in none.transform(df).collect()}
    assert out2[1] == "alpha one\n\nbeta two"
    assert out2[5] == ""

    dups = dd.duplicates(df).collect()
    assert len(dups) == 1
    assert dups[0].paragraph == B and dups[0].occurrences == 4
    assert dups[0].first_doc_id == 1 and dups[0].first_pos == 1


def test_paragraph_dedup_max_occurrences_and_normalize(spark):
    from replay_spark.preprocessing.dedup import ParagraphDeduplicator

    df = spark.createDataFrame(
        [
            (1, "Common  Para\n\nx"),
            (2, "common para\n\ny"),
            (3, "COMMON PARA\n\nz"),
        ],
        "doc_id long, text string",
    )
    # raw: all three 'common para' spellings differ -> nothing removed
    raw = ParagraphDeduplicator(max_occurrences=1, keep="none")
    assert {r.text for r in raw.transform(df).collect()} == {
        "Common  Para\n\nx", "common para\n\ny", "COMMON PARA\n\nz"
    }
    # normalized: they collide; max_occurrences=2 tolerates pairs but
    # not triples
    norm = ParagraphDeduplicator(
        max_occurrences=2, keep="none", normalize=True
    )
    out = {r.doc_id: r.text for r in norm.transform(df).collect()}
    assert out == {1: "x", 2: "y", 3: "z"}

    with pytest.raises(ValueError):
        ParagraphDeduplicator(max_occurrences=0)
    with pytest.raises(ValueError):
        ParagraphDeduplicator(keep="last")


def test_bigram_lm_scorer(spark):
    import math

    from replay_spark.preprocessing.text import BigramLMScorer

    df = spark.createDataFrame(
        [
            (1, "the cat sat"),
            (2, "the cat sat"),
            (3, "sat cat the"),  # same unigrams, reversed order
            (4, "solo"),  # single token -> no transitions
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in BigramLMScorer().score(df).collect()}
    # V=4 (the, cat, sat, solo);
    # model: (the,cat)=2 (cat,sat)=2 (sat,cat)=1 (cat,the)=1
    # contexts: the=2 cat=3 sat=1
    lp = lambda c, cc: math.log((c + 1.0) / (cc + 4.0))
    d1 = (lp(2, 2) + lp(2, 3)) / 2
    d3 = (lp(1, 1) + lp(1, 3)) / 2
    assert out[1].lm_score == pytest.approx(round(d1, 6))
    assert out[2].lm_score == out[1].lm_score
    assert out[3].lm_score == pytest.approx(round(d3, 6))
    # the word-salad doc scores lower than the canonical order
    assert out[3].lm_score < out[1].lm_score
    assert out[1].n_bigrams == 2
    assert out[4].n_bigrams == 0 and out[4].lm_score is None
    assert out[1].perplexity == pytest.approx(round(math.exp(-d1), 4))


def test_bigram_lm_scorer_train_corpus(spark):
    import math

    from replay_spark.preprocessing.text import BigramLMScorer

    train = spark.createDataFrame(
        [(1, "a b a b a b")], "doc_id long, text string"
    )
    test = spark.createDataFrame(
        [(9, "a b"), (10, "b b"), (11, "x y")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r for r in BigramLMScorer().score(test, train_df=train).collect()
    }
    # train model: (a,b)=3 (b,a)=2; contexts a=3 b=2; V=2
    assert out[9].lm_score == pytest.approx(round(math.log(4 / 5), 6))
    assert out[10].lm_score == pytest.approx(round(math.log(1 / 4), 6))
    # unseen context x: (0+1)/(0+2)
    assert out[11].lm_score == pytest.approx(round(math.log(1 / 2), 6))


def test_png_roundtrip_all_filters():
    """REAL PNG codec: zlib + per-row filters, no image libraries.
    Every filter type must round-trip bit-exactly for gray and RGB."""
    import numpy as np

    from replay_spark.multimodal import decode_png, encode_png

    rng = np.random.default_rng(42)
    gray = rng.integers(0, 256, size=(7, 5), dtype=np.uint8)
    rgb = rng.integers(0, 256, size=(6, 9, 3), dtype=np.uint8)
    for ft in range(5):
        g2, ct_g = decode_png(encode_png(gray, filter_type=ft))
        assert ct_g == 0 and np.array_equal(g2, gray), f"gray filter {ft}"
        r2, ct_r = decode_png(encode_png(rgb, filter_type=ft))
        assert ct_r == 2 and np.array_equal(r2, rgb), f"rgb filter {ft}"


def test_png_decoder_features_and_errors(spark):
    import numpy as np
    import pytest as _pytest

    from replay_spark.multimodal import (
        MediaProcessor,
        decode_png,
        encode_png,
        png_image_decoder,
    )

    img = np.full((4, 4), 200, dtype=np.uint8)
    meta = png_image_decoder(encode_png(img))
    assert meta["width"] == 4 and meta["height"] == 4
    assert meta["features"][12] == 1.0  # 200 // 16 == bin 12

    # runs inside the standard mapInPandas pipeline
    df = spark.createDataFrame(
        [(1, bytearray(encode_png(img)))], "media_id long, payload binary"
    )
    row = MediaProcessor(decoder=png_image_decoder).transform(df).first()
    assert row.width == 4 and row.features[12] == 1.0

    with _pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"JFIF not png")
    with _pytest.raises(ValueError, match="not a PNG"):
        decode_png(None)
    # truncated raster
    good = encode_png(img)
    with _pytest.raises(ValueError):
        decode_png(good[:40])


def _psnr(a, b):
    import numpy as np

    mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
    return 99.0 if mse == 0 else 10 * np.log10(255**2 / mse)


def test_jpeg_roundtrip_psnr():
    """REAL baseline JPEG (pure numpy huffman + DCT): lossy, so the
    contract is PSNR floors per content class, not bit equality."""
    import numpy as np

    from replay_spark.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(1)
    x = np.linspace(0, 255, 37)
    y = np.linspace(0, 255, 29)
    rgb = np.clip(
        np.round(
            np.stack(
                [
                    np.add.outer(y, x) / 2,
                    np.tile(x, (29, 1)),
                    np.tile(y[:, None], (1, 37)),
                ],
                -1,
            )
            + rng.normal(0, 2, (29, 37, 3))
        ),
        0,
        255,
    ).astype(np.uint8)
    for sub in ("444", "420"):
        for ri in (0, 3):
            out = decode_jpeg(
                encode_jpeg(rgb, quality=92, subsampling=sub, restart_interval=ri)
            )
            assert out.shape == rgb.shape
            floor = 40.0 if sub == "444" else 35.0
            assert _psnr(rgb, out) > floor, (sub, ri)
    gray = np.clip(np.add.outer(y, x) / 2, 0, 255).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(gray, quality=85, restart_interval=2))
    assert out.shape == gray.shape and _psnr(gray, out) > 45.0


def test_jpeg_solid_identity_all_values():
    """At quality 90 the solid-image round trip is the identity for
    every uint8 value — the invariant the q_jpeg_decode hash gate
    relies on (multi-MCU + restart markers + DC prediction chain)."""
    import numpy as np

    from replay_spark.jpeg import decode_jpeg, encode_jpeg

    for c in range(0, 256, 1):
        img = np.full((16, 16), c, dtype=np.uint8)
        out = decode_jpeg(
            encode_jpeg(img, quality=90, restart_interval=1)
        )
        assert out.shape == (16, 16) and (out == c).all(), c


def test_jpeg_decoder_errors_and_pipeline(spark):
    import numpy as np

    from replay_spark.jpeg import decode_jpeg, encode_jpeg, jpeg_image_decoder
    from replay_spark.multimodal import MediaProcessor

    with pytest.raises(ValueError, match="not a JPEG"):
        decode_jpeg(b"\x89PNG....")
    with pytest.raises(ValueError, match="not a JPEG"):
        decode_jpeg(None)
    with pytest.raises(ValueError):
        encode_jpeg(np.zeros((0, 4), dtype=np.uint8))
    with pytest.raises(ValueError):
        encode_jpeg(np.zeros((4, 4), dtype=np.uint8), quality=0)

    img = np.full((8, 8), 200, dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(encode_jpeg(img)))], "media_id long, payload binary"
    )
    row = MediaProcessor(decoder=jpeg_image_decoder).transform(df).first()
    assert row.width == 8 and row.height == 8
    assert row.features[12] == 1.0


def test_auto_image_decoder_mixed_corpus(spark):
    """One decoder over a mixed netpbm/PNG/JPEG/WAV corpus — the
    magic-byte dispatch every real crawl needs."""
    import numpy as np

    from replay_spark.multimodal import (
        MediaProcessor,
        auto_image_decoder,
        encode_jpeg,
        encode_png,
        encode_ppm,
        encode_wav,
    )

    img = np.full((8, 8), 200, dtype=np.uint8)
    samples = (np.ones(800) * 1000).astype(np.int16)
    rows = [
        (1, bytearray(encode_ppm(img))),
        (2, bytearray(encode_png(img))),
        (3, bytearray(encode_jpeg(img, quality=90))),
        (4, bytearray(encode_wav(samples, sample_rate=8000))),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {
        r.media_id: r
        for r in MediaProcessor(decoder=auto_image_decoder)
        .transform(df)
        .collect()
    }
    for mid in (1, 2, 3):  # all three image codecs agree on the pixels
        assert out[mid].width == 8 and out[mid].features[12] == 1.0
    assert out[4].width == 8000  # WAV: width carries the sample rate

    with pytest.raises(Exception, match="unrecognized media magic"):
        MediaProcessor(decoder=auto_image_decoder).transform(
            spark.createDataFrame(
                [(9, bytearray(b"BM_not_a_codec"))],
                "media_id long, payload binary",
            )
        ).collect()
    # GIF magic IS dispatched now — a corrupt body is a GIF error
    with pytest.raises(Exception, match="truncated GIF"):
        MediaProcessor(decoder=auto_image_decoder).transform(
            spark.createDataFrame(
                [(9, bytearray(b"GIF89a...."))], "media_id long, payload binary"
            )
        ).collect()


def test_bpe_golden_merges(spark):
    """Classic hug/pug corpus: merge order is hand-computable with
    the end-of-word scheme — (p,u), (h,u), (pu,n</w>), (hu,g</w>)."""
    from replay_spark.preprocessing.bpe import BPETokenizer

    text = " ".join(
        ["hug"] * 10 + ["pug"] * 5 + ["pun"] * 12 + ["bun"] * 4 + ["hugs"] * 5
    )
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    bpe = BPETokenizer(num_merges=4).fit(df)
    assert bpe.merges == [
        ("p", "u"),
        ("h", "u"),
        ("pu", "n</w>"),
        ("hu", "g</w>"),
    ]
    out = bpe.transform(
        spark.createDataFrame(
            [(1, "hug pun hugs bun")], "doc_id long, text string"
        )
    ).first()
    assert out.tokens == [
        "hug</w>", "pun</w>", "hu", "g", "s</w>", "b", "u", "n</w>"
    ]
    vocab = {r.token: r.token_id for r in bpe.vocabulary(df).collect()}
    assert sorted(vocab.values()) == list(range(len(vocab)))
    assert "hug</w>" in vocab and "pun</w>" in vocab


def test_bpe_driver_distributed_parity(spark):
    """The distributed merge loop must learn the identical merge list
    as the in-memory path (deterministic tie-breaks both sides)."""
    from replay_spark.preprocessing.bpe import BPETokenizer

    rows = [
        (0, "the cat sat on the mat"),
        (1, "the cats sat on the mats"),
        (2, "a hat and a bat and a mat"),
        (3, "that cat that bat that hat"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    driver = BPETokenizer(num_merges=8).fit(df)
    dist = BPETokenizer(num_merges=8, driver_threshold=0).fit(df)
    assert driver.merges == dist.merges
    assert len(driver.merges) == 8

    t1 = driver.transform(df).orderBy("doc_id").collect()
    t2 = dist.transform(df).orderBy("doc_id").collect()
    assert [r.tokens for r in t1] == [r.tokens for r in t2]

    # the batched rounds must be exact for ANY batch_candidates —
    # K=1 degenerates to one merge per aggregate, large K exercises
    # the disjointness + new-pair-bound stop rules on a random corpus
    import random

    random.seed(13)
    vocab = ["he", "she", "the", "her", "cat", "hat", "that", "bat",
             "mat", "rat", "sat", "on", "an", "and", "band", "sand"]
    rows2 = [
        (i, " ".join(random.choices(vocab, k=12))) for i in range(40)
    ]
    df2 = spark.createDataFrame(rows2, "doc_id long, text string")
    want = BPETokenizer(num_merges=40).fit(df2).merges
    assert len(want) >= 15  # corpus exhausts below 40 — fine
    for k in (1, 4, 256):
        got = BPETokenizer(
            num_merges=40, driver_threshold=0, batch_candidates=k
        ).fit(df2).merges
        assert got == want, f"batch_candidates={k}"


def test_bpe_edge_cases(spark):
    from replay_spark.preprocessing.bpe import BPETokenizer

    df = spark.createDataFrame(
        [(0, "aa aa aa"), (1, "")], "doc_id long, text string"
    )
    # min_pair_count stops early; empty text yields empty tokens
    bpe = BPETokenizer(num_merges=50, min_pair_count=2).fit(df)
    assert len(bpe.merges) >= 1  # ('a', 'a</w>') merges
    out = {r.doc_id: r.tokens for r in bpe.transform(df).collect()}
    assert out[1] == []
    assert out[0] == ["aa</w>"] * 3

    import pytest as _pytest

    with _pytest.raises(ValueError):
        BPETokenizer(num_merges=0)
    with _pytest.raises(ValueError, match="must be fit"):
        BPETokenizer().transform(df)


def test_corpus_stats(spark):
    from replay_spark.preprocessing.text import CorpusStats

    df = spark.createDataFrame(
        [
            (0, "s1", "en", "one two three"),
            (1, "s1", "en", "four five"),
            (2, "s1", "en", "six"),
            (3, "s2", "de", "ein zwei drei vier"),
            (4, "s2", "en", ""),
        ],
        "doc_id long, source string, lang string, text string",
    )
    out = {
        (r.source, r.lang): r for r in CorpusStats().transform(df).collect()
    }
    r = out[("s1", "en")]
    assert r.num_docs == 3 and r.total_tokens == 6
    assert r.min_tokens == 1 and r.max_tokens == 3
    assert r.median_tokens == 2  # odd group -> exact middle element
    assert out[("s2", "de")].total_tokens == 4
    assert out[("s2", "en")].total_tokens == 0 and out[("s2", "en")].min_tokens == 0


def test_pq_ann_recall_and_shape(spark):
    """PQANN: planted near-neighbors must surface at rank 1 through
    the ADC shortlist + exact re-rank; output shape matches
    BruteForceANN."""
    import numpy as np

    from replay_spark.ann import BruteForceANN, PQANN

    rng = np.random.default_rng(5)
    rows, planted = [], []
    vid = 0
    for _ in range(150):
        rows.append((vid, [float(x) for x in rng.normal(size=16)]))
        vid += 1
    for _ in range(15):
        v = rng.normal(size=16)
        w = v + rng.normal(scale=0.02, size=16)
        rows.append((vid, [float(x) for x in v]))
        rows.append((vid + 1, [float(x) for x in w]))
        planted.append((vid, vid + 1))
        vid += 2
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    ann = PQANN(dim=16, m=4, ksub=32, refine=4, seed=7).fit(df)
    qids = [a for a, _ in planted]
    res = ann.search(df.filter(F.col("vec_id").isin(qids)), k=3)
    top1 = {r.query_id: r.neighbor_id for r in res.filter("rank = 1").collect()}
    hits = sum(1 for a, b in planted if top1.get(a) == b)
    assert hits / len(planted) >= 0.8, f"PQ top-1 recall {hits}/{len(planted)}"
    # re-ranked cosines are EXACT (match brute force values)
    bf = BruteForceANN().search(
        df.filter(F.col("vec_id") == qids[0]), df, k=3
    )
    bf_top = bf.filter("rank = 1").first()
    pq_top = res.filter(F.col("query_id") == qids[0]).filter("rank = 1").first()
    if bf_top.neighbor_id == pq_top.neighbor_id:
        # PQ re-rank emits the stable-rounded (6 dp) cosine
        assert pq_top.cosine == pytest.approx(bf_top.cosine, abs=5.1e-7)

    with pytest.raises(ValueError):
        PQANN(dim=16, m=5)
    with pytest.raises(ValueError, match="must be fit"):
        PQANN(dim=16, m=4).search(df, k=2)


def test_ivfpq_ann_recall(spark):
    """IVF-PQ: residual product codes behind coarse-cell pruning must
    still surface planted near-neighbors at rank 1."""
    import numpy as np

    from replay_spark.ann import IVFPQANN

    rng = np.random.default_rng(9)
    rows, planted = [], []
    vid = 0
    for _ in range(200):
        rows.append((vid, [float(x) for x in rng.normal(size=16)]))
        vid += 1
    for _ in range(15):
        v = rng.normal(size=16)
        w = v + rng.normal(scale=0.02, size=16)
        rows.append((vid, [float(x) for x in v]))
        rows.append((vid + 1, [float(x) for x in w]))
        planted.append((vid, vid + 1))
        vid += 2
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    ann = IVFPQANN(
        dim=16, num_cells=8, nprobe=3, m=4, ksub=32, refine=4, seed=11
    ).fit(df)
    res = ann.search(
        df.filter(F.col("vec_id").isin([a for a, _ in planted])), k=3
    )
    top1 = {r.query_id: r.neighbor_id for r in res.filter("rank = 1").collect()}
    hits = sum(1 for a, b in planted if top1.get(a) == b)
    assert hits / len(planted) >= 0.8, f"IVF-PQ top-1 recall {hits}/{len(planted)}"
    # pruning really happened: no query shipped more LUT rows than nprobe
    with pytest.raises(ValueError):
        IVFPQANN(dim=16, num_cells=4, nprobe=5)
    with pytest.raises(ValueError):
        IVFPQANN(dim=16, ksub=1)
    with pytest.raises(ValueError, match="must be fit"):
        IVFPQANN(dim=16).search(df, k=2)


def test_image_perceptual_dedup(spark):
    """pHash near-dup detection across CODECS: the same picture
    saved as PGM, PNG, and JPEG must collide (tiny Hamming distance),
    small edits stay close, different pictures stay far."""
    import numpy as np

    from replay_spark.multimodal import (
        ImagePerceptualDeduplicator,
        encode_jpeg,
        encode_png,
        encode_ppm,
        perceptual_hash,
    )

    rng = np.random.default_rng(3)
    x = np.linspace(0, 255, 64)
    picture = np.clip(
        np.add.outer(np.sin(x / 20) * 120 + 128, np.cos(x / 13) * 60) / 2
        + np.tile(x / 2, (64, 1)),
        0,
        255,
    ).astype(np.uint8)
    other = rng.integers(0, 256, (64, 64), dtype=np.uint8)
    edited = picture.copy()
    edited[:6, :6] = 0  # small local edit

    h_pgm = perceptual_hash(encode_ppm(picture))
    h_png = perceptual_hash(encode_png(picture))
    h_jpg = perceptual_hash(encode_jpeg(picture, quality=90))
    h_other = perceptual_hash(encode_ppm(other))
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(h_pgm, h_png) == 0  # lossless codecs: identical pixels
    assert ham(h_pgm, h_jpg) <= 4  # lossy re-encode stays near
    assert ham(h_pgm, h_other) > 16  # different picture far away

    rows = [
        (1, bytearray(encode_ppm(picture))),
        (2, bytearray(encode_png(picture))),
        (3, bytearray(encode_jpeg(picture, quality=90))),
        (4, bytearray(encode_ppm(other))),
        (5, bytearray(encode_ppm(edited))),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    dd = ImagePerceptualDeduplicator(max_hamming=8, num_bands=9)
    pairs = {(r.id_a, r.id_b) for r in dd.candidate_pairs(df).collect()}
    assert (1, 2) in pairs and (1, 3) in pairs
    assert not any(4 in p for p in pairs)
    kept = {r.media_id for r in dd.transform(df).collect()}
    assert 1 in kept and 4 in kept and 2 not in kept and 3 not in kept

    with pytest.raises(ValueError):
        ImagePerceptualDeduplicator(max_hamming=9, num_bands=9)


def _build_minimal_mp4(duration_ms=2500, timescale=1000, codec=b"avc1"):
    """Handcraft a tiny but spec-valid ISO-BMFF payload: ftyp +
    moov(mvhd, trak(mdia(mdhd, hdlr, minf(stbl(stsd)))))."""
    import struct

    def box(btype, payload):
        return struct.pack(">I", len(payload) + 8) + btype + payload

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomavc1")
    mvhd = box(
        b"mvhd",
        b"\x00\x00\x00\x00"  # version 0 + flags
        + struct.pack(">II", 0, 0)  # creation, modification
        + struct.pack(">II", timescale, duration_ms * timescale // 1000)
        + b"\x00" * 80,
    )
    mdhd = box(
        b"mdhd",
        b"\x00\x00\x00\x00"
        + struct.pack(">II", 0, 0)
        + struct.pack(">II", 90000, 90000 * duration_ms // 1000)
        + b"\x00\x00\x00\x00",
    )
    hdlr = box(
        b"hdlr", b"\x00\x00\x00\x00" + b"\x00" * 4 + b"vide" + b"\x00" * 14
    )
    sample_entry = box(codec, b"\x00" * 78)
    stsd = box(b"stsd", b"\x00\x00\x00\x00" + struct.pack(">I", 1) + sample_entry)
    stbl = box(b"stbl", stsd)
    minf = box(b"minf", stbl)
    mdia = box(b"mdia", mdhd + hdlr + minf)
    trak = box(b"trak", mdia)
    moov = box(b"moov", mvhd + trak)
    return ftyp + moov


def test_build_mp4_container_roundtrip():
    """Library-side container builder <-> parser roundtrip, including
    the spec's integer duration truncation at awkward timescales."""
    from replay_spark.multimodal import build_mp4_container, parse_mp4_metadata

    for ms, ts, codec in ((2500, 1000, "avc1"), (1234, 700, "hvc1"),
                          (59999, 900, "mp4a"), (0, 600, "avc1")):
        meta = parse_mp4_metadata(build_mp4_container(ms, ts, codec))
        assert meta["brand"] == "isom"
        assert meta["duration_ms"] == (ms * ts // 1000) * 1000 // ts
        assert len(meta["tracks"]) == 1
        assert meta["tracks"][0]["codec"] == codec
        assert meta["tracks"][0]["timescale"] == ts
    import pytest as _pytest

    with _pytest.raises(ValueError):
        build_mp4_container(-1)
    with _pytest.raises(ValueError):
        build_mp4_container(100, timescale=0)


def test_mp4_metadata_parser(spark):
    from replay_spark.multimodal import mp4_metadata, parse_mp4_metadata

    payload = _build_minimal_mp4(duration_ms=2500, codec=b"avc1")
    meta = parse_mp4_metadata(payload)
    assert meta["brand"] == "isom"
    assert meta["duration_ms"] == 2500
    assert len(meta["tracks"]) == 1
    t = meta["tracks"][0]
    assert t["handler"] == "vide" and t["codec"] == "avc1"
    assert t["timescale"] == 90000 and t["duration_ms"] == 2500

    df = spark.createDataFrame(
        [
            (1, bytearray(_build_minimal_mp4(1000, codec=b"avc1"))),
            (2, bytearray(_build_minimal_mp4(64000, codec=b"hvc1"))),
        ],
        "media_id long, payload binary",
    )
    out = {r.media_id: r for r in mp4_metadata(df).collect()}
    assert out[1].duration_ms == 1000 and out[1].codecs == ["avc1"]
    assert out[2].duration_ms == 64000 and out[2].codecs == ["hvc1"]
    assert out[1].brand == "isom" and out[1].num_tracks == 1

    with pytest.raises(ValueError, match="ISO-BMFF"):
        parse_mp4_metadata(b"not a video at all....")
    with pytest.raises(ValueError):
        parse_mp4_metadata(None)


def test_mp4_media_sample_roundtrip():
    """build_mp4_media ∘ split_mp4_samples is identity for every
    chunking/size shape: variable sizes (per-sample stsz),
    uniform sizes (stsz fast path), explicit chunk plans with
    multiple stsc runs, single sample, and the MediaProcessor
    splitter= contract over the container."""
    from replay_spark.multimodal import (
        build_mp4_media,
        parse_mp4_metadata,
        split_mp4_samples,
    )

    varied = [b"hello", b"wor", b"ldxxray", b"a", b"bb", b"ccc", b"dddd"]
    payload = build_mp4_media(varied, timescale=1000, sample_delta=40)
    assert split_mp4_samples(payload) == varied
    # the mdat layout still parses as valid metadata
    meta = parse_mp4_metadata(payload)
    assert meta["duration_ms"] == 7 * 40
    assert meta["tracks"][0]["codec"] == "avc1"

    # uniform stsz fast path + explicit chunk plan (two stsc runs)
    uni = [b"abcd"] * 6
    assert split_mp4_samples(
        build_mp4_media(uni, chunk_sizes=[1, 1, 2, 2])) == uni
    assert split_mp4_samples(build_mp4_media([b"z"])) == [b"z"]

    with pytest.raises(ValueError, match="partition"):
        build_mp4_media(varied, chunk_sizes=[1, 1])
    with pytest.raises(ValueError, match="ISO-BMFF"):
        split_mp4_samples(b"nope" * 4)
    # metadata-only container (no stbl sample tables) is rejected
    with pytest.raises(ValueError, match="sample table"):
        split_mp4_samples(_build_minimal_mp4())


def test_webm_media_frame_roundtrip():
    """build_webm_media ∘ split_webm_frames is identity across
    cluster boundaries, empty frames, >16 KiB frames (multi-byte
    EBML sizes), and the metadata parser still reads the container;
    laced blocks and non-EBML payloads are rejected."""
    from replay_spark.multimodal import (
        build_webm_media,
        parse_webm_metadata,
        split_webm_frames,
    )

    frames = [b"aaa", b"bb", b"c" * 300, b"", b"ddddd", b"e", b"ff"]
    payload = build_webm_media(frames, frame_duration_ms=40)
    assert split_webm_frames(payload) == frames
    meta = parse_webm_metadata(payload)
    assert meta["duration_ms"] == 7 * 40
    assert meta["tracks"][0]["codec"] == "V_VP9"
    assert meta["doctype"] == "webm"

    big = [bytes([i % 256]) * 20000 for i in range(5)]
    assert split_webm_frames(build_webm_media(big)) == big
    assert split_webm_frames(
        build_webm_media([b"x"], frames_per_cluster=1)) == [b"x"]
    # a frame-less container still parses to zero frames
    assert split_webm_frames(build_webm_media([])) == []

    with pytest.raises(ValueError, match="EBML"):
        split_webm_frames(b"RIFF not ebml at all")
    # hand-craft a laced SimpleBlock: flags 0x02 (Xiph lacing)
    laced = bytearray(build_webm_media([b"zz"]))
    idx = laced.rfind(b"\x81\x00\x00\x80zz")
    laced[idx + 3] = 0x82
    with pytest.raises(ValueError, match="laced"):
        split_webm_frames(bytes(laced))
    with pytest.raises(ValueError, match=">= 1"):
        build_webm_media([b"x"], frame_duration_ms=0)


def test_jpeg_progressive_roundtrip():
    """Spectral-selection progressive (SOF2): multi-scan encode must
    decode to bit-identical pixels vs the baseline encoding of the
    same image (same coefficients, different scan order) — including
    4:2:0 and the w%16 in 1..8 grid-mismatch edge. (SA refinement
    is also supported — covered by its own roundtrip test below.)"""
    import numpy as np

    from replay_spark.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(13)
    x = np.linspace(0, 255, 37)
    y = np.linspace(0, 255, 29)
    rgb = np.clip(
        np.round(
            np.stack(
                [np.add.outer(y, x) / 2, np.tile(x, (29, 1)),
                 np.tile(y[:, None], (1, 37))], -1
            ) + rng.normal(0, 2, (29, 37, 3))
        ), 0, 255
    ).astype(np.uint8)
    gray = np.clip(np.add.outer(y, x) / 2, 0, 255).astype(np.uint8)

    for img, kw in (
        (gray, {}),
        (rgb, {}),
        (rgb, {"subsampling": "420"}),
        (rgb[:, :17, :], {"subsampling": "420"}),  # ceil-grid edge
    ):
        base = decode_jpeg(encode_jpeg(img, quality=92, **kw))
        prog = decode_jpeg(
            encode_jpeg(img, quality=92, progressive=True, **kw)
        )
        assert np.array_equal(base, prog), kw
    # the progressive payload really is SOF2
    payload = encode_jpeg(gray, quality=92, progressive=True)
    assert b"\xff\xc2" in payload and b"\xff\xc0" not in payload

    with pytest.raises(ValueError, match="restart markers unsupported"):
        encode_jpeg(gray, progressive=True, restart_interval=2)


def test_jpeg_noninterleaved_dc_roundtrip():
    """Progressive files whose DC scans are per-component
    (non-interleaved, the shape some foreign encoders emit): with
    4:2:0 sampling the luma DC scan walks the component's OWN
    ceil(sample/8) grid — the MCU-padded walk would decode extra
    padding blocks and desync. Also: spec-legal 0xFF fill bytes
    before a marker must be skipped, not parsed as a marker id."""
    import numpy as np

    from replay_spark.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(47)
    # w=53: ceil(53/8)=7 luma blocks per row vs MCU walk 4*2=8 —
    # grid mismatch guaranteed; h=41 mismatches vertically too
    rgb = rng.integers(0, 256, (41, 53, 3), dtype=np.uint8)
    for sub in ("444", "420"):
        base = decode_jpeg(encode_jpeg(rgb, quality=85, subsampling=sub))
        nidc = decode_jpeg(
            encode_jpeg(rgb, quality=85, subsampling=sub,
                        progressive="nidc")
        )
        assert np.array_equal(base, nidc), sub
    gray = rng.integers(0, 256, (17, 19), dtype=np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(gray, quality=85)),
        decode_jpeg(encode_jpeg(gray, quality=85, progressive="nidc")),
    )
    # 0xFF fill-byte padding before a tables segment (B.1.1.2)
    payload = bytearray(encode_jpeg(gray, quality=85))
    dqt = payload.index(b"\xff\xdb")
    padded = bytes(payload[:dqt]) + b"\xff\xff\xff" + bytes(payload[dqt:])
    assert np.array_equal(decode_jpeg(padded), decode_jpeg(bytes(payload)))


def test_jpeg_successive_approximation_roundtrip():
    """Full successive-approximation progressive (the libjpeg default
    script family): DC point transform + refinement bit, AC first
    scans at Al=1, AC refinement with buffered correction bits,
    multi-block EOBRUN batching, ZRL-with-corrections, and custom
    (uniform) DHT redefinition mid-stream. Every configuration must
    decode bit-identical to the baseline encoding (same
    coefficients)."""
    import numpy as np

    from replay_spark.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(31)
    x = np.linspace(0, 255, 53)
    y = np.linspace(0, 255, 41)
    rgb = np.clip(
        np.round(
            np.stack(
                [np.add.outer(y, x) / 2, np.tile(x, (41, 1)),
                 np.tile(y[:, None], (1, 53))], -1
            ) + rng.normal(0, 2, (41, 53, 3))
        ), 0, 255
    ).astype(np.uint8)
    gray = np.clip(
        np.add.outer(y, x) / 2 + rng.normal(0, 8, (41, 53)), 0, 255
    ).astype(np.uint8)
    smooth = np.clip(
        np.add.outer(np.linspace(100, 110, 48), np.linspace(0, 9, 56)),
        0, 255,
    ).astype(np.uint8)  # long EOB runs at low quality
    noise = rng.integers(0, 256, (24, 24), dtype=np.uint8)
    for img, q, kw in (
        (gray, 88, {}),
        (noise, 50, {}),
        (smooth, 30, {}),
        (rgb, 88, {}),
        (rgb, 88, {"subsampling": "420"}),
        (rgb[:, :17, :], 88, {"subsampling": "420"}),
    ):
        base = decode_jpeg(encode_jpeg(img, quality=q, **kw))
        sa = decode_jpeg(
            encode_jpeg(img, quality=q, progressive="sa", **kw)
        )
        assert np.array_equal(base, sa), (q, kw)


def test_gif_roundtrip_lossless():
    """REAL GIF codec: encode->decode is bit-lossless for <=256-color
    frames — grayscale, RGB, interlaced, single-color, 256-color
    worst case, and 1-pixel edge."""
    import numpy as np

    from replay_spark.gif import decode_gif, encode_gif

    rng = np.random.default_rng(23)
    gray = rng.integers(0, 256, (21, 33), dtype=np.uint8)
    rgb_palette = rng.integers(0, 256, (100, 3), dtype=np.uint8)
    rgb = rgb_palette[rng.integers(0, 100, (17, 29))]
    full256 = np.arange(256, dtype=np.uint8).reshape(16, 16)
    solid = np.full((9, 9), 77, dtype=np.uint8)
    one = np.array([[3]], dtype=np.uint8)
    for img in (gray, rgb, full256, solid, one):
        want = (
            np.stack([img] * 3, axis=-1) if img.ndim == 2 else img
        )
        for interlace in (False, True):
            got = decode_gif(encode_gif(img, interlace=interlace))
            assert np.array_equal(got, want), (img.shape, interlace)


def test_gif_animation_and_container_semantics():
    """Multi-frame composition: disposal modes, transparency, delays,
    the canonical 43-byte 1x1 tracking pixel, and error paths."""
    import numpy as np
    import pytest

    from replay_spark.gif import (
        decode_gif,
        decode_gif_frames,
        encode_gif,
        split_gif_frames,
    )
    from replay_spark.multimodal import decode_ppm

    rng = np.random.default_rng(5)
    frames = [rng.integers(0, 8, (6, 7), dtype=np.uint8) * 30
              for _ in range(4)]
    payload = encode_gif(frames, delays_ms=[40, 50, 60, 70])
    got, delays = decode_gif_frames(payload)
    assert delays == [40, 50, 60, 70]
    assert len(got) == 4
    for f, g in zip(frames, got):
        assert np.array_equal(g, np.stack([f] * 3, axis=-1))

    # splitter contract: composed frames as netpbm payloads
    parts = split_gif_frames(payload)
    assert len(parts) == 4
    img, _ = decode_ppm(parts[2])
    assert np.array_equal(img, np.stack([frames[2]] * 3, axis=-1))

    # canonical public 1x1 transparent pixel (GCT bg white,
    # transparent index 0): canvas stays background white
    px = bytes.fromhex(
        "474946383961010001008000"
        "00ffffff000000"
        "21f90401000000"
        "00"
        "2c000000000100010000"
        "0202"
        "4401"
        "003b"
    )
    assert decode_gif(px).tolist() == [[[255, 255, 255]]]

    # 300 distinct colors must refuse (GIF palette caps at 256)
    i = np.arange(300, dtype=np.int32)
    too_rich = np.stack(
        [i % 256, i // 256, np.zeros_like(i)], axis=-1
    ).astype(np.uint8).reshape(10, 30, 3)
    with pytest.raises(ValueError):
        encode_gif(too_rich)
    with pytest.raises(ValueError):
        decode_gif(b"NOTGIF" + b"\x00" * 20)
    with pytest.raises(ValueError):
        decode_gif(encode_gif(np.zeros((3, 3), np.uint8))[:-10] + b"")


def test_gif_video_sampling_pipeline(spark):
    """GIF as a REAL animated container in the Spark video path:
    MediaProcessor(splitter=split_gif_frames) tick-samples composed
    frames of a compressed animation — no ffmpeg anywhere."""
    import numpy as np

    from replay_spark.multimodal import (
        MediaProcessor,
        auto_image_decoder,
        decode_ppm,
        encode_gif,
        split_gif_frames,
    )

    frames = [np.full((4, 5), 10 * j, dtype=np.uint8) for j in range(6)]
    payload = encode_gif(frames, delays_ms=[100] * 6)
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "media_id long, payload binary"
    )
    out = (
        MediaProcessor(splitter=split_gif_frames)
        .sample_frames(df, every_ms=250, fps=10.0)
        .orderBy("frame_index")
        .collect()
    )
    assert [(r.frame_index, r.t_ms) for r in out] == [
        (0, 0), (2, 250), (5, 500)
    ]
    img, _ = decode_ppm(bytes(out[1].payload))
    assert int(img[0, 0, 0]) == 20

    # magic dispatch routes GIF payloads to the real decoder
    meta = auto_image_decoder(payload)
    assert (meta["width"], meta["height"]) == (5, 4)


def test_semantic_deduplicator(spark):
    """SemDeDup semantics: the quadratic check is CLUSTER-SCOPED —
    a near-duplicate pair split across clusters survives; within a
    cluster the earliest id wins; auto-scaled cluster count and the
    kmeans path produce a sane survivor set."""
    import numpy as np

    from replay_spark.preprocessing.dedup import SemanticDeduplicator

    # two orthogonal anchor directions; ids 0/1 near e0, 2/3 near e1,
    # 4 = exact double of 0 (cosine 1.0), 5 isolated diagonal
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.001, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.001, 0.999, 0.0, 0.0]),
        (4, [2.0, 0.0, 0.0, 0.0]),
        (5, [0.5, 0.5, 0.5, 0.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    dd = SemanticDeduplicator(threshold=0.95)
    flags = {
        r.vec_id: (r.cluster, r.kept)
        for r in dd.flags(df, centroids=cents).collect()
    }
    # cluster 0: {0, 1, 4, 5¹}; 1 and 4 dominated by 0
    assert flags[0] == (0, True)
    assert flags[1][1] is False
    assert flags[4][1] is False
    # cluster 1: {2, 3}; 3 dominated by 2
    assert flags[2] == (1, True)
    assert flags[3][1] is False
    # the diagonal vector lands in ONE cluster (tie -> cluster 0)
    # and is below threshold to everything there
    assert flags[5] == (0, True)

    out = sorted(
        r.vec_id for r in dd.transform(df, centroids=cents).collect()
    )
    assert out == [0, 2, 5]

    # kmeans path (no centroids): survivors still drop the exact dup
    survivors = sorted(
        r.vec_id
        for r in SemanticDeduplicator(
            threshold=0.999, num_clusters=2
        ).transform(df).collect()
    )
    assert 4 not in survivors and 0 in survivors

    with pytest.raises(ValueError):
        SemanticDeduplicator(threshold=0.0)


def test_substring_deduplicator(spark):
    """Exact duplicated-span removal vs a brute-force in-memory
    oracle: duplicated k-token windows removed everywhere but the
    global-first occurrence, overlapping windows merged via
    coverage, untouched docs byte-identical, keep='none' kills every
    occurrence."""
    import random

    from replay_spark.preprocessing.dedup import SubstringDeduplicator

    random.seed(11)
    vocab = [f"w{i}" for i in range(30)]
    span = "alpha beta gamma delta epsilon".split()
    docs = []
    for d in range(12):
        words = random.choices(vocab, k=random.randint(6, 25))
        if d % 3 == 0:  # plant the duplicated span (also in-doc twice)
            at = random.randint(0, len(words))
            words = words[:at] + span + words[at:]
            if d == 6:
                words += span
        docs.append((d, " ".join(words)))
    docs.append((99, "tiny doc"))  # shorter than k — must pass through

    k = 5

    def oracle(rows):
        toks = {d: t.split() for d, t in rows}
        occs = {}
        for d, tk in sorted(toks.items()):
            for i in range(len(tk) - k + 1):
                occs.setdefault(tuple(tk[i : i + k]), []).append((d, i))
        removed = {}
        for key, lst in occs.items():
            if len(lst) > 1:
                for d, i in sorted(lst)[1:]:
                    removed.setdefault(d, []).append(i)
        out = {}
        for d, tk in toks.items():
            cov = [False] * len(tk)
            for i in removed.get(d, ()):
                for j in range(i, i + k):
                    cov[j] = True
            out[d] = (
                " ".join(t for t, c in zip(tk, cov) if not c)
                if d in removed
                else dict(rows)[d]
            )
        return out

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: r.text
        for r in SubstringDeduplicator(min_length=k).transform(df).collect()
    }
    assert got == oracle(docs)
    # md5 and xxhash64 key spaces must produce identical results
    got_md5 = {
        r.doc_id: r.text
        for r in SubstringDeduplicator(min_length=k, hash_fn="md5")
        .transform(df)
        .collect()
    }
    assert got_md5 == got
    # at least one doc changed and one planted span survived somewhere
    assert any(got[d] != t for d, t in docs)
    assert any(" ".join(span) in got[d] for d, _ in docs)

    # keep="none": no occurrence of the span survives anywhere
    got_none = {
        r.doc_id: r.text
        for r in SubstringDeduplicator(min_length=k, keep="none")
        .transform(df)
        .collect()
    }
    assert all(" ".join(span) not in t for t in got_none.values())

    import pytest as _pytest

    with _pytest.raises(ValueError):
        SubstringDeduplicator(min_length=1)
    with _pytest.raises(ValueError):
        SubstringDeduplicator(keep="last")


def test_hnsw_ann_recall_and_shape(spark):
    """Driver-built HNSW graph, executor-side search: planted
    near-exact neighbors must come back top-1, the output shape
    matches the other ANN classes, recall vs BruteForceANN is high
    on random data, and the driver bound raises."""
    import numpy as np

    from replay_spark.ann import BruteForceANN, HNSWANN

    rng = np.random.default_rng(17)
    base = rng.normal(size=(400, 16))
    planted = [(1000 + i, int(i * 13 % 400)) for i in range(20)]
    rows = [(i, base[i].tolist()) for i in range(400)]
    for qid, tgt in planted:
        rows.append((qid, (base[tgt] + rng.normal(0, 1e-3, 16)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    ann = HNSWANN(M=8, ef_construction=64, ef_search=48, seed=3).fit(df)
    qids = [q for q, _ in planted]
    res = ann.search(df.filter(F.col("vec_id").isin(qids)), k=3)
    assert res.columns == ["query_id", "neighbor_id", "cosine", "rank"]
    top1 = {r.query_id: r.neighbor_id for r in res.filter("rank = 1").collect()}
    hits = sum(1 for q, t in planted if top1.get(q) == t)
    assert hits >= 18, f"HNSW planted top-1 recall {hits}/20"

    # recall@5 vs exact brute force on plain corpus queries
    sample_q = df.filter("vec_id < 10")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in BruteForceANN().search(sample_q, df, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ann.search(sample_q, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.85, f"HNSW recall@5 {recall}"

    with pytest.raises(ValueError, match="max_elements"):
        HNSWANN(max_elements=10).fit(df)
    with pytest.raises(ValueError):
        HNSWANN(M=1)


def test_webm_metadata_parser(spark):
    """EBML/Matroska container triage: builder <-> parser roundtrip
    (varint ids/sizes, float64 duration in timecode units,
    non-default timescale), the Spark mapInPandas op, and error
    paths."""
    from replay_spark.multimodal import (
        build_webm_container,
        parse_webm_metadata,
        webm_metadata,
    )

    for ms, codec, tt in ((2500, "V_VP9", 1), (61234, "A_OPUS", 2),
                          (0, "V_AV1", 1)):
        meta = parse_webm_metadata(
            build_webm_container(ms, codec=codec, track_type=tt)
        )
        assert meta["doctype"] == "webm"
        assert meta["duration_ms"] == ms
        assert meta["tracks"] == [
            {"type": tt, "codec": codec, "number": 1}
        ]
    # non-default timescale (100 µs units)
    assert parse_webm_metadata(
        build_webm_container(1234, timescale_ns=100_000)
    )["duration_ms"] == 1234

    df = spark.createDataFrame(
        [
            (1, bytearray(build_webm_container(1000, codec="V_VP9"))),
            (2, bytearray(build_webm_container(64000, codec="V_AV1"))),
        ],
        "media_id long, payload binary",
    )
    out = {r.media_id: r for r in webm_metadata(df).collect()}
    assert out[1].duration_ms == 1000 and out[1].codecs == ["V_VP9"]
    assert out[2].duration_ms == 64000 and out[2].doctype == "webm"

    with pytest.raises(ValueError):
        parse_webm_metadata(b"not ebml at all")
    with pytest.raises(ValueError):
        build_webm_container(-1)


def test_corpus_mixer_temperature(spark):
    """alpha-sampling mixture planning: alpha=1 reproduces natural
    proportions, small alpha flattens toward uniform (rare strata
    upweighted), fractions cap at 1.0, and the planned mix feeds
    transform."""
    from replay_spark.preprocessing.text import CorpusMixer

    rows = (
        [(i, "big") for i in range(900)]
        + [(1000 + i, "mid") for i in range(90)]
        + [(2000 + i, "rare") for i in range(10)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")

    nat = CorpusMixer.plan_temperature_fractions(df, "source", 100, alpha=1.0)
    # natural: fractions equal across strata (prop_s * N / n_s = N/total)
    assert abs(nat["big"] - 0.1) < 1e-9 and abs(nat["rare"] - 0.1) < 1e-9

    flat = CorpusMixer.plan_temperature_fractions(df, "source", 100, alpha=0.3)
    # alpha < 1 upweights rare strata: its fraction must exceed big's
    assert flat["rare"] > flat["big"]
    assert flat["rare"] <= 1.0

    out = CorpusMixer(
        stratum_column="source", fractions=flat, seed=7
    ).transform(df)
    got = {r["source"]: r["count"] for r in out.groupBy("source").count().collect()}
    # rare stratum over-represented vs its natural 1% share
    assert got.get("rare", 0) >= 3

    import pytest as _pytest

    with _pytest.raises(ValueError):
        CorpusMixer.plan_temperature_fractions(df, "source", 100, alpha=0.0)


def test_quality_classifier(spark):
    """Model-based quality filter: a separable synthetic corpus (two
    disjoint vocabularies) must classify near-perfectly; the filter
    keeps reference-like docs; scoring path is pure JVM columns."""
    import random

    from replay_spark.preprocessing.text import QualityClassifier

    random.seed(5)
    good_vocab = [f"good{i}" for i in range(40)]
    bad_vocab = [f"spam{i}" for i in range(40)]
    rows = []
    for i in range(120):
        v = good_vocab if i % 2 == 0 else bad_vocab
        rows.append(
            (i, " ".join(random.choices(v, k=12)), float(i % 2 == 0))
        )
    df = spark.createDataFrame(rows, "doc_id long, text string, label double")

    clf = QualityClassifier(num_features=4096, max_iter=25).fit(df)
    out = clf.transform(df)
    assert {"quality_prob", "quality_pred"} <= set(out.columns)
    acc = out.filter(
        (F.col("quality_pred") == 1) == (F.col("label") == 1.0)
    ).count() / 120
    assert acc >= 0.95, acc

    kept = clf.filter(df.drop("label"), threshold=0.5)
    assert kept.columns == ["doc_id", "text"]
    kept_ids = {r.doc_id for r in kept.collect()}
    assert all(i % 2 == 0 for i in kept_ids)
    assert len(kept_ids) >= 55

    # fit_reference construction
    pos = df.filter("label = 1.0").select("text")
    neg = df.filter("label = 0.0").select("text")
    clf2 = QualityClassifier(num_features=4096).fit_reference(pos, neg)
    out2 = clf2.transform(df)
    acc2 = out2.filter(
        (F.col("quality_pred") == 1) == (F.col("label") == 1.0)
    ).count() / 120
    assert acc2 >= 0.95, acc2

    with pytest.raises(ValueError):
        QualityClassifier(num_features=1)
    with pytest.raises(ValueError):
        QualityClassifier().transform(df)


def test_jpeg_12bit_precision():
    """12-bit grayscale JPEG (SOF1 extended sequential, extended
    Huffman categories): solid images roundtrip to the identity for
    every sampled value, noisy/smooth images roundtrip at high PSNR,
    16-bit DQT entries parse, and the unsupported shapes raise."""
    import numpy as np

    from replay_spark.jpeg import decode_jpeg, encode_jpeg, jpeg_image_decoder

    for v in list(range(0, 4096, 97)) + [0, 2047, 2048, 4095]:
        img = np.full((16, 16), v, dtype=np.uint16)
        out = decode_jpeg(encode_jpeg(img, quality=90, precision=12))
        assert out.dtype == np.uint16
        assert np.array_equal(out, img), v

    rng = np.random.default_rng(9)
    img = rng.integers(0, 4096, (40, 56)).astype(np.uint16)
    out = decode_jpeg(encode_jpeg(img, quality=95, precision=12))
    mse = float(np.mean((out.astype(np.float64) - img) ** 2))
    assert 10 * np.log10(4095.0**2 / mse) > 50

    # quality 100 drives quantized DC to the extended categories
    out100 = decode_jpeg(encode_jpeg(img, quality=100, precision=12))
    mse100 = float(np.mean((out100.astype(np.float64) - img) ** 2))
    assert mse100 <= mse

    # every progressive script carries 12-bit bit-identically to the
    # sequential encoding (same coefficients, different scan order)
    base = decode_jpeg(encode_jpeg(img, quality=92, precision=12))
    for mode in (True, "sa", "nidc"):
        assert np.array_equal(
            decode_jpeg(
                encode_jpeg(img, quality=92, precision=12,
                            progressive=mode)
            ),
            base,
        ), mode

    # 16-bit DQT entries decode (hand-promote the emitted table)
    payload = bytearray(encode_jpeg(np.full((8, 8), 1234, np.uint16),
                                    precision=12))
    i = payload.index(b"\xff\xdb")
    old_seg = payload[i : i + 4 + 65]
    import struct as _s

    vals = old_seg[5:]
    seg16 = b"\x10" + b"".join(_s.pack(">H", b) for b in vals)
    new_seg = b"\xff\xdb" + _s.pack(">H", len(seg16) + 2) + seg16
    promoted = bytes(payload[:i]) + new_seg + bytes(payload[i + 69 :])
    assert np.array_equal(
        decode_jpeg(promoted), decode_jpeg(bytes(payload))
    )

    # feature adapter bins 12-bit on the top 8 bits
    meta = jpeg_image_decoder(
        encode_jpeg(np.full((8, 8), 4095, np.uint16), precision=12)
    )
    assert meta["features"][15] == 1.0

    with pytest.raises(ValueError):
        encode_jpeg(np.zeros((4, 4, 3), np.uint16), precision=12)
    with pytest.raises(ValueError):
        encode_jpeg(np.zeros((4, 4), np.uint8), precision=10)


def test_warc_and_html_extraction(spark):
    """Crawl-ingest tier: WARC build <-> parse roundtrip (plain and
    gzip-member framing), the record-explode DataFrame op with HTTP
    envelope stripping, and HTML -> text extraction semantics."""
    from replay_spark.web import (
        HtmlTextExtractor,
        build_warc,
        parse_warc,
        split_warc_gz,
        warc_records,
    )

    html_body = (
        b"<html><head><title>T1</title><style>p{x}</style></head>"
        b"<body><h1>Head</h1><p>Some text.</p>"
        b"<script>var x='<p>no</p>';</script></body></html>"
    )
    recs = [
        ("warcinfo", None, "application/warc-fields", b"software: t\r\n"),
        ("response", "http://e.com/a", "application/http",
         b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html_body),
        ("request", "http://e.com/a", "application/http", b"GET /a\r\n"),
    ]
    plain = build_warc(recs)
    gz = build_warc(recs, gzip_members=True)
    assert parse_warc(split_warc_gz(gz)) == parse_warc(plain)
    assert len(parse_warc(plain)) == 3

    df = spark.createDataFrame(
        [(1, bytearray(plain)), (2, bytearray(gz))],
        "media_id long, payload binary",
    )
    rows = warc_records(df).collect()
    assert len(rows) == 6
    resp = [r for r in rows if r.warc_type == "response"]
    assert len(resp) == 2
    # HTTP envelope stripped: content starts at the document body
    assert bytes(resp[0].content) == html_body
    assert resp[0].target_uri == "http://e.com/a"

    # html -> text over the extracted bodies
    pages = spark.createDataFrame(
        [(r.media_id, bytes(r.content).decode("utf-8")) for r in resp],
        "media_id long, html string",
    )
    out = HtmlTextExtractor().transform(pages).collect()
    for r in out:
        assert r.text == "Head Some text."
        assert r.title == "T1"

    with pytest.raises(ValueError):
        parse_warc(b"NOT A WARC")
    with pytest.raises(ValueError):
        parse_warc(build_warc(recs)[:-6])  # missing trailing CRLFCRLF
    with pytest.raises(ValueError):
        split_warc_gz(gz[:-4])


def test_url_filter(spark):
    """C4-style URL gate: domain suffix matching on dot boundaries,
    asset-extension blocking, substring blocking, and the audit
    flags."""
    from replay_spark.web import UrlFilter

    rows = [
        (0, "http://news.example.com/story/1.html"),
        (1, "http://ads.spam.com/banner.png"),
        (2, "https://spam.com/index.html"),
        (3, "https://notspam.com/a"),
        (4, "http://ok.org/styles/site.css"),
        (5, "http://user:pw@ok.org:8080/page"),
        (6, "http://ok.org/win-big-casino-now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    uf = UrlFilter(
        blocked_domains=("spam.com",),
        blocked_substrings=("casino",),
    )
    flags = {r.doc_id: r for r in uf.flags(df).collect()}
    assert not flags[0].url_blocked
    assert flags[1].blocked_domain and flags[1].blocked_extension
    assert flags[2].blocked_domain
    assert not flags[3].blocked_domain  # dot-boundary suffix only
    assert flags[4].blocked_extension
    assert not flags[5].url_blocked  # port/userinfo stripped cleanly
    assert flags[6].blocked_substring

    kept = sorted(r.doc_id for r in uf.filter(df).collect())
    assert kept == [0, 3, 5]


def test_kneser_ney_bigram_scorer(spark):
    """Interpolated KN bigram vs a brute-force in-memory oracle:
    per-doc mean log-prob must match exactly (same discount,
    continuation counts, and backoff), short docs keep their row,
    repetitive text outscores word salad."""
    import math

    from replay_spark.preprocessing.text import KneserNeyBigramScorer

    rows = [
        (0, "the cat sat on the mat"),
        (1, "the cat sat on the mat again and again"),
        (2, "mat the on sat cat zzz"),
        (3, "single"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    d = 0.75

    toks = {i: t.lower().split() for i, t in rows}
    bg = {}
    for tk in toks.values():
        for a, b in zip(tk, tk[1:]):
            bg[(a, b)] = bg.get((a, b), 0) + 1
    cc, n1f, n1b = {}, {}, {}
    for (a, b), c in bg.items():
        cc[a] = cc.get(a, 0) + c
        n1f[a] = n1f.get(a, 0) + 1
        n1b[b] = n1b.get(b, 0) + 1
    T = len(bg)

    def prob(a, b):
        pc = n1b.get(b, 0) / T
        if cc.get(a, 0) == 0:
            return max(pc, 1e-12)
        return max(
            (max(bg.get((a, b), 0) - d, 0) + d * n1f[a] * pc) / cc[a],
            1e-12,
        )

    expected = {}
    for i, tk in toks.items():
        lps = [math.log(prob(a, b)) for a, b in zip(tk, tk[1:])]
        expected[i] = (
            round(sum(lps) / len(lps) + 1e-9, 6) if lps else None
        )

    got = {
        r.doc_id: (r.n_bigrams, r.kn_score)
        for r in KneserNeyBigramScorer().score(df).collect()
    }
    for i, tk in toks.items():
        n = max(len(tk) - 1, 0)
        assert got[i][0] == n, i
        if n:
            assert got[i][1] == pytest.approx(expected[i], abs=2e-6), i
        else:
            assert got[i][1] is None
    # fluent repetition beats word salad under a bigram model
    assert got[1][1] > got[2][1]

    with pytest.raises(ValueError):
        KneserNeyBigramScorer(discount=1.0)


def test_gif_lzw_fuzz():
    """LZW roundtrip fuzz across code-width boundaries, table-full
    mid-stream clears, run-heavy and periodic inputs — the cases that
    desync encoders and decoders whose width-growth timing disagrees."""
    import random

    from replay_spark.gif import _lzw_decode, _lzw_encode

    random.seed(1)
    for trial in range(120):
        n = random.randint(1, 5000)
        ncolors = random.choice([2, 3, 4, 7, 16, 64, 200, 256])
        min_code = max(2, (ncolors - 1).bit_length())
        mode = trial % 3
        if mode == 0:
            seq = bytes(random.randrange(ncolors) for _ in range(n))
        elif mode == 1:
            seq = b"".join(
                bytes([random.randrange(ncolors)]) * random.randint(1, 30)
                for _ in range(n // 10 + 1)
            )[:n]
        else:
            pat = bytes(
                random.randrange(ncolors)
                for _ in range(random.randint(1, 9))
            )
            seq = (pat * (n // len(pat) + 1))[:n]
        enc = _lzw_encode(seq, min_code)
        assert bytes(_lzw_decode(enc, min_code, len(seq))) == seq, (
            trial, n, ncolors, mode,
        )


def test_readability_scorer(spark):
    """Readability signals vs hand-computed values; empty docs keep
    their row with nulls; simple text scores higher Flesch than
    long-winded text."""
    from replay_spark.preprocessing.text import ReadabilityScorer

    rows = [
        (0, "The cat sat. The dog ran!"),
        (1, "Extraordinarily complicated considerations demonstrate "
            "remarkable characteristics notwithstanding."),
        (2, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in ReadabilityScorer().transform(df).collect()}
    # doc 0: 6 words, 2 sentences -> 3 wps; TTR = 5/6 (the repeats)
    assert out[0].words_per_sentence == pytest.approx(3.0)
    assert out[0].type_token_ratio == pytest.approx(round(5 / 6, 4), abs=1e-4)
    assert out[2].flesch is None and out[2].chars_per_word is None
    assert out[0].flesch > out[1].flesch


def test_gopher_quality_filter_rules(spark):
    from replay_spark.preprocessing.text import GopherQualityFilter

    good = (
        "the quick brown fox jumps over that lazy dog and keeps running "
        "with steady pace because the evening light holds out for hours "
        "while birds settle down near warm rivers under wide open skies"
    )
    bullets = "\n".join(f"- item {i} of the list" for i in range(10))
    ellipses = "\n".join(
        ["the story continues..."] * 4 + ["and that was the end of it"]
    )
    symbols = "the " + "# " * 30 + "and that have with of to be"
    numeric = "the of " + " ".join(str(i) for i in range(40))
    longwords = (
        "the of " + " ".join("supercalifragilistic" for _ in range(40))
    )
    df = spark.createDataFrame(
        [
            (0, good),
            (1, "too short to pass the word count"),
            (2, bullets),
            (3, ellipses),
            (4, symbols),
            (5, numeric),
            (6, longwords),
            (7, " ".join(["word"] * 40)),  # no required stopwords
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in GopherQualityFilter(min_words=20).transform(df).collect()
    }
    assert out[0]["keep"] and out[0]["drop_reasons"] == []
    assert "word_count" in out[1]["drop_reasons"]
    assert "bullet_lines" in out[2]["drop_reasons"]
    assert "ellipsis_lines" in out[3]["drop_reasons"]
    assert "symbol_ratio" in out[4]["drop_reasons"]
    assert "alpha_words" in out[5]["drop_reasons"]
    assert "mean_word_len" in out[6]["drop_reasons"]
    assert "stopwords" in out[7]["drop_reasons"]
    kept = GopherQualityFilter(min_words=20).filter(df)
    assert [r["doc_id"] for r in kept.collect()] == [0]
    assert kept.columns == ["doc_id", "text"]


def test_gopher_quality_filter_empty_text(spark):
    from replay_spark.preprocessing.text import GopherQualityFilter

    df = spark.createDataFrame([(0, ""), (1, "   ")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in GopherQualityFilter().transform(df).collect()}
    for i in (0, 1):
        assert out[i]["n_words"] == 0
        assert not out[i]["keep"]
        assert "word_count" in out[i]["drop_reasons"]


def test_c4_text_cleaner(spark):
    from replay_spark.preprocessing.text import C4TextCleaner

    doc = "\n".join(
        [
            "This is a proper sentence that stays.",
            "no terminal punctuation here",
            "Too short.",
            "Enable javascript to view this page.",
            "Please accept our cookie policy to continue.",
            "Another good sentence survives the pass!",
        ]
    )
    df = spark.createDataFrame(
        [
            (0, doc),
            (1, "Lorem Ipsum dolor sit amet. More words follow here."),
            (2, "function() { return 1; } is code."),
            (3, "One sentence only lives here."),
        ],
        "doc_id long, text string",
    )
    cleaner = C4TextCleaner(min_sentences=2)
    out = {r["doc_id"]: r for r in cleaner.transform(df).collect()}
    assert out[0]["clean_text"] == (
        "This is a proper sentence that stays.\n"
        "Another good sentence survives the pass!"
    )
    assert out[0]["n_lines_kept"] == 2 and out[0]["n_lines_dropped"] == 4
    assert out[0]["keep"]
    assert "lorem_ipsum" in out[1]["drop_reasons"]
    assert "curly_brace" in out[2]["drop_reasons"]
    assert "too_few_sentences" in out[3]["drop_reasons"]
    kept = cleaner.filter(df)
    rows = kept.collect()
    assert [r["doc_id"] for r in rows] == [0]
    assert rows[0]["text"] == out[0]["clean_text"]
    assert kept.columns == ["doc_id", "text"]


def test_perplexity_bucketer_exact(spark):
    from replay_spark.preprocessing.text import PerplexityBucketer

    rows = [(i, "en", float(-i)) for i in range(9)]  # score desc = id asc
    rows += [(100 + i, "de", float(i)) for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, lm_score double")
    out = {
        r["doc_id"]: r
        for r in PerplexityBucketer(strategy="exact").transform(df).collect()
    }
    # en: 9 docs, best scores are smallest ids -> terciles of 3
    for i in range(9):
        assert out[i]["ppl_bucket"] == i // 3, (i, out[i])
    assert out[0]["ppl_label"] == "head" and out[8]["ppl_label"] == "tail"
    # de: 4 docs, best score is the LARGEST value here (103)
    assert out[103]["ppl_bucket"] == 0
    assert out[100]["ppl_bucket"] == 2
    # buckets are per-language: each language has its own head
    assert out[103]["ppl_label"] == "head"


def test_perplexity_bucketer_approx_matches_exact_shape(spark):
    from replay_spark.preprocessing.text import PerplexityBucketer

    rows = [(i, "en", float(i % 30)) for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, lm_score double")
    out = PerplexityBucketer(strategy="approx").transform(df)
    counts = {
        r["ppl_bucket"]: r["cnt"]
        for r in out.groupBy("ppl_bucket").agg(F.count("*").alias("cnt")).collect()
    }
    assert set(counts) == {0, 1, 2}
    assert sum(counts.values()) == 90
    # head holds the highest scores
    head_min = out.filter("ppl_bucket = 0").agg(F.min("lm_score")).first()[0]
    tail_max = out.filter("ppl_bucket = 2").agg(F.max("lm_score")).first()[0]
    assert head_min > tail_max


def test_dsir_weights_prefer_target_like(spark):
    from replay_spark.preprocessing.text import DSIRSelector

    target = spark.createDataFrame(
        [(100 + i, "science physics quantum theory experiment") for i in range(5)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [
            (0, "science physics quantum theory results"),
            (1, "buy cheap pills online now discount"),
            (2, "quantum experiment in physics theory"),
            (3, "click here to win a free prize"),
        ],
        "doc_id long, text string",
    )
    sel = DSIRSelector()
    w = {r["doc_id"]: r["log_weight"] for r in sel.weights(raw, target).collect()}
    assert w[0] > w[1] and w[2] > w[3]
    top = sel.select(raw, target, 2)
    assert sorted(r["doc_id"] for r in top.collect()) == [0, 2]
    assert set(top.columns) == {"doc_id", "text", "log_weight"}


def test_dsir_weights_total_on_short_docs(spark):
    from replay_spark.preprocessing.text import DSIRSelector

    target = spark.createDataFrame(
        [(10, "alpha beta gamma")], "doc_id long, text string"
    )
    raw = spark.createDataFrame(
        [(0, ""), (1, "single"), (2, "two words")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in DSIRSelector().weights(raw, target).collect()}
    # empty doc has no features -> no row (same as the LM scorers)
    assert 0 not in out
    assert out[1]["n_features"] == 1  # one unigram, no bigram
    assert out[2]["n_features"] == 3  # two unigrams + one bigram


def test_audio_frame_featurizer(spark):
    import numpy as np

    from replay_spark.multimodal import AudioFrameFeaturizer, encode_wav

    # 10 samples, frame_size 4 -> frames of 4, 4, 2 (short tail)
    samples = np.array([100, -100, 100, -100, 0, 50, 50, -50, 7, 7], np.int16)
    payload = encode_wav(samples, sample_rate=8000)
    df = spark.createDataFrame([(1, bytearray(payload))], "media_id long, payload binary")
    out = {
        r["frame_index"]: r
        for r in AudioFrameFeaturizer(frame_size=4).transform(df).collect()
    }
    assert len(out) == 3
    assert out[0]["n_samples"] == 4 and out[2]["n_samples"] == 2
    assert out[0]["zcr"] == 3  # strict sign flips
    assert out[1]["zcr"] == 1  # 0*50 not < 0; 50*-50 < 0
    assert out[0]["peak"] == 100 and out[2]["peak"] == 7
    assert out[0]["rms"] == pytest.approx(100.0)
    assert out[2]["rms"] == pytest.approx(7.0)


def test_audio_frame_featurizer_overlap_and_stereo(spark):
    import numpy as np

    from replay_spark.multimodal import AudioFrameFeaturizer, encode_wav

    mono = np.array([1, 2, 3, 4, 5, 6], np.int16)
    stereo = np.zeros(12, np.int16)
    stereo[0::2] = mono  # channel 0
    stereo[1::2] = 999  # channel 1 must be ignored
    payload = encode_wav(stereo, sample_rate=8000, num_channels=2)
    df = spark.createDataFrame([(1, bytearray(payload))], "media_id long, payload binary")
    out = AudioFrameFeaturizer(frame_size=4, hop=2).transform(df).collect()
    # hop=2 over 6 samples -> frames at 0,2,4 (lengths 4,4,2)
    assert [r["n_samples"] for r in sorted(out, key=lambda r: r["frame_index"])] == [4, 4, 2]
    assert all(r["peak"] <= 6 for r in out)


def test_resize_box_and_bilinear(spark):
    import numpy as np

    from replay_spark.multimodal import MediaProcessor, decode_ppm, encode_ppm

    img = np.arange(16, dtype=np.uint8).reshape(4, 4) * 10
    df = spark.createDataFrame(
        [(1, bytearray(encode_ppm(img)))], "media_id long, payload binary"
    )
    proc = MediaProcessor()
    box = proc.resize(df, (2, 2), method="box").collect()[0]
    out, _ = decode_ppm(bytes(box["payload"]))
    # 2x2 block floor-means of [[0,10,20,30],[40,...],...] * exact ints
    expect = np.array([[25, 45], [105, 125]], np.uint8)
    assert np.array_equal(out, expect)

    bil = proc.resize(df, (2, 2), method="bilinear").collect()[0]
    outb, _ = decode_ppm(bytes(bil["payload"]))
    # half-pixel centers at src coords 0.5/2.5: mean of the same 2x2
    # blocks, but rounded with floor(v+0.5) instead of floored mean
    assert np.array_equal(outb, expect)

    up = proc.resize(df, (8, 8), method="bilinear").collect()[0]
    outu, _ = decode_ppm(bytes(up["payload"]))
    assert outu.shape == (8, 8)
    # corners clamp to the original corner pixels
    assert outu[0, 0] == img[0, 0] and outu[7, 7] == img[3, 3]
    # interior is monotone along a row of the source gradient
    assert all(outu[0, j] <= outu[0, j + 1] for j in range(7))

    with pytest.raises(Exception):
        proc.resize(df, (3, 3), method="box").collect()


def test_robots_matcher_semantics():
    from replay_spark.web import RobotsMatcher

    r = (
        "User-agent: *\n"
        "Disallow: /private\n"
        "Allow: /private/open\n"
        "Disallow: /*.zip$\n"
        "\n"
        "User-agent: mybot\n"
        "Disallow: /mybot-only\n"
    )
    m = RobotsMatcher(r)
    assert not m.allowed("/private/page")
    assert m.allowed("/private/open/x")  # longer allow wins
    assert not m.allowed("/files/a.zip")  # $-anchored wildcard
    assert m.allowed("/files/a.zip.html")  # anchor does not match
    assert m.allowed("/anything/else")
    # specific group REPLACES '*' (RFC 9309: groups do not merge)
    mb = RobotsMatcher(r, "MyBot/1.0")
    assert not mb.allowed("/mybot-only/x")
    assert mb.allowed("/private/page")
    # empty robots allows everything
    assert RobotsMatcher("").allowed("/a")
    # tie between allow and disallow of equal length -> allow
    tie = RobotsMatcher("User-agent: *\nDisallow: /dir\nAllow: /dir\n")
    assert tie.allowed("/dir/x")


def test_robots_filter_dataframe(spark):
    from replay_spark.web import RobotsFilter

    robots = "User-agent: *\nDisallow: /no\n"
    df = spark.createDataFrame(
        [
            (0, "http://a.com/no/1", robots),
            (1, "http://a.com/yes/1", robots),
            (2, "http://b.com/no/2", ""),  # no rules -> allowed
        ],
        "doc_id long, url string, robots_txt string",
    )
    out = {r["doc_id"]: r["robots_allowed"] for r in RobotsFilter().transform(df).collect()}
    assert out == {0: False, 1: True, 2: True}
    kept = RobotsFilter().filter(df)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 2]
    assert kept.columns == ["doc_id", "url", "robots_txt"]


def test_count_min_sketch_overestimates_only(spark):
    from replay_spark.preprocessing.text import CountMinSketch

    words = (
        ["alpha"] * 50 + ["beta"] * 20 + ["gamma"] * 5
        + [f"tail{i}" for i in range(200)]
    )
    toks = spark.createDataFrame([(w,) for w in words], "token string")
    for family in ("md5", "xxhash64"):
        cms = CountMinSketch(depth=4, width=64, hash_family=family)
        sketch = cms.fit(toks)
        assert sketch.count() <= 4 * 64
        est = {
            r["token"]: r["cms_count"]
            for r in cms.estimate(sketch, toks.distinct()).collect()
        }
        exact = {"alpha": 50, "beta": 20, "gamma": 5}
        for w, c in exact.items():
            assert est[w] >= c  # one-sided error
        # the heavy hitter dominates even with collisions
        assert est["alpha"] == max(est.values())
        # unseen token estimates near zero (bounded by collisions)
        unseen = spark.createDataFrame([("zzz-never",)], "token string")
        est0 = cms.estimate(sketch, unseen).collect()[0]["cms_count"]
        assert est0 <= 200 // 16  # well under total/width' scale


def test_hyperloglog_accuracy(spark):
    from replay_spark.preprocessing.text import HyperLogLog

    n = 5000
    toks = spark.createDataFrame(
        [(f"token-{i % n}",) for i in range(2 * n)], "token string"
    )
    hll = HyperLogLog(b=10)  # m=1024, ~3.3% expected error
    out = hll.distinct_count(toks).collect()[0]
    assert out["m"] == 1024
    assert abs(out["est"] - n) / n < 0.12
    # register table is bounded by m and merge = max
    assert hll.fit(toks).count() <= 1024


def test_hyperloglog_overlap_grouped(spark):
    """HLL set algebra: the pairwise union sketch is EXACTLY the
    sketch of the concatenated groups (per-register max is
    lossless), and inclusion-exclusion recovers planted overlaps
    within sketch error."""
    from replay_spark.preprocessing.text import HyperLogLog

    rows = (
        [("A", f"t{i}") for i in range(1000)]
        + [("B", f"t{i}") for i in range(500, 1500)]  # |A∩B| = 500
        + [("C", f"z{i}") for i in range(800)]        # disjoint
    )
    df = spark.createDataFrame(rows, "g string, token string")
    hll = HyperLogLog(b=10)
    regs = hll.fit_grouped(df, ["g"])
    out = {
        (r.ga, r.gb): r for r in hll.overlap_grouped(regs, "g").collect()
    }
    assert set(out) == {("A", "B"), ("A", "C"), ("B", "C")}
    ab = out[("A", "B")]
    assert abs(ab.est_overlap - 500) / 500 < 0.25
    assert abs(ab.est_union - 1500) / 1500 < 0.12
    # disjoint pairs estimate near-zero overlap (sketch-error scale)
    assert abs(out[("A", "C")].est_overlap) < 0.1 * 1800
    # losslessness: union sketch == sketch of A ∪ B data
    union_direct = hll.fit(
        df.filter("g in ('A','B')").select("token")
    )
    ra = {r.register: r.rho_max for r in union_direct.collect()}
    est_u_direct = hll.estimate(union_direct).collect()[0]["est"]
    assert abs(est_u_direct - ab.est_union) < 1e-9
    assert len(ra) <= 1024


def test_hyperloglog_small_range_and_empty(spark):
    from replay_spark.preprocessing.text import HyperLogLog

    hll = HyperLogLog(b=6)
    few = spark.createDataFrame([(f"w{i}",) for i in range(10)], "token string")
    out = hll.distinct_count(few).collect()[0]
    # linear-counting regime: near-exact for 10 distinct
    assert abs(out["est"] - 10) <= 2
    empty = spark.createDataFrame([], "token string")
    out0 = hll.distinct_count(empty).collect()[0]
    assert out0["est"] == 0.0 and out0["v_empty"] == 64


def test_sentence_splitter(spark):
    from replay_spark.preprocessing.text import SentenceSplitter

    df = spark.createDataFrame(
        [
            (0, "First one. Second!? And a tail without punct"),
            (1, "..."),
            (2, ""),
        ],
        "doc_id long, text string",
    )
    rows = SentenceSplitter().transform(df).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["sentence_index"], r["sentence"])
        )
    assert by_doc[0] == [
        (0, "First one."),
        (1, "Second!?"),
        (2, "And a tail without punct"),
    ]
    assert 1 not in by_doc  # bare punctuation trims to empty
    assert 2 not in by_doc


def test_blocklist_filter(spark):
    from replay_spark.preprocessing.text import BlocklistFilter

    df = spark.createDataFrame(
        [
            (0, "The theme is neither thesis nor THE end"),  # 2 exact 'the'
            (1, "of course"),
            (2, "this and that happens, and that repeats"),
            (3, "clean words only"),
        ],
        "doc_id long, text string",
    )
    flt = BlocklistFilter(("the", "of", "and that"), max_hits=2)
    out = {r["doc_id"]: r for r in flt.transform(df).collect()}
    # word boundaries: 'theme'/'thesis' do not match bare 'the'
    assert out[0]["blocklist_hits"] == 2 and out[0]["blocked"]
    assert out[1]["blocklist_hits"] == 1 and not out[1]["blocked"]
    assert out[2]["blocklist_hits"] == 2 and out[2]["blocked"]
    assert out[3]["blocklist_hits"] == 0
    assert sorted(r["doc_id"] for r in flt.filter(df).collect()) == [1, 3]


def test_spectrogram_pure_tone_lands_in_its_bin(spark):
    import numpy as np

    from replay_spark.multimodal import SpectrogramFeaturizer, encode_wav

    rate, n = 8000, 512
    k = 32  # FFT bin under frame_size=256? frame covers 256 samples
    # tone at bin 16 of a 256-point frame: f = 16 * rate / 256
    f = 16 * rate / 256
    tone = (
        np.sin(2 * np.pi * f * np.arange(n) / rate) * 12000
    ).astype(np.int16)
    payload = encode_wav(tone, sample_rate=rate)
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "media_id long, payload binary"
    )
    # raw FFT bins (n_mels=None): peak must sit at bin 16
    raw = (
        SpectrogramFeaturizer(frame_size=256, n_mels=None)
        .transform(df)
        .collect()
    )
    assert len(raw) >= 2
    for r in raw:
        feats = np.array(r["features"])
        assert feats.shape == (129,)
        assert int(np.argmax(feats)) == 16
    # mel path: fixed shape, finite values, energy concentrated in
    # the band containing f
    mel = (
        SpectrogramFeaturizer(frame_size=256, n_mels=12)
        .transform(df)
        .collect()
    )
    for r in mel:
        feats = np.array(r["features"])
        assert feats.shape == (12,) and np.isfinite(feats).all()


def test_spectrogram_parseval_energy(spark):
    import numpy as np

    from replay_spark.multimodal import SpectrogramFeaturizer, encode_wav

    rng = np.random.RandomState(7)
    sig = (rng.randn(256) * 5000).astype(np.int16)
    payload = encode_wav(sig, sample_rate=8000)
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "media_id long, payload binary"
    )
    out = (
        SpectrogramFeaturizer(frame_size=256, hop=256, n_mels=None)
        .transform(df)
        .collect()
    )
    assert len(out) == 1
    power = np.exp(np.array(out[0]["features"]))  # undo log
    windowed = sig.astype(np.float64) * np.hanning(256)
    # rfft Parseval: sum |X|^2 over all bins (mirrored bins twice)
    full = np.abs(np.fft.fft(windowed)) ** 2
    assert np.isclose(power[0], full[0], rtol=1e-6)
    assert np.isclose(
        2 * power[1:-1].sum() + power[0] + power[-1],
        full.sum(),
        rtol=1e-6,
    )


def test_heavy_hitters_exact_above_threshold(spark):
    """Two-phase Misra-Gries: output EQUALS the exact
    groupBy-HAVING answer (count·k > N) regardless of k pressure,
    partitioning, or row order."""
    from replay_spark.preprocessing.text import HeavyHitters

    # 1000 rows: 'a' ×400, 'b' ×150, 'c' ×90, long tail of uniques
    rows = (["a"] * 400 + ["b"] * 150 + ["c"] * 90
            + [f"t{i}" for i in range(360)])
    df = spark.createDataFrame([(t,) for t in rows], "token string")

    def expected(k):
        n = len(rows)
        from collections import Counter
        return {t: c for t, c in Counter(rows).items() if c * k > n}

    for k, parts in ((5, 3), (8, 7), (100, 2)):
        got = {
            r.token: r["count"]
            for r in HeavyHitters(k=k)
            .transform(df.repartition(parts))
            .collect()
        }
        assert got == expected(k), (k, parts)

    # tiny k forces per-partition evictions yet 'a' (40% > 1/3) stays
    got3 = {
        r.token: r["count"]
        for r in HeavyHitters(k=3).transform(df.repartition(9)).collect()
    }
    assert got3 == expected(3) == {"a": 400}
    with pytest.raises(ValueError, match="k must"):
        HeavyHitters(k=0)


def test_bloom_filter_no_false_negatives(spark):
    from replay_spark.preprocessing.text import BloomFilter

    members = spark.createDataFrame(
        [(f"in{i}",) for i in range(200)], "token string"
    )
    probes = spark.createDataFrame(
        [(f"in{i}",) for i in range(200)]
        + [(f"out{i}",) for i in range(500)],
        "token string",
    )
    for family in ("md5", "xxhash64"):
        bloom = BloomFilter(m_bits=1 << 13, k=4, hash_family=family)
        bits = bloom.fit(members)
        assert bits.count() <= 4 * 200
        out = {
            r["token"]: r["maybe_present"]
            for r in bloom.contains(bits, probes).collect()
        }
        # zero false negatives, ever
        assert all(out[f"in{i}"] for i in range(200))
        # false-positive rate near theory: (1-e^(-kn/m))^k ~ 0.3%
        fp = sum(out[f"out{i}"] for i in range(500))
        assert fp <= 25


def test_html_link_extractor(spark):
    from replay_spark.web import HtmlLinkExtractor

    html = (
        "<html><body>"
        "<a href='/a'>first</a>"
        "<a name='anchor-only'>skipped</a>"
        "<a href='../up'>two&amp;three   words</a>"
        "<a href='#frag'></a>"
        "</body></html>"
    )
    df = spark.createDataFrame(
        [(7, html, "http://h.test/d/e/page.html")],
        "doc_id long, html string, base_url string",
    )
    rows = sorted(
        HtmlLinkExtractor(base_url_column="base_url").transform(df).collect(),
        key=lambda r: r["link_index"],
    )
    assert [r["href"] for r in rows] == ["/a", "../up", "#frag"]
    assert rows[0]["resolved_url"] == "http://h.test/a"
    assert rows[1]["resolved_url"] == "http://h.test/d/up"
    assert rows[2]["resolved_url"] == "http://h.test/d/e/page.html#frag"
    assert rows[1]["anchor"] == "two&three words"
    assert rows[2]["anchor"] == ""
    # no base column: hrefs pass through unresolved
    raw = HtmlLinkExtractor().transform(df.select("doc_id", "html")).collect()
    assert {r["href"] for r in raw} == {r["resolved_url"] for r in raw}


def test_image_augmenter_ops(spark):
    import numpy as np

    from replay_spark.multimodal import ImageAugmenter, decode_ppm, encode_ppm

    img = np.arange(12, dtype=np.uint8).reshape(3, 4)
    df = spark.createDataFrame(
        [(1, bytearray(encode_ppm(img)))], "media_id long, payload binary"
    )

    def run(*ops):
        r = ImageAugmenter(ops).transform(df).collect()[0]
        out, _ = decode_ppm(bytes(r["payload"]))
        return out, r["width"], r["height"]

    h, _, _ = run(("hflip",))
    assert np.array_equal(h, img[:, ::-1])
    v, _, _ = run(("vflip",))
    assert np.array_equal(v, img[::-1])
    r90, w, hh = run(("rot90", 1))
    assert np.array_equal(r90, np.rot90(img)) and (w, hh) == (3, 4)
    c, w, hh = run(("crop", 1, 0, 2, 3))
    assert np.array_equal(c, img[0:3, 1:3]) and (w, hh) == (2, 3)
    # composition order matters and matches numpy semantics
    combo, _, _ = run(("hflip",), ("rot90", 1))
    assert np.array_equal(combo, np.rot90(img[:, ::-1]))
    with pytest.raises(Exception):
        run(("crop", 3, 0, 5, 2))


def test_compression_ratio_ordering(spark):
    from replay_spark.preprocessing.text import CompressionRatioScorer

    import random

    rng = random.Random(3)
    rand_text = " ".join(
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789")
                for _ in range(8))
        for _ in range(120)
    )
    df = spark.createDataFrame(
        [
            (0, "spam " * 400),
            (1, "the quick brown fox jumps over the lazy dog and then "
                "rests beside a quiet river while evening settles in " * 8),
            (2, rand_text),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in CompressionRatioScorer().transform(df).collect()}
    assert out[0]["compression_ratio"] < out[1]["compression_ratio"]
    assert out[1]["compression_ratio"] < out[2]["compression_ratio"]
    assert out[3]["compression_ratio"] is None and out[3]["raw_bytes"] == 0
    assert out[2]["compressed_bytes"] > 0


def test_pagerank_known_graphs(spark):
    from replay_spark.web import LinkGraphRank

    # 2-cycle: symmetric -> 0.5 / 0.5 exactly at any damping
    cyc = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    out = {r["node"]: r["rank"] for r in LinkGraphRank(iterations=20).rank(cyc).collect()}
    assert out[1] == pytest.approx(0.5, abs=1e-9)
    assert out[2] == pytest.approx(0.5, abs=1e-9)

    # star into node 0 (0 is dangling): closed form for d=0.85, n=4
    star = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0)], "src long, dst long"
    )
    ranks = {
        r["node"]: r["rank"]
        for r in LinkGraphRank(iterations=60).rank(star).collect()
    }
    assert abs(sum(ranks.values()) - 1.0) < 1e-6
    # leaves are symmetric; the hub dominates
    assert ranks[1] == pytest.approx(ranks[2], abs=1e-9)
    assert ranks[0] > 2.5 * ranks[1]
    # fixed point: hub = (1-d)/n + d*(3*leaf + hub*d_mass/n) ... verify
    # via the invariant leaf = (1-d)/n + d*hub/4 (dangling hub only)
    d, n = 0.85, 4
    assert ranks[1] == pytest.approx((1 - d) / n + d * ranks[0] / n, abs=1e-6)


def test_webdataset_roundtrip_and_determinism(spark, tmp_path):
    import hashlib
    import os

    from replay_spark.data.webdataset import read_webdataset, write_webdataset

    df = spark.createDataFrame(
        [
            (f"doc{i:03d}", f"text body {i}", bytes([i, i + 1, i + 2]))
            for i in range(40)
        ],
        "key string, txt string, payload binary",
    )
    out1, out2 = str(tmp_path / "w1"), str(tmp_path / "w2")
    shards = write_webdataset(df, out1, key_column="key", num_shards=4)
    assert shards == [f"shard-{i:05d}.tar" for i in range(4)]
    back = read_webdataset(spark, out1)
    rows = {r["key"]: r for r in back.collect()}
    assert len(rows) == 40
    assert bytes(rows["doc007"]["files"]["payload"]) == bytes([7, 8, 9])
    assert rows["doc007"]["files"]["txt"] == b"text body 7"
    # deterministic re-export: byte-identical shards
    write_webdataset(df, out2, key_column="key", num_shards=4)
    for s in shards:
        h1 = hashlib.md5(open(os.path.join(out1, s), "rb").read()).hexdigest()
        h2 = hashlib.md5(open(os.path.join(out2, s), "rb").read()).hexdigest()
        assert h1 == h2, s


def test_text_normalizer_forms():
    # pure-python semantics, no Spark needed for the mapping itself
    import unicodedata

    composed = "Café"
    decomposed = "Café"
    assert unicodedata.normalize("NFC", decomposed) == composed


def test_text_normalizer_dataframe(spark):
    from replay_spark.preprocessing.text import TextNormalizer

    df = spark.createDataFrame(
        [
            (0, "Café meets Café"),
            (1, "ﬁne ligature"),  # fi ligature
            (2, None),
        ],
        "doc_id long, text string",
    )
    nfc = {
        r["doc_id"]: r["text_norm"]
        for r in TextNormalizer(form="NFC").transform(df).collect()
    }
    assert nfc[0] == "Café meets Café"
    assert nfc[1].startswith("ﬁ")  # NFC keeps ligatures
    assert nfc[2] is None
    nfkc = {
        r["doc_id"]: r["text_norm"]
        for r in TextNormalizer(form="NFKC").transform(df).collect()
    }
    assert nfkc[1] == "fine ligature"  # NFKC folds them
    stripped = {
        r["doc_id"]: r["text_norm"]
        for r in TextNormalizer(
            form="NFC", strip_accents=True, lowercase=True
        ).transform(df).collect()
    }
    assert stripped[0] == "cafe meets cafe"


def test_inverted_index_and_bm25(spark):
    from replay_spark.preprocessing.text import BM25SearchScorer, InvertedIndex

    df = spark.createDataFrame(
        [
            (0, "spark spark spark engine"),
            (1, "spark data engine"),
            (2, "data data warehouse"),
            (3, "unrelated words only"),
        ],
        "doc_id long, text string",
    )
    idx = {r["token"]: r for r in InvertedIndex(max_postings=2).build(df).collect()}
    assert idx["spark"]["doc_freq"] == 2
    assert idx["spark"]["postings"] == [0, 1]  # sorted, capped
    assert idx["data"]["doc_freq"] == 2 and idx["data"]["postings"] == [1, 2]
    assert idx["engine"]["doc_freq"] == 2

    out = {r["doc_id"]: r for r in BM25SearchScorer().score(df, "spark data").collect()}
    assert 3 not in out  # no query token -> no row
    assert out[1]["n_hits"] == 2
    # doc 1 matches both terms; doc 0 matches one term thrice --
    # BM25's tf saturation must rank the two-term doc higher
    assert out[1]["bm25"] > out[0]["bm25"]
    assert out[2]["bm25"] > 0


def test_hyperloglog_grouped(spark):
    from replay_spark.preprocessing.text import HyperLogLog

    rows = [("a", f"tok{i % 500}") for i in range(1500)]
    rows += [("b", f"tok{i % 20}") for i in range(100)]
    df = spark.createDataFrame(rows, "grp string, token string")
    hll = HyperLogLog(b=8)
    regs = hll.fit_grouped(df, ["grp"])
    assert regs.groupBy("grp").count().agg(F.max("count")).first()[0] <= 256
    est = {
        r["grp"]: r["est"]
        for r in hll.estimate_grouped(regs, ["grp"]).collect()
    }
    assert abs(est["a"] - 500) / 500 < 0.2
    assert abs(est["b"] - 20) <= 4  # linear-counting regime


def test_hash_splitter_stability_and_proportions(spark):
    from replay_spark.preprocessing.text import HashSplitter

    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(5000)], "doc_id long, text string"
    )
    sp = HashSplitter({"train": 0.8, "val": 0.1, "test": 0.1})
    out = {r["doc_id"]: r["split"] for r in sp.transform(df).collect()}
    counts = {}
    for v in out.values():
        counts[v] = counts.get(v, 0) + 1
    assert abs(counts["train"] / 5000 - 0.8) < 0.03
    assert abs(counts["val"] / 5000 - 0.1) < 0.02
    # growth stability: the same ids keep their split in a superset
    bigger = spark.createDataFrame(
        [(i, f"t{i}") for i in range(8000)], "doc_id long, text string"
    )
    out2 = {r["doc_id"]: r["split"] for r in sp.transform(bigger).collect()}
    assert all(out2[i] == out[i] for i in out)
    with pytest.raises(ValueError):
        HashSplitter({"a": 0.5, "b": 0.4})


def test_fuzzy_token_matcher_completeness(spark):
    import itertools

    from replay_spark.preprocessing.text import FuzzyTokenMatcher

    words = ["cat", "cot", "cats", "at", "dog", "dogs", "zebra"]
    df = spark.createDataFrame([(w,) for w in words], "token string")
    got = {
        (r["token_a"], r["token_b"]): r["dist"]
        for r in FuzzyTokenMatcher().pairs(df).collect()
    }

    def lev(a, b):
        import numpy as np

        d = np.arange(len(b) + 1)
        for i, ca in enumerate(a, 1):
            prev, d[0] = d[0], i
            for j, cb in enumerate(b, 1):
                prev, d[j] = d[j], min(
                    d[j] + 1, d[j - 1] + 1, prev + (ca != cb)
                )
        return int(d[-1])

    expect = {
        tuple(sorted((a, b))): lev(a, b)
        for a, b in itertools.combinations(words, 2)
        if lev(a, b) <= 1
    }
    assert got == expect  # exact completeness vs brute force
    assert ("cat", "cot") in got and ("dog", "dogs") in got
    assert not any("zebra" in p for p in got)


def test_contamination_bloom_matches_exact(spark):
    from replay_spark.preprocessing.dedup import ContaminationChecker

    train = spark.createDataFrame(
        [
            (0, "one two three four five six seven eight nine ten"),
            (1, "alpha beta gamma delta epsilon zeta eta theta iota"),
            (2, "clean words nothing shared here at all today friend"),
        ],
        "doc_id long, text string",
    )
    evald = spark.createDataFrame(
        [(100, "one two three four five six seven eight extra pad")],
        "doc_id long, text string",
    )
    exact = {
        r["doc_id"]: r["n_contaminated"]
        for r in ContaminationChecker(n=8).report(train, evald).collect()
    }
    bloom = {
        r["doc_id"]: r["n_contaminated"]
        for r in ContaminationChecker(n=8, method="bloom")
        .report(train, evald)
        .collect()
    }
    # bloom can only OVERcount (false positives), never undercount
    assert all(bloom[d] >= exact[d] for d in exact)
    # at this size the default-width filter is collision-free
    assert bloom == exact
    assert exact[0] >= 1 and exact[2] == 0


def test_script_detector(spark):
    from replay_spark.preprocessing.text import ScriptDetector

    df = spark.createDataFrame(
        [
            (0, "hello world"),
            (1, "привет мир"),
            (2, "你好 世界 and two latin words here"),
            (3, "12345 !?"),
            (4, "αβγ greek bit"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in ScriptDetector().transform(df).collect()}
    assert out[0]["dominant_script"] == "latin"
    assert out[1]["dominant_script"] == "cyrillic"
    assert out[1]["n_cyrillic"] == 9 and out[1]["n_latin"] == 0
    assert out[2]["n_cjk"] == 4
    assert out[3]["dominant_script"] == "und" and out[3]["n_letters"] == 0
    assert out[4]["n_greek"] == 3
    assert out[0]["frac_latin"] == 1.0


def test_incremental_dedup_across_batches(spark, tmp_path):
    from replay_spark.preprocessing.dedup import IncrementalDeduplicator

    store = str(tmp_path / "store")
    dd = IncrementalDeduplicator(store)
    b1 = spark.createDataFrame(
        [(0, "alpha"), (1, "beta"), (2, "alpha")],
        "doc_id long, text string",
    )
    out1 = dd.transform(b1)
    assert sorted(r["doc_id"] for r in out1.collect()) == [0, 1]
    b2 = spark.createDataFrame(
        [(10, "beta"), (11, "gamma"), (12, "gamma"), (13, "delta")],
        "doc_id long, text string",
    )
    out2 = dd.transform(b2)
    # beta seen in batch 1; gamma keeps its batch-2 first only
    assert sorted(r["doc_id"] for r in out2.collect()) == [11, 13]
    assert out2.columns == ["doc_id", "text"]
    # a replayed batch is now fully deduplicated
    out3 = dd.transform(b2)
    assert out3.count() == 0
    # reset clears the store
    dd.reset()
    assert dd.transform(b2).count() == 3


def test_validate_media_triage(spark):
    import numpy as np

    from replay_spark.multimodal import encode_png, encode_ppm, validate_media

    img = np.arange(16, dtype=np.uint8).reshape(4, 4)
    good_png = encode_png(img)
    rows = [
        (0, bytearray(encode_ppm(img))),
        (1, bytearray(good_png)),
        (2, bytearray(good_png[:15])),  # truncated PNG
        (3, bytearray(b"not media at all")),
        (4, bytearray(b"")),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in validate_media(df).collect()}
    assert out[0]["ok"] and out[0]["format"] == "pgm"
    assert out[0]["width"] == 4
    assert out[1]["ok"] and out[1]["format"] == "png"
    assert not out[2]["ok"] and out[2]["format"] == "png"
    assert not out[3]["ok"] and out[3]["format"] == "unknown"
    assert not out[4]["ok"]
    assert out[2]["width"] is None


def test_hash_sampler_determinism_and_rates(spark):
    from replay_spark.preprocessing.text import HashSampler

    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(4000)],
        "doc_id long, source string",
    )
    s = HashSampler(rate=0.25, seed=1)
    ids1 = sorted(r["doc_id"] for r in s.transform(df).collect())
    ids2 = sorted(r["doc_id"] for r in s.transform(df).collect())
    assert ids1 == ids2  # fully deterministic
    assert abs(len(ids1) / 4000 - 0.25) < 0.03
    # membership is per-key: a subset corpus keeps the same rows
    sub = df.filter("doc_id < 1000")
    sub_ids = sorted(r["doc_id"] for r in s.transform(sub).collect())
    assert sub_ids == [i for i in ids1 if i < 1000]
    # grouped rates; unlisted groups drop entirely
    g = HashSampler(rates={"a": 0.5}, group_column="source", seed=1)
    got = g.transform(df).groupBy("source").count().collect()
    by = {r["source"]: r["count"] for r in got}
    assert "b" not in by
    assert abs(by["a"] / 2000 - 0.5) < 0.05
    with pytest.raises(ValueError):
        HashSampler(rate=0.5, rates={"a": 1.0}, group_column="source")


def test_length_histogram(spark):
    from replay_spark.preprocessing.text import LengthHistogram

    df = spark.createDataFrame(
        [
            (0, "a", "one"),
            (1, "a", "one two three"),  # 3 tokens -> bucket 1
            (2, "b", " ".join(["w"] * 16)),  # bucket 4
            (3, "b", ""),
        ],
        "doc_id long, source string, text string",
    )
    out = {
        (r["source"], r["len_bucket"]): (r["n_docs"], r["total_tokens"])
        for r in LengthHistogram(group_columns=("source",))
        .transform(df)
        .collect()
    }
    assert out[("a", 0)] == (1, 1)
    assert out[("a", 1)] == (1, 3)
    assert out[("b", 4)] == (1, 16)
    assert out[("b", -1)] == (1, 0)


def test_bin_packer_budget_and_determinism(spark):
    from replay_spark.preprocessing.text import BinPacker

    rows = [(i, " ".join(["w"] * ((i * 37) % 90 + 1))) for i in range(300)]
    rows.append((1000, " ".join(["w"] * 300)))  # oversize doc
    df = spark.createDataFrame(rows, "doc_id long, text string")
    packer = BinPacker(budget=128, num_partitions=4)
    out1 = packer.transform(df).collect()
    out2 = packer.transform(df).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    by_pack = {}
    oversize = None
    for r in out1:
        if r["overflow"]:
            oversize = r
            continue
        by_pack.setdefault(r["pack_id"], 0)
        by_pack[r["pack_id"]] += r["n_tokens"]
    # the budget is a hard ceiling for every non-overflow pack
    assert all(v <= 128 for v in by_pack.values())
    assert oversize is not None and oversize["doc_id"] == 1000
    # waste bound: FFD fill should stay near the lower bound
    total = sum(r["n_tokens"] for r in out1 if not r["overflow"])
    lower = -(-total // 128)  # ceil
    assert len(by_pack) <= 1.45 * lower + 4


def test_textrank_summarizer(spark):
    from replay_spark.preprocessing.text import TextRankSummarizer

    core = "spark engine runs queries fast"
    doc = ". ".join(
        [
            core + " one",
            core + " two",
            core + " three",
            "totally unrelated isolated thought",
            core + " four",
        ]
    ) + "."
    df = spark.createDataFrame(
        [(0, doc), (1, "Short. Doc.")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in TextRankSummarizer(num_sentences=2).transform(df).collect()
    }
    # the isolated sentence must not make a 2-sentence summary of a
    # 5-sentence doc whose other sentences reinforce each other
    assert "unrelated" not in out[0]["summary"]
    assert out[0]["n_sentences_in"] == 5
    assert out[0]["n_sentences_out"] == 2
    # order preserved: "one" variant precedes later picks
    s = out[0]["summary"]
    assert s.index("one") < s.index("two") if "two" in s else True
    # short docs pass through whole
    assert out[1]["summary"] == "Short. Doc."
    assert out[1]["n_sentences_out"] == 2


def test_kmeans_planted_clusters(spark):
    from replay_spark.ann.kmeans import KMeansClusterer

    # three well-separated planted clusters in 4-d
    centers = [[0.0, 0.0, 0.0, 0.0], [10.0, 10.0, 10.0, 10.0],
               [-10.0, 10.0, -10.0, 10.0]]
    rows = []
    i = 0
    for ci, c in enumerate(centers):
        for j in range(20):
            off = ((j % 5) - 2) * 0.1
            rows.append((i, [x + off for x in c], ci))
            i += 1
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, truth int"
    )
    km = KMeansClusterer(k=3, max_iter=5, seed=7).fit(df)
    out = km.transform(df).select("truth", "cluster").collect()
    # every planted cluster maps to exactly one learned cluster
    mapping = {}
    for r in out:
        mapping.setdefault(r["truth"], set()).add(r["cluster"])
    assert all(len(v) == 1 for v in mapping.values())
    assert len({next(iter(v)) for v in mapping.values()}) == 3
    # centroids converged onto the planted centers
    learned = sorted(tuple(round(x) for x in c) for c in km.centroids)
    assert learned == sorted(tuple(map(round, c)) for c in centers)


def test_kmeans_fixed_centroids_argmin(spark):
    import math

    from replay_spark.ann.kmeans import KMeansClusterer

    cents = [[0.0, 0.0], [4.0, 0.0], [0.0, 4.0]]
    pts = [(0, [0.4, 0.1]), (1, [3.0, 0.2]), (2, [0.5, 3.4]),
           (3, [2.0, 2.0]), (4, [-1.0, -1.0])]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    km = KMeansClusterer(k=3, max_iter=0).fit(df, centroids=cents)
    got = {r["vec_id"]: (r["cluster"], r["sq_dist"])
           for r in km.transform(df).collect()}
    for vid, v in pts:
        dists = [sum((a - b) ** 2 for a, b in zip(v, c)) for c in cents]
        want = min(range(3), key=lambda i: (dists[i], i))
        assert got[vid][0] == want
        assert math.isclose(got[vid][1], dists[want], rel_tol=1e-12)


def test_kmeans_empty_cluster_keeps_centroid(spark):
    from replay_spark.ann.kmeans import KMeansClusterer

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.2, 0.0]), (2, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    far = [100.0, 100.0]
    km = KMeansClusterer(k=2, max_iter=1).fit(
        df, centroids=[[0.0, 0.0], far]
    )
    # nothing is assigned to the far centroid, so it must survive
    assert km.centroids[1] == far


def test_kmeans_inertia_decreases(spark):
    from replay_spark.ann.kmeans import KMeansClusterer

    rows = [(i, [float(i % 7), float((i * 3) % 5)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    km0 = KMeansClusterer(k=4, max_iter=0, seed=3).fit(df)
    start = km0.inertia(df)
    km5 = KMeansClusterer(k=4, max_iter=5, seed=3).fit(df)
    assert km5.inertia(df) <= start + 1e-9


def test_url_canonicalizer(spark):
    from replay_spark.web import UrlCanonicalizer

    cases = [
        # scheme/host case, default port, fragment
        ("HTTP://Example.COM:80/a/b#frag", "http://example.com/a/b"),
        ("https://Example.com:443/", "https://example.com/"),
        # non-default port survives
        ("http://example.com:8080/x", "http://example.com:8080/x"),
        # tracking params stripped, rest sorted, empty query dropped
        ("http://e.com/p?utm_source=x&b=2&a=1", "http://e.com/p?a=1&b=2"),
        ("http://e.com/p?utm_source=x&gclid=9", "http://e.com/p"),
        ("http://e.com/p?z=1&y=2&fbclid=abc", "http://e.com/p?y=2&z=1"),
        # empty path becomes /
        ("http://e.com", "http://e.com/"),
        ("http://e.com?q=1", "http://e.com/?q=1"),
        # non-URL rows pass through trimmed
        ("  not a url  ", "not a url"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "id long, url string"
    )
    got = {
        r["id"]: r["canonical_url"]
        for r in UrlCanonicalizer().transform(df).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i], want)


def test_url_canonicalizer_strip_www_and_dedup(spark):
    from replay_spark.web import UrlCanonicalizer

    rows = [
        (0, "http://WWW.Site.com/a?utm_k=1"),
        (1, "http://site.com:80/a"),
        (2, "http://site.com/b"),
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    canon = UrlCanonicalizer(strip_www=True)
    out = canon.deduplicate(df, tie_column="id").collect()
    kept = {r["canonical_url"]: r["id"] for r in out}
    assert kept == {"http://site.com/a": 0, "http://site.com/b": 2}


def test_stratified_sampler_exact_counts(spark):
    from replay_spark.preprocessing.text import StratifiedSampler

    rows = [(i, "g%d" % (i % 3)) for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = StratifiedSampler(n=7, seed=1).transform(df)
    sizes = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert sizes == {"g0": 7, "g1": 7, "g2": 7}
    # determinism + nesting: the n=3 sample is a subset of the n=7 one
    small = {
        (r["source"], r["doc_id"])
        for r in StratifiedSampler(n=3, seed=1).transform(df).collect()
    }
    big = {
        (r["source"], r["doc_id"])
        for r in out.collect()
    }
    assert small < big
    again = {
        (r["source"], r["doc_id"])
        for r in StratifiedSampler(n=7, seed=1).transform(df).collect()
    }
    assert again == big


def test_stratified_sampler_counts_and_fractions(spark):
    from replay_spark.preprocessing.text import StratifiedSampler

    rows = [(i, "g%d" % (i % 3)) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    # counts dict: absent stratum dropped; over-size target keeps all
    out = StratifiedSampler(counts={"g0": 4, "g2": 99}).transform(df)
    sizes = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert sizes == {"g0": 4, "g2": 10}
    # fractions: floor(f * |stratum|)
    out2 = StratifiedSampler(fractions={"g0": 0.5, "g1": 0.39}).transform(df)
    sizes2 = {
        r["source"]: r["n"]
        for r in out2.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert sizes2 == {"g0": 5, "g1": 3}


def test_zorder_key_interleave_known_values(spark):
    from replay_spark.utils.layout import ZOrderLayout

    # 2-bit grid, 2 columns over [0,3]x[0,3]: classic 4x4 morton square
    rows = [(x, y) for x in range(4) for y in range(4)]
    df = spark.createDataFrame(rows, "x long, y long")
    z = ZOrderLayout(["x", "y"], bits=2)
    got = {(r["x"], r["y"]): r["zkey"] for r in z.transform(df).collect()}

    def morton(x, y):
        out = 0
        for b in range(2):
            out |= ((x >> b) & 1) << (2 * b)
            out |= ((y >> b) & 1) << (2 * b + 1)
        return out

    for (x, y), k in got.items():
        assert k == morton(x, y), (x, y, k)
    # locality smell: the 4 quadrant cells form contiguous key ranges
    q00 = sorted(got[(x, y)] for x in (0, 1) for y in (0, 1))
    assert q00 == [0, 1, 2, 3]


def test_zorder_layout_range_partitioning(spark):
    from replay_spark.utils.layout import ZOrderLayout

    rows = [(i % 50, (i * 7) % 50, i) for i in range(1000)]
    df = spark.createDataFrame(rows, "a long, b long, id long")
    z = ZOrderLayout(["a", "b"], bits=8)
    out = z.layout(df, num_partitions=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()
    assert out.count() == 1000
    # every row keeps its zkey; partition-level key ranges don't overlap
    parts = out.select(
        F.spark_partition_id().alias("p"), "zkey"
    ).groupBy("p").agg(
        F.min("zkey").alias("lo"), F.max("zkey").alias("hi")
    ).orderBy("lo").collect()
    for prev, cur in zip(parts, parts[1:]):
        assert prev["hi"] <= cur["lo"]


def test_zorder_double_columns_and_constant(spark):
    from replay_spark.utils.layout import ZOrderLayout

    rows = [(float(i) / 10.0, 5) for i in range(100)]
    df = spark.createDataFrame(rows, "v double, c long")
    z = ZOrderLayout(["v", "c"], bits=4)
    out = z.transform(df).collect()
    # constant column contributes zero bits; keys ordered like v
    keys = [r["zkey"] for r in sorted(out, key=lambda r: r["v"])]
    assert keys == sorted(keys)
    assert min(keys) == 0


def test_pca_recovers_planted_direction(spark):
    import numpy as np

    from replay_spark.ann import PCAProjector

    rng = np.random.RandomState(0)
    direction = np.array([3.0, 4.0, 0.0, 0.0]) / 5.0
    rows = []
    for i in range(200):
        t = rng.randn() * 10.0
        noise = rng.randn(4) * 0.1
        v = t * direction + noise + np.array([1.0, 2.0, 3.0, 4.0])
        rows.append((i, v.tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pca = PCAProjector(k=2).fit(df)
    c0 = np.asarray(pca.components[0])
    assert abs(abs(float(c0 @ direction)) - 1.0) < 1e-2
    # variance ordering + sign determinism (max-|loading| positive)
    assert pca.explained_variance[0] > pca.explained_variance[1]
    assert c0[int(np.argmax(np.abs(c0)))] > 0
    # projection matches numpy
    out = {r["vec_id"]: r["pca"] for r in pca.transform(df).collect()}
    mu = np.asarray(pca.mean)
    for i, v in rows[:5]:
        want = (np.asarray(v) - mu) @ np.asarray(pca.components).T
        assert np.allclose(out[i], want, atol=1e-9)


def test_pca_orthonormal_components(spark):
    import numpy as np

    from replay_spark.ann import PCAProjector

    rows = [(i, [float((i * j) % 7) for j in range(6)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pca = PCAProjector(k=3).fit(df)
    c = np.asarray(pca.components)
    assert np.allclose(c @ c.T, np.eye(3), atol=1e-9)


def test_pca_fixed_components_path(spark):
    import math

    from replay_spark.ann import PCAProjector

    comps = [[1.0, 0.0], [0.0, -1.0]]
    df = spark.createDataFrame(
        [(0, [2.5, -3.5]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    pca = PCAProjector(k=2).fit(df, components=comps)
    got = {r["vec_id"]: r["pca"] for r in pca.transform(df).collect()}
    assert math.isclose(got[0][0], 2.5) and math.isclose(got[0][1], 3.5)
    assert got[1] == [0.0, -1.0]


def test_embedding_quantizer_roundtrip_bound(spark):
    from replay_spark.ann import EmbeddingQuantizer

    rows = [
        (0, [1.0, -2.0, 0.5, 127.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),  # zero vector -> all-zero codes
        (2, [-0.003, 0.001, 0.002, -0.001]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = EmbeddingQuantizer()
    enc = q.encode(df)
    dec = {r["vec_id"]: r for r in q.decode(enc).collect()}
    for vid, v in rows:
        got = dec[vid]
        assert all(-127 <= c <= 127 for c in got["codes"])
        amax = max(abs(x) for x in v)
        for orig, rec in zip(v, got["decoded"]):
            # SQ8 error bound: half a quantization step
            assert abs(orig - rec) <= amax / 127.0 / 2.0 + 1e-12
    assert dec[1]["codes"] == [0, 0, 0, 0] and dec[1]["scale"] == 0.0
    # extremes hit exactly +-127
    assert dec[0]["codes"][3] == 127


def test_embedding_quantizer_global_mode(spark):
    from replay_spark.ann import EmbeddingQuantizer

    rows = [(0, [1.0, -2.0]), (1, [63.5, -127.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = EmbeddingQuantizer(mode="global").fit(df)
    assert q.global_scale == 1.0
    got = {r["vec_id"]: r for r in q.encode(df).collect()}
    assert got[1]["codes"] == [64, -127]
    assert got[0]["codes"] == [1, -2]
    assert got[0]["scale"] == got[1]["scale"] == 1.0


def test_connected_components_chains_rings_isolates(spark):
    from replay_spark.graph import ConnectedComponents

    edges = (
        # chain 0-1-2-3
        [(0, 1), (1, 2), (2, 3)]
        # ring 10-11-12-10
        + [(10, 11), (11, 12), (12, 10)]
        # self-loop isolate
        + [(20, 20)]
        # merge two chains through a bridge
        + [(30, 31), (40, 41), (31, 40)]
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    cc = ConnectedComponents()
    got = {
        r["node"]: r["component"]
        for r in cc.components(df).collect()
    }
    assert got == {
        0: 0, 1: 0, 2: 0, 3: 0,
        10: 10, 11: 10, 12: 10,
        20: 20,
        30: 30, 31: 30, 40: 30, 41: 30,
    }


def test_connected_components_distributed_path_matches_driver(spark):
    from replay_spark.graph import ConnectedComponents

    edges = [(i, i + 1) for i in range(0, 200) if i % 10 != 9]
    df = spark.createDataFrame(edges, "src long, dst long")
    drv = ConnectedComponents().components(df)
    dist = ConnectedComponents(driver_threshold=0).components(df)
    assert sorted(map(tuple, drv.collect())) == sorted(
        map(tuple, dist.collect())
    )


def test_timeseries_resampler_gaps_and_fills(spark):
    from datetime import datetime

    from replay_spark.timeseries import TimeSeriesResampler

    h = 3600
    rows = [
        # key "a": events in hours 0, 0, 3 -> grid 0..3, gaps at 1, 2
        (1, datetime(2024, 1, 1, 0, 10), 10.0),
        (1, datetime(2024, 1, 1, 0, 50), 5.0),
        (1, datetime(2024, 1, 1, 3, 0), 7.0),
        # key "b": single event -> one-bucket grid
        (2, datetime(2024, 1, 1, 2, 30), 1.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    base = 473385600 // (h // h)  # noqa: F841  (readability anchor)

    def grid(fill):
        rs = TimeSeriesResampler(interval_seconds=h, fill=fill)
        return {
            (r["user_id"], r["bucket"]): r
            for r in rs.transform(df).collect()
        }

    z = grid("zero")
    a_buckets = sorted(b for (u, b) in z if u == 1)
    assert len(a_buckets) == 4 and a_buckets[-1] - a_buckets[0] == 3
    b0 = a_buckets[0]
    assert z[(1, b0)]["n_events"] == 2 and z[(1, b0)]["value_sum"] == 15.0
    assert z[(1, b0 + 1)]["is_gap"] == 1 and z[(1, b0 + 1)]["value_sum"] == 0.0
    assert z[(1, b0 + 3)]["value_sum"] == 7.0
    assert len([1 for (u, _) in z if u == 2]) == 1

    f = grid("ffill")
    assert f[(1, b0 + 1)]["value_sum"] == 15.0  # carried forward
    assert f[(1, b0 + 2)]["value_sum"] == 15.0
    assert f[(1, b0 + 3)]["value_sum"] == 7.0

    n = grid("null")
    assert n[(1, b0 + 2)]["value_sum"] is None
    # bucket_ts reconstructs the bucket start
    assert z[(1, b0)]["bucket_ts"] == datetime(2024, 1, 1, 0, 0)


def test_anomaly_flagger_exact_z_test(spark):
    """Exact integer z²-test over the trailing window: spikes flag,
    in-band wobble doesn't, warm-up rows are NULL, and the current
    row never contributes to its own window."""
    from replay_spark.timeseries import AnomalyFlagger

    vals = [8, 12, 8, 12, 8, 30, 12, 8]
    rows = [(1, i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "user_id long, seq long, value long")
    fl = AnomalyFlagger(
        key_column="user_id", order_columns=["seq"],
        value_column="value", window_rows=5,
        threshold_num=3, threshold_den=1, min_periods=5,
    )
    out = {r.seq: r for r in fl.transform(df).collect()}
    # warm-up: fewer than 5 prior rows -> NULL
    for i in range(5):
        assert out[i].is_anomaly is None, i
    # seq 5 (value 30) vs window [8,12,8,12,8]: c=5 s=48 q=480
    assert (out[5].trailing_n, out[5].trailing_sum,
            out[5].trailing_sumsq) == (5, 48, 480)
    assert out[5].is_anomaly == 1  # (150-48)^2=10404 > 9*96=864
    # seq 6 (value 12) window now holds the spike -> inflated var
    assert out[6].is_anomaly == 0
    # zero-variance window flags ANY deviation, not division-by-zero
    const = spark.createDataFrame(
        [(2, i, 10) for i in range(6)] + [(2, 6, 11)],
        "user_id long, seq long, value long",
    )
    cout = {r.seq: r for r in fl.transform(const).collect()}
    assert cout[5].is_anomaly == 0  # 10 in an all-10 window
    assert cout[6].is_anomaly == 1  # 11 breaks a zero-var window
    with pytest.raises(ValueError, match="min_periods"):
        AnomalyFlagger(min_periods=1)
    with pytest.raises(ValueError, match="window_rows"):
        AnomalyFlagger(window_rows=0)


def test_timeseries_resampler_interpolate(spark):
    from datetime import datetime

    from replay_spark.timeseries import TimeSeriesResampler

    h = 3600
    rows = [
        # key 1: sums 12 at hour 0, 3 at hour 3 -> gaps at 1, 2
        (1, datetime(2024, 1, 1, 0, 10), 10.0),
        (1, datetime(2024, 1, 1, 0, 50), 2.0),
        (1, datetime(2024, 1, 1, 3, 0), 3.0),
        # key 2: single bucket -> nothing to interpolate
        (2, datetime(2024, 1, 1, 2, 30), 1.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double"
    )
    rs = TimeSeriesResampler(interval_seconds=h, fill="interpolate")
    out = {
        (r["user_id"], r["bucket"]): r for r in rs.transform(df).collect()
    }
    b0 = min(b for (u, b) in out if u == 1)
    # linear from 12 (bucket 0) to 3 (bucket 3): 9, 6 on the gaps
    assert out[(1, b0)]["value_sum"] == 12.0
    assert out[(1, b0 + 1)]["value_sum"] == 9.0
    assert out[(1, b0 + 2)]["value_sum"] == 6.0
    assert out[(1, b0 + 3)]["value_sum"] == 3.0
    assert out[(1, b0 + 1)]["is_gap"] == 1

    # global grid: edge buckets before/after a key's span hold the
    # boundary value (one-sided interpolation)
    rows2 = [
        (1, datetime(2024, 1, 1, 0, 0), 4.0),
        (1, datetime(2024, 1, 1, 2, 0), 8.0),
        (2, datetime(2024, 1, 1, 4, 0), 5.0),
    ]
    df2 = spark.createDataFrame(
        rows2, "user_id long, ts timestamp, value double"
    )
    rs2 = TimeSeriesResampler(
        interval_seconds=h, fill="interpolate", extend="global"
    )
    g = {
        (r["user_id"], r["bucket"]): r
        for r in rs2.transform(df2).collect()
    }
    g0 = min(b for (u, b) in g if u == 1)
    assert g[(1, g0 + 1)]["value_sum"] == 6.0  # interior midpoint
    assert g[(1, g0 + 3)]["value_sum"] == 8.0  # trailing edge holds
    assert g[(1, g0 + 4)]["value_sum"] == 8.0
    assert g[(2, g0)]["value_sum"] == 5.0  # leading edge holds
    with pytest.raises(ValueError, match="fill"):
        TimeSeriesResampler(fill="bogus")


def test_timeseries_resampler_global_grid(spark):
    from datetime import datetime

    from replay_spark.timeseries import TimeSeriesResampler

    rows = [
        (1, datetime(2024, 1, 1, 0, 0), 1.0),
        (2, datetime(2024, 1, 1, 5, 0), 2.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    rs = TimeSeriesResampler(interval_seconds=3600, extend="global")
    out = rs.transform(df)
    sizes = {
        r["user_id"]: r["n"]
        for r in out.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert sizes == {1: 6, 2: 6}  # both keys span the global 6-hour grid


def test_negative_sampler_uniform(spark):
    from replay_spark.preprocessing.negative_sampling import NegativeSampler

    # 6 users x 3 items each over a 30-item universe
    rows = [(u, (u * 7 + j * 3) % 30) for u in range(6) for j in range(3)]
    df = spark.createDataFrame(rows, "query_id long, item_id long")
    ns = NegativeSampler(k=4, oversample=3, seed=1)
    out = ns.transform(df).collect()
    history = {}
    for u, i in rows:
        history.setdefault(u, set()).add(i)
    per_pos = {}
    for r in out:
        key = (r["query_id"], r["item_id"])
        per_pos.setdefault(key, []).append(r["neg_item_id"])
        # a negative is never in the query's history
        assert r["neg_item_id"] not in history[r["query_id"]]
    # exactly k negatives per positive (universe is ample)
    assert set(per_pos) == {(u, i) for u, i in rows}
    assert all(len(v) == 4 for v in per_pos.values())
    # deterministic across runs; different under another seed
    again = sorted(map(tuple, ns.transform(df).collect()))
    assert again == sorted(map(tuple, out))
    other = sorted(
        map(tuple, NegativeSampler(k=4, oversample=3, seed=2)
            .transform(df).collect())
    )
    assert other != again


def test_negative_sampler_popularity_and_small_universe(spark):
    from replay_spark.preprocessing.negative_sampling import NegativeSampler

    # item 100 is interacted by 9 queries, item 200 by 1 -> popularity
    # draws should favor 100 heavily for a fresh query
    rows = [(u, 100) for u in range(9)] + [(9, 200), (50, 300)]
    df = spark.createDataFrame(rows, "query_id long, item_id long")
    ns = NegativeSampler(
        k=8, oversample=2, weighting="popularity", seed=3
    )
    out = ns.transform(df).collect()
    # user 50 (history = {300}) draws from {100, 200} by popularity
    mine = [r["neg_item_id"] for r in out
            if r["query_id"] == 50 and r["item_id"] == 300]
    assert mine and set(mine) <= {100, 200}
    assert mine.count(100) > mine.count(200)
    # tiny universe: user 0 (history {100}) can only ever draw 200/300
    mine0 = {r["neg_item_id"] for r in out if r["query_id"] == 0}
    assert mine0 <= {200, 300}


def test_negative_sampler_md5_matches_contract(spark):
    from replay_spark.preprocessing.negative_sampling import NegativeSampler

    rows = [(u, (u + j) % 5) for u in range(4) for j in range(2)]
    df = spark.createDataFrame(rows, "query_id long, item_id long")
    out = NegativeSampler(k=2, hash_fn="md5", seed=7).transform(df)
    got = out.collect()
    assert got  # runs and yields deterministic rows
    again = NegativeSampler(k=2, hash_fn="md5", seed=7).transform(df)
    assert sorted(map(tuple, got)) == sorted(map(tuple, again.collect()))


def test_compact_parquet(spark, tmp_path):
    import os

    from replay_spark.utils.layout import compact_parquet

    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compact")
    rows = [(i, f"text-{i}" * 20) for i in range(2000)]
    # fragment: 64 small files
    spark.createDataFrame(rows, "id long, payload string").repartition(
        64
    ).write.parquet(src)
    n_in = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_in >= 32
    planned = compact_parquet(spark, src, dst, target_file_mb=512)
    assert planned == 1  # tiny table -> one file
    n_out = len([f for f in os.listdir(dst) if f.endswith(".parquet")])
    assert n_out == 1
    # content preserved exactly
    a = sorted(map(tuple, spark.read.parquet(src).collect()))
    b = sorted(map(tuple, spark.read.parquet(dst).collect()))
    assert a == b
    # zorder_by variant clusters while compacting and drops the key
    dst2 = str(tmp_path / "compact_z")
    compact_parquet(spark, src, dst2, target_file_mb=512, zorder_by=["id"])
    df2 = spark.read.parquet(dst2)
    assert set(df2.columns) == {"id", "payload"}
    assert df2.count() == 2000


def test_rolling_aggregator_trailing_window(spark):
    from datetime import datetime, timedelta

    from replay_spark.timeseries import RollingAggregator

    t0 = datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 10),
        (1, t0 + timedelta(seconds=1800), 5),
        (1, t0 + timedelta(seconds=3600), 2),   # 0s event still in range
        (1, t0 + timedelta(seconds=3601), 1),   # 0s event now out
        (2, t0, 100),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value long")
    out = {
        (r["user_id"], r["ts"]): r
        for r in RollingAggregator(window_seconds=3600).transform(df).collect()
    }
    a = out[(1, t0 + timedelta(seconds=3600))]
    assert a["trailing_count"] == 3 and a["trailing_sum"] == 17
    b = out[(1, t0 + timedelta(seconds=3601))]
    assert b["trailing_count"] == 3 and b["trailing_sum"] == 8
    assert b["trailing_min"] == 1 and b["trailing_max"] == 5
    assert out[(2, t0)]["trailing_count"] == 1
    # peers at the same instant are mutually visible (RANGE semantics)
    df2 = spark.createDataFrame(
        [(3, t0, 1), (3, t0, 2)], "user_id long, ts timestamp, value long"
    )
    out2 = RollingAggregator(window_seconds=60).transform(df2).collect()
    assert all(r["trailing_count"] == 2 for r in out2)


def test_chat_templater_render_and_truncation(spark):
    from replay_spark.preprocessing.chat import ChatTemplater

    rows = [
        (0, "be brief", [("user", "hi"), ("assistant", "hello"),
                         ("user", "bye")]),
        (1, None, [("user", "solo")]),
        (2, "", []),
    ]
    df = spark.createDataFrame(
        rows,
        "id long, system string, "
        "turns array<struct<role string, content string>>",
    )
    out = {
        r["id"]: r
        for r in ChatTemplater(system_column="system").transform(df).collect()
    }
    assert out[0]["rendered"] == (
        "<|system|>\nbe brief<|end|>\n"
        "<|user|>\nhi<|end|>\n"
        "<|assistant|>\nhello<|end|>\n"
        "<|user|>\nbye<|end|>\n"
    )
    assert out[1]["rendered"] == "<|user|>\nsolo<|end|>\n"
    assert out[2]["rendered"] == ""  # empty system + no turns

    # keep the LAST 2 turns only
    t2 = {
        r["id"]: r
        for r in ChatTemplater(keep_last_turns=2).transform(df).collect()
    }
    assert t2[0]["rendered"] == (
        "<|assistant|>\nhello<|end|>\n<|user|>\nbye<|end|>\n"
    )
    assert t2[0]["n_turns_kept"] == 2
    assert t2[1]["n_turns_kept"] == 1


def test_avi_container_roundtrip():
    """AVI (RIFF) build → parse → split round trip: metadata fields
    survive exactly, frame payloads come back byte-identical
    (including odd-length frames through RIFF word alignment), and
    non-AVI payloads raise."""
    import pytest

    from replay_spark.multimodal import (
        build_avi_container,
        parse_avi_metadata,
        split_avi_frames,
    )

    frames = [b"\xff\xd8odd", b"\xff\xd8even", b"\xff\xd8x"]
    avi = build_avi_container(frames, fps=12.5, width=16, height=9)
    meta = parse_avi_metadata(avi)
    assert (meta["width"], meta["height"]) == (16, 9)
    assert meta["total_frames"] == 3
    assert (meta["rate"], meta["scale"]) == (12500, 1000)
    assert meta["streams"] == [{"type": "vids", "codec": "MJPG"}]
    assert split_avi_frames(avi) == frames
    for bad in (b"", b"RIFF\x00\x00\x00\x00WAVE", b"\x89PNG1234"):
        with pytest.raises(ValueError):
            parse_avi_metadata(bad)
    with pytest.raises(ValueError):
        build_avi_container([], fps=10.0)


def test_probe_media_dimensions():
    """Header-only dimension sniffing across every in-repo frame
    format — the contract that lets sample_frames keep compressed
    frames compressed."""
    import numpy as np
    import pytest

    from replay_spark.gif import encode_gif
    from replay_spark.jpeg import encode_jpeg
    from replay_spark.multimodal import (
        encode_png,
        encode_ppm,
        probe_media_dimensions,
    )

    img = np.arange(5 * 7, dtype=np.uint8).reshape(5, 7)
    assert probe_media_dimensions(encode_ppm(img)) == (7, 5)
    assert probe_media_dimensions(encode_png(img)) == (7, 5)
    assert probe_media_dimensions(encode_gif([img])) == (7, 5)
    assert probe_media_dimensions(encode_jpeg(img)) == (7, 5)
    assert probe_media_dimensions(
        encode_jpeg(img, progressive=True)
    ) == (7, 5)
    with pytest.raises(ValueError):
        probe_media_dimensions(b"\xff\xd8\xff\xd9" + b"\x00" * 16)
    with pytest.raises(ValueError):
        probe_media_dimensions(b"not media at all")


def test_avi_mjpeg_video_sampling_pipeline(spark):
    """Motion-JPEG AVI as a REAL video container end to end: the
    splitter slices '00dc' chunks (frames stay compressed through
    tick sampling), and the sampled frames decode through the real
    JPEG codec — container video frame decode with no ffmpeg."""
    import numpy as np

    from replay_spark.jpeg import decode_jpeg, encode_jpeg
    from replay_spark.multimodal import (
        MediaProcessor,
        build_avi_container,
        jpeg_image_decoder,
        split_avi_frames,
    )

    frames = [
        encode_jpeg(np.full((8, 8), 16 * j, dtype=np.uint8), quality=90)
        for j in range(6)
    ]
    payload = build_avi_container(frames, fps=10.0, width=8, height=8)
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "media_id long, payload binary"
    )
    proc = MediaProcessor(
        decoder=jpeg_image_decoder, splitter=split_avi_frames
    )
    sampled = proc.sample_frames(df, every_ms=250, fps=10.0)
    rows = sampled.orderBy("frame_index").collect()
    assert [(r.frame_index, r.t_ms) for r in rows] == [
        (0, 0), (2, 250), (5, 500)
    ]
    # sampled payloads are still the compressed JPEG chunks
    assert bytes(rows[1].payload) == frames[2]
    assert (decode_jpeg(bytes(rows[1].payload)) == 32).all()
    out = proc.transform(sampled, passthrough=("frame_index",)).collect()
    hot = {r.frame_index: r.features.index(1.0) for r in out}
    assert hot == {0: 0, 2: 2, 5: 5}


def test_global_shuffler(spark):
    """Deterministic shuffle invariants: positions are dense 1..n
    within each shard, the permutation is reproducible, a different
    seed reorders, and the shard column feeds the export sinks."""
    from replay_spark.preprocessing.text import GlobalShuffler

    df = spark.createDataFrame(
        [(i, f"d{i}") for i in range(40)], "doc_id long, text string"
    )
    out1 = GlobalShuffler(num_shards=4, seed=7).transform(df)
    rows1 = {r.doc_id: (r.shard, r.position) for r in out1.collect()}
    assert len(rows1) == 40
    by_shard: dict = {}
    for shard, pos in rows1.values():
        by_shard.setdefault(shard, []).append(pos)
    assert set(by_shard) == {0, 1, 2, 3}
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    rows2 = {
        r.doc_id: (r.shard, r.position)
        for r in GlobalShuffler(num_shards=4, seed=7)
        .transform(df)
        .collect()
    }
    assert rows1 == rows2
    rows3 = {
        r.doc_id: (r.shard, r.position)
        for r in GlobalShuffler(num_shards=4, seed=8)
        .transform(df)
        .collect()
    }
    assert rows1 != rows3


def test_adpcm_codec_properties():
    """IMA-ADPCM codec: sine SNR, lossless block-seed samples, fact
    trimming, clamp-free encode/decode inverse property, and error
    paths."""
    import numpy as np
    import pytest

    from replay_spark.adpcm import (
        adpcm_audio_decoder,
        decode_adpcm,
        decode_adpcm_wav,
        encode_adpcm,
        encode_adpcm_wav,
    )

    t = np.arange(3000)
    sine = (12000 * np.sin(2 * np.pi * t / 64)).astype(np.int16)
    wav = encode_adpcm_wav(sine, sample_rate=16000)
    back, rate = decode_adpcm_wav(wav)
    assert rate == 16000 and back.size == sine.size
    err = back.astype(float) - sine.astype(float)
    snr = 10 * np.log10(np.mean(sine.astype(float) ** 2) / np.mean(err**2))
    assert snr > 25
    spb = (256 - 4) * 2 + 1
    assert back[0] == sine[0] and back[spb] == sine[spb]

    odd = sine[: spb + 5]
    assert decode_adpcm_wav(encode_adpcm_wav(odd))[0].size == odd.size

    rng = np.random.default_rng(7)
    for _ in range(50):
        bs = rng.integers(0, 256, int(rng.integers(1, 64)))
        nib = [int((8 if b & 4 else 0) | (1 + (b & 3))) for b in bs]
        samples, _, _ = decode_adpcm(nib, 0, 0)
        renib, _, _ = encode_adpcm(samples, 0, 0)
        assert renib == nib

    # saturated input clamps instead of wrapping
    extreme = np.array([32767, -32768] * 200, dtype=np.int16)
    dec, _ = decode_adpcm_wav(encode_adpcm_wav(extreme))
    assert dec.max() <= 32767 and dec.min() >= -32768

    meta = adpcm_audio_decoder(wav)
    assert meta["width"] == 16000 and len(meta["features"]) == 16

    with pytest.raises(ValueError):
        decode_adpcm_wav(b"RIFFxxxxAVI ")
    with pytest.raises(ValueError):
        encode_adpcm_wav(np.array([], dtype=np.int16))
    with pytest.raises(ValueError):
        encode_adpcm_wav(sine, block_align=10)  # not a multiple of 4
    # PCM WAVs are routed elsewhere: tag mismatch raises
    from replay_spark.multimodal import encode_wav

    with pytest.raises(ValueError, match="format tag"):
        decode_adpcm_wav(encode_wav(sine[:100]))


def test_corpus_diff(spark):
    """Diff semantics incl. null content and multi-column hashing:
    null vs empty-string content differ, any content column change
    flips to 'changed', and the plan shuffles only (key, hash)."""
    from replay_spark.preprocessing.dedup import CorpusDiff

    old = spark.createDataFrame(
        [(1, "a", "s1"), (2, "b", "s1"), (3, None, "s2"), (4, "d", "s2")],
        "doc_id long, text string, source string",
    )
    new = spark.createDataFrame(
        [(2, "b", "s1"), (3, "", "s2"), (4, "d", "s9"), (5, "e", "s1")],
        "doc_id long, text string, source string",
    )
    out = CorpusDiff(content_columns=("text", "source")).transform(old, new)
    got = {r.doc_id: r.status for r in out.collect()}
    assert got == {
        1: "removed",
        2: "unchanged",
        3: "changed",  # null -> "" must NOT hash equal
        4: "changed",  # source-only change counts
        5: "added",
    }
    # md5 family gives engine-portable hashes for oracle twins
    got2 = {
        r.doc_id: r.status
        for r in CorpusDiff(
            content_columns=("text",), hash_family="md5"
        ).transform(old, new).collect()
    }
    assert got2[4] == "unchanged"  # text alone did not change


def test_wordpiece_tokenizer(spark):
    """BERT reference algorithm edges: greedy prefers the LONGEST
    piece, continuations carry ##, uncoverable words collapse to
    [UNK] atomically, over-long words short-circuit, and the Spark
    path matches the per-word reference on every row."""
    from replay_spark.preprocessing.bpe import WordPieceTokenizer

    vocab = ["un", "##able", "##a", "##ble", "able", "run", "##ning",
             "runn", "##ing", "r"]
    W = WordPieceTokenizer.tokenize_word
    fs = frozenset(vocab)
    assert W("unable", fs) == ["un", "##able"]      # longest, not ##a+##ble
    assert W("running", fs) == ["runn", "##ing"]    # longest root wins
    assert W("able", fs) == ["able"]
    assert W("zzz", fs) == ["[UNK]"]
    assert W("runx", fs) == ["[UNK]"]               # partial cover -> UNK

    df = spark.createDataFrame(
        [(1, "Unable RUNNING zzz"), (2, None), (3, "able able")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: list(r.tokens)
        for r in WordPieceTokenizer(vocab).transform(df).collect()
    }
    assert rows[1] == ["un", "##able", "runn", "##ing", "[UNK]"]
    assert rows[2] == []
    assert rows[3] == ["able", "able"]


def test_unigram_viterbi_reference():
    """Viterbi edges: score-optimal beats piece-greedy, ties prefer
    fewer pieces then lexicographic, unknown characters admit as
    single-char [UNK] so segmentation is total."""
    from replay_spark.preprocessing.unigram import viterbi_segment

    pieces = {"ab": -1.0, "c": -2.0, "abc": -2.5, "a": -3.0, "b": -3.0}
    V = lambda w, p: viterbi_segment(w, p, 8, "[UNK]", -20.0)
    assert V("abc", pieces) == ["abc"]          # -2.5 beats ab+c -3.0
    assert V("abq", pieces) == ["ab", "[UNK]"]  # unknown char is total
    assert V("abcab", pieces) == ["abc", "ab"]
    # exact tie (-2.5 both ways): fewer pieces wins
    assert V("abc", {"ab": -1.0, "c": -1.5, "abc": -2.5}) == ["abc"]
    # exact tie, same piece count: lexicographically smaller last piece
    tie = {"ab": -1.0, "cd": -1.0, "a": -1.0, "bcd": -1.0}
    assert V("abcd", tie) == ["a", "bcd"]
    assert V("", pieces) == []


def test_unigram_fit_learns_frequent_pieces(spark):
    """EM + pruning must keep high-mass substrings: a corpus that is
    mostly 'hello'/'world' repetitions should segment those words as
    single pieces, keep all single characters, and hit vocab_size."""
    from replay_spark.preprocessing.unigram import UnigramTokenizer

    rows = [(i, "hello world " * 3) for i in range(20)] + [
        (100 + i, "hex wold") for i in range(2)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    tok = UnigramTokenizer(
        vocab_size=40, max_piece_length=6, seed_size=200
    ).fit(df)
    chars = {c for w in ("hello", "world", "hex", "wold") for c in w}
    assert chars <= set(tok.pieces)
    assert len(tok.pieces) <= 40 + 0  # pruned to target (chars fit)
    got = {
        r.doc_id: list(r.tokens)
        for r in tok.transform(df).collect()
    }
    assert got[0][:2] == ["hello", "world"]
    # log-probs normalize to <= 0 and the frequent piece outranks rare
    assert all(v < 0 for v in tok.pieces.values())
    assert tok.pieces["hello"] > tok.pieces["x"]


def test_unigram_driver_distributed_parity(spark):
    """The distributed E-step (broadcast model + mapInPandas
    forward-backward + map-side-combined sum) must select the same
    vocabulary and produce the same segmentations as the in-driver
    loop on a well-separated corpus."""
    from replay_spark.preprocessing.unigram import UnigramTokenizer

    rows = [
        (0, "the cat sat on the mat"),
        (1, "the cats sat on the mats"),
        (2, "a hat and a bat and a mat"),
        (3, "that cat that bat that hat"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(vocab_size=30, max_piece_length=4, seed_size=120,
              num_iterations=2)
    driver = UnigramTokenizer(**kw).fit(df)
    dist = UnigramTokenizer(driver_threshold=0, **kw).fit(df)
    assert set(driver.pieces) == set(dist.pieces)
    t1 = driver.transform(df).orderBy("doc_id").collect()
    t2 = dist.transform(df).orderBy("doc_id").collect()
    assert [r.tokens for r in t1] == [r.tokens for r in t2]


def test_unigram_transform_edges(spark):
    """from_vocab inference: None text -> [], lowercase fold, words
    segment independently and concatenate in order."""
    from replay_spark.preprocessing.unigram import UnigramTokenizer

    tok = UnigramTokenizer.from_vocab(
        {"ab": -1.0, "cd": -1.0, "abcd": -1.5, "q": -10.0}
    )
    df = spark.createDataFrame(
        [(1, "ABCD abq"), (2, None), (3, "abz cdcd")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: list(r.tokens) for r in tok.transform(df).collect()
    }
    assert rows[1] == ["abcd", "ab", "q"]
    assert rows[2] == []
    assert rows[3] == ["ab", "[UNK]", "cd", "cd"]


def test_bleu_scorer_golden(spark):
    """Hand-verified clipped-precision case plus edges: perfect
    match -> 1.0, disjoint -> 0.0, null candidate -> 0.0, and the
    sufficient statistics are exact integers."""
    from replay_spark.preprocessing.text_metrics import BleuScorer

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat", "the cat is on the mat"),
            (2, "a b c d", "e f g h"),
            (3, None, "ref here"),
            (4, "same same", "same same"),
        ],
        "id long, candidate string, reference string",
    )
    rows = {r.id: r for r in BleuScorer().transform(df).collect()}
    r1 = rows[1]
    # unigrams: the(2) cat(1) on(1) mat(1) = 5 of 6; bigrams 3 of 5
    assert (r1.match_1, r1.total_1, r1.match_2, r1.total_2) == (5, 6, 3, 5)
    # smoothing-1: p=(5/6, 4/6, 2/5, 1/4), BP=1
    import math
    want = math.exp(sum(math.log(p) for p in (5 / 6, 4 / 6, 2 / 5, 1 / 4)) / 4)
    assert abs(r1.bleu - want) < 1e-12
    assert rows[2].bleu == 0.0 and rows[3].bleu == 0.0
    assert rows[4].bleu == 1.0
    # brevity penalty: shorter candidate is penalized exponentially
    df2 = spark.createDataFrame(
        [(1, "a b", "a b c d")], "id long, candidate string, reference string"
    )
    r = BleuScorer(max_n=1, smooth=False).transform(df2).collect()[0]
    assert abs(r.bleu - math.exp(1 - 4 / 2)) < 1e-12


def test_bleu_corpus_aggregation(spark):
    """The statistics must SUM into corpus BLEU: summed match/total
    equals recomputing over the concatenated pair list."""
    from replay_spark.preprocessing.text_metrics import BleuScorer
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, "x " * (i % 4 + 2) + "z", "x " * (i % 3 + 2) + "z") for i in range(30)],
        "id long, candidate string, reference string",
    )
    out = BleuScorer(max_n=2).transform(df)
    agg = out.agg(
        F.sum("match_1").alias("m1"), F.sum("total_1").alias("t1")
    ).collect()[0]
    want_m1 = sum(min(i % 4 + 2, i % 3 + 2) + 1 for i in range(30))
    want_t1 = sum(i % 4 + 3 for i in range(30))
    assert (agg.m1, agg.t1) == (want_m1, want_t1)


def test_rouge_scorer(spark):
    """ROUGE-N recall denominators come from the REFERENCE; LCS DP
    against brute-force subsequence checks."""
    from replay_spark.preprocessing.text_metrics import RougeScorer

    L = RougeScorer.lcs_length
    assert L("abcde", "ace") == 3
    assert L("abc", "xyz") == 0
    assert L([], ["a"]) == 0
    assert L(list("AGGTAB"), list("GXTXAYB")) == 4
    df = spark.createDataFrame(
        [(1, "the cat sat", "the cat sat on the mat")],
        "id long, candidate string, reference string",
    )
    r = RougeScorer().transform(df).collect()[0]
    assert (r.rouge1_match, r.rouge1_total) == (3, 6)
    assert (r.rouge2_match, r.rouge2_total) == (2, 5)
    assert r.lcs_len == 3
    assert abs(r.rougeL_f - 2 * 3 / (3 + 6)) < 1e-12


def test_phrase_miner(spark):
    """word2phrase algebra: exact integer counts and score
    numerator/denominator, min_count gating, greedy non-overlapping
    rewrite."""
    from replay_spark.preprocessing.phrases import PhraseMiner

    df = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b c")], "doc_id long, text string"
    )
    pm = PhraseMiner(min_count=2, delta=0, threshold=1.0)
    scored = {
        (r.a, r.b): (r.pair_count, r.score_num, r.score_den)
        for r in pm.score_table(df).collect()
    }
    # pairs: ab x3, ba x1, bc x1 -> only ab survives min_count=2
    # N=7 tokens; counts a=3 b=3 c=1
    assert scored == {("a", "b"): (3, 21, 9)}
    pm.fit(df)
    assert pm._promoted == [("a", "b")]
    out = {
        r.doc_id: r.phrased_text
        for r in pm.transform(
            spark.createDataFrame(
                [(0, "a b a b"), (1, "x A b y"), (2, None), (3, "a a b")],
                "doc_id long, text string",
            )
        ).collect()
    }
    assert out[0] == "a_b a_b"
    assert out[1] == "x a_b y"        # lowercase fold
    assert out[2] is None
    assert out[3] == "a a_b"          # greedy: first 'a' alone


def test_kmeans_quantized_update_reproducible_and_close(spark):
    """update_quantization makes Lloyd's centroid update order-free:
    fits over different partitionings are bit-identical, and the
    learned centroids sit within 0.5/q per component of the plain
    float fit."""
    from replay_spark.ann.kmeans import KMeansClusterer

    rows = [
        (i, [((i * 37 + d * 11) % 100) / 100.0 - 0.5 for d in range(8)])
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [r["embedding"] for r in df.filter("vec_id < 4").collect()]
    fit = lambda frame: KMeansClusterer(
        k=4, max_iter=3, update_quantization=1e6
    ).fit(frame, centroids=cents).centroids
    a = fit(df.repartition(3))
    b = fit(df.repartition(17))
    assert a == b  # bit-identical across partitionings
    plain = (
        KMeansClusterer(k=4, max_iter=3)
        .fit(df.repartition(3), centroids=cents)
        .centroids
    )
    for ca, cp in zip(a, plain):
        assert all(abs(x - y) < 1e-4 for x, y in zip(ca, cp))


def test_pca_quantized_fit_reproducible_and_close(spark):
    """quantization makes the one-pass covariance order-free:
    identical across partitionings, covariance/components within
    quantization error of the float fit, and transform output still
    matches numpy PCA directions."""
    import numpy as np

    from replay_spark.ann import PCAProjector

    rng = np.random.RandomState(5)
    base = rng.randn(150, 6) * np.array([3.0, 2.0, 1.0, 0.5, 0.2, 0.1])
    rows = [(i, [float(x) for x in base[i]]) for i in range(150)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    p1 = PCAProjector(k=3, quantization=1e6).fit(df.repartition(2))
    p2 = PCAProjector(k=3, quantization=1e6).fit(df.repartition(13))
    assert p1.covariance == p2.covariance  # bit-identical
    assert p1.components == p2.components
    plain = PCAProjector(k=3).fit(df.repartition(2))
    c_q = np.array(p1.covariance)
    c_f = np.array(plain.covariance)
    assert np.abs(c_q - c_f).max() < 1e-4
    # component directions agree with numpy eigh on the exact data
    x = base - base.mean(axis=0)
    _, vecs = np.linalg.eigh(x.T @ x / len(x))
    for i, comp in enumerate(np.array(p1.components)):
        ref = vecs[:, -(i + 1)]
        assert abs(abs(comp @ ref) - 1.0) < 1e-3


def test_pca_quantized_overflow_guard(spark):
    """The integer Gram partial refuses to overflow int64 silently."""
    import pytest

    from replay_spark.ann import PCAProjector

    df = spark.createDataFrame(
        [(0, [1e6, 1e6]), (1, [1e6, -1e6])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="overflow"):
        PCAProjector(k=1, quantization=1e9).fit(df)


def test_document_embedder(spark):
    """Hashed TF-IDF embeddings: fixed dim, L2-normalized, idf
    down-weights ubiquitous tokens, empty docs embed as zeros, and
    md5/xxhash64 families agree on shape."""
    import math

    from replay_spark.preprocessing import DocumentEmbedder

    docs = spark.createDataFrame(
        [
            (0, "apple banana apple"),
            (1, "apple cherry"),
            (2, "apple banana"),
            (3, "   "),
        ],
        "doc_id long, text string",
    )
    emb = DocumentEmbedder(dim=16, hash_family="md5").fit(docs)
    out = {r.doc_id: list(r.embedding) for r in emb.transform(docs).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert all(len(v) == 16 for v in out.values())
    for d in (0, 1, 2):
        assert math.isclose(
            sum(x * x for x in out[d]), 1.0, rel_tol=1e-9
        )
    assert out[3] == [0.0] * 16
    # idf: 'apple' (df=3) weighs less than 'cherry' (df=1) in doc 1
    bucket = lambda tok: int(
        __import__("hashlib").md5(tok.encode()).hexdigest()[:15], 16
    ) % 16
    b_apple, b_cherry = bucket("apple"), bucket("cherry")
    assert b_apple != b_cherry  # planted tokens land apart at dim=16
    assert out[1][b_cherry] > out[1][b_apple] > 0
    # deterministic across repartitionings
    out2 = {
        r.doc_id: list(r.embedding)
        for r in emb.transform(docs.repartition(7)).collect()
    }
    assert out == out2
    # feeds the ANN tier end to end
    from replay_spark.ann import BruteForceANN

    vecs = emb.transform(docs).filter("doc_id < 3").select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    nn = BruteForceANN().search(vecs, vecs, k=1)
    best = {r.query_id: r.neighbor_id for r in nn.collect()}
    assert best[0] == 2  # shares apple+banana


def test_kmeans_quantized_update_overflow_guard(spark):
    """Quantized Lloyd sums are plain BIGINTs; a sum that could pass
    2^62 must raise OverflowError instead of wrapping silently (r9
    ADVICE — same loud-failure contract as the PCA path)."""
    import pytest as _pytest

    from replay_spark.ann.kmeans import KMeansClusterer

    df = spark.createDataFrame(
        [(i, [1e9, -1e9]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    km = KMeansClusterer(k=2, max_iter=1, update_quantization=1e12)
    with _pytest.raises(OverflowError, match="update_quantization"):
        km.fit(df, centroids=[[0.0, 0.0], [1e9, -1e9]])
    # a sane quantization on the same data still fits
    km2 = KMeansClusterer(k=2, max_iter=1, update_quantization=1e3)
    km2.fit(df, centroids=[[0.0, 0.0], [1e9, -1e9]])
    assert len(km2.centroids) == 2


def test_incremental_dedup_bloom_pruned_store_scan(spark, tmp_path):
    """bloom_index=True: the anti-join reads only the store files
    whose Bloom sidecar might contain a batch hash — asserted via
    the scanned/total telemetry — and the surviving rows are
    IDENTICAL to the unpruned path on the same batch sequence."""
    from replay_spark.preprocessing.dedup import IncrementalDeduplicator

    batches = [
        [(0, "alpha"), (1, "beta"), (2, "alpha")],
        [(10, "gamma"), (11, "delta")],
        [(20, "epsilon"), (21, "zeta")],
        # replays: beta (batch 1) + delta (batch 2) + a fresh doc
        [(30, "beta"), (31, "delta"), (32, "eta")],
    ]
    dfs = [
        spark.createDataFrame(rows, "doc_id long, text string")
        for rows in batches
    ]
    plain = IncrementalDeduplicator(str(tmp_path / "plain"))
    bloom = IncrementalDeduplicator(
        str(tmp_path / "bloom"), bloom_index=True
    )
    for i, df in enumerate(dfs):
        want = sorted(r.doc_id for r in plain.transform(df).collect())
        got = sorted(r.doc_id for r in bloom.transform(df).collect())
        assert got == want, i
    # the final batch's probes hit files from batches 1 and 2 only:
    # batch 3's store file (epsilon/zeta) must have been skipped
    assert bloom.last_store_files_total >= 3
    assert bloom.last_store_files_scanned < bloom.last_store_files_total
    # the _blooms sidecar dir never breaks plain store reads
    assert bloom._store(spark).count() == 7


def test_hdr_quantile_sketch_error_bound_and_merge(spark):
    """HdrQuantileSketch: every quantile estimate is within 2^-k
    relative of the exact quantile; shard sketches merged bucket-wise
    equal the whole-corpus sketch; grouped path matches per-group."""
    from replay_spark.preprocessing.text import HdrQuantileSketch
    from replay_spark.utils.spark_utils import grouped_exact_quantiles

    rows = [
        ("a", (7 * i * i + 3 * i) % 100_000) for i in range(2000)
    ] + [("b", (13 * i + 1) % 500) for i in range(500)]
    df = spark.createDataFrame(rows, "g string, v long")
    sk = HdrQuantileSketch(precision_bits=7, value_column="v")
    probs = [0.1, 0.5, 0.9, 0.99, 1.0]
    sketch = sk.fit_grouped(df, "g")
    est = {
        (r.g, r.prob): r.value
        for r in sk.quantiles_grouped(sketch, "g", probs).collect()
    }
    exact = {
        (r.g, r.prob): r.value
        for r in grouped_exact_quantiles(df, "g", "v", probs).collect()
    }
    assert set(est) == set(exact)
    for key, ex in exact.items():
        lo = est[key]
        # lower bound of the bucket holding the exact value:
        # lo <= exact < lo * (1 + 2^-k) (+1 for the exact region)
        assert lo <= ex, (key, lo, ex)
        assert ex <= lo + max(1, lo >> 7), (key, lo, ex)
    # mergeability: shard sketches add bucket-wise to the full one
    sh1 = sk.fit_grouped(df.filter("v % 2 = 0"), "g")
    sh2 = sk.fit_grouped(df.filter("v % 2 = 1"), "g")
    merged = HdrQuantileSketch.merge(sh1, sh2)
    full = {
        (r.g, r.bucket): r.cnt for r in sketch.collect()
    }
    assert {
        (r.g, r.bucket): r.cnt for r in merged.collect()
    } == full
    # bounded state: far fewer buckets than distinct values
    assert sketch.filter("g = 'a'").count() < 600


def test_hdr_quantile_sketch_bucket_sql_parity(spark):
    """The bucket_sql() formula run in DuckDB assigns every value to
    the same bucket as the Spark expression."""
    import duckdb

    from replay_spark.preprocessing.text import HdrQuantileSketch

    vals = list(range(0, 4096)) + [
        2**p + d for p in range(12, 40) for d in (-1, 0, 1, 12345 % (2**p))
    ]
    vals = sorted({v for v in vals if v >= 0})
    sk = HdrQuantileSketch(precision_bits=7, value_column="v")
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {
        r.v: r.b
        for r in df.select("v", sk._bucket().alias("b")).collect()
    }
    sql = sk.bucket_sql("v")
    con = duckdb.connect()
    con.execute("CREATE TABLE t(v BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    want = dict(con.execute(f"SELECT v, {sql} FROM t").fetchall())
    assert got == want
    # monotone in v (bucket boundaries never invert)
    bs = [got[v] for v in vals]
    assert bs == sorted(bs)


def test_kcore_decomposition(spark):
    """k-core peeling: clique=3-core, triangle=2-core, chain=1-core;
    iterative endpoint peeling handles deep chains; core_numbers
    agrees with per-k membership."""
    from replay_spark.graph import KCoreDecomposition

    clique = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    tri = [(8, 9), (9, 10), (8, 10)]
    chain = [(i, i + 1) for i in range(20, 28)]
    tail = [(11, 0)]
    edges = spark.createDataFrame(
        clique + tri + chain + tail, "src long, dst long"
    )
    kc = KCoreDecomposition()
    assert sorted(
        r.node for r in kc.core(edges, 3).collect()
    ) == [0, 1, 2, 3]
    assert sorted(
        r.node for r in kc.core(edges, 2).collect()
    ) == [0, 1, 2, 3, 8, 9, 10]
    # chain peeling for k=2 must fully dissolve the chain (many
    # rounds of endpoint removal), not stop after one
    assert kc.rounds_ >= 4
    got = {
        r.node: r.core
        for r in kc.core_numbers(edges, max_k=4).collect()
    }
    for n in range(4):
        assert got[n] == 3
    for n in (8, 9, 10):
        assert got[n] == 2
    for n in (11, 20, 27):
        assert got[n] == 1
    # empty k-core
    assert kc.core(edges, 4).count() == 0


def test_reciprocal_rank_fusion(spark):
    """RRF: fused score = sum of 1/(k+rank) over present sources;
    ties (swapped rank pairs) break on doc id; absent docs
    contribute nothing for that source."""
    from replay_spark.preprocessing.text import ReciprocalRankFusion

    r1 = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)],
        "query_id long, doc_id long, rank long",
    )
    r2 = spark.createDataFrame(
        [(0, 11, 1), (0, 10, 2), (0, 13, 1)],  # 13 only in source 2
        "query_id long, doc_id long, rank long",
    )
    out = {
        r.doc_id: (r.fused_rank, r.rrf_score)
        for r in ReciprocalRankFusion(k=60).fuse(r1, r2).collect()
    }
    # docs 10 and 11 have swapped (1,2)/(2,1) -> equal score, tie
    # breaks on id: 10 before 11
    assert out[10][0] == 1 and out[11][0] == 2
    assert abs(out[10][1] - (1 / 61 + 1 / 62)) < 1e-12
    assert abs(out[13][1] - 1 / 61) < 1e-12  # missing source -> 0
    assert out[12][0] == 4
    import pytest as _pytest

    with _pytest.raises(ValueError):
        ReciprocalRankFusion(k=0)


def test_weighted_sampler_properties(spark):
    """E-S weighted sampling: deterministic per seed, exactly k
    rows, non-positive weights excluded, and across seeds a
    10x-weighted item is selected far more often than a 1x one."""
    from replay_spark.preprocessing.text import WeightedSampler

    rows = [(i, 10.0 if i < 20 else 1.0) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, weight double")
    ws = WeightedSampler(k=40, seed=0)
    got1 = sorted(r.doc_id for r in ws.transform(df).collect())
    got2 = sorted(r.doc_id for r in ws.transform(df).collect())
    assert got1 == got2 and len(got1) == 40          # deterministic
    ranked = ws.ranked(df)
    assert ranked.count() == 40
    assert sorted(r.sample_rank for r in ranked.collect()) == list(
        range(1, 41)
    )
    heavy_hits = 0
    for seed in range(8):
        sel = {
            r.doc_id
            for r in WeightedSampler(k=40, seed=seed)
            .transform(df)
            .collect()
        }
        heavy_hits += len(sel & set(range(20)))
    # heavy items are 10% of rows but ~10x weight: expect most of the
    # 20 heavy ids selected per draw (E-S gives them ~10x inclusion
    # odds); 8 seeds x 20 -> well above the uniform ~32 total
    assert heavy_hits > 80, heavy_hits
    # non-positive / null weights never selected
    df2 = spark.createDataFrame(
        [(1, 5.0), (2, 0.0), (3, -1.0), (4, None), (5, 2.0)],
        "doc_id long, weight double",
    )
    sel = sorted(
        r.doc_id
        for r in WeightedSampler(k=10, seed=1).transform(df2).collect()
    )
    assert sel == [1, 5]


def test_near_dup_clusters_auto_jump(spark):
    """The "auto" trigger (r16 default) derives the jump from the
    measured change rate: a deep chain enables it (converging well
    inside plain-propagation bounds, same components), while a star
    graph converges in the same round count as any hand-tuned
    setting — no jump join is ever paid there."""
    from replay_spark.preprocessing.dedup import NearDupClusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 16)], "id_a long, id_b long"
    )
    auto = NearDupClusters(max_iterations=9, driver_threshold=0)
    comps = auto.components(chain).collect()
    assert {(r["node"], r["component"]) for r in comps} == {
        (i, 1) for i in range(1, 17)
    }
    assert auto.last_rounds_ <= 7  # plain-only would need 15

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 30)] + [(100, 100 + i) for i in range(1, 30)],
        "id_a long, id_b long",
    )
    auto_s = NearDupClusters(driver_threshold=0)
    tuned_s = NearDupClusters(driver_threshold=0, jump_after_rounds=3)
    got_auto = {(r["node"], r["component"]) for r in auto_s.components(star).collect()}
    got_tuned = {(r["node"], r["component"]) for r in tuned_s.components(star).collect()}
    assert got_auto == got_tuned
    assert auto_s.last_rounds_ == tuned_s.last_rounds_

