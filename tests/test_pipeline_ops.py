"""Training-data pipeline ops over the driver-provided testdata tables:
dedup (exact/minhash/simhash/ngram), similarity search, text analysis,
multimodal plumbing."""

import os

import pytest
from pyspark.sql import functions as F

from nutch_spark.functions.similarity import (
    ann_cosine_topk,
    brute_force_cosine_topk,
    embedding_near_duplicates,
)
from nutch_spark.functions.text import (
    bpe_ish_token_count,
    detect_language,
    fingerprint,
    quality_score,
    token_count,
)
from nutch_spark.operators.dedup import (
    dedup_exact_keep_first,
    exact_duplicates,
    lsh_candidate_pairs,
    minhash_jaccard,
    minhash_near_duplicates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)
from nutch_spark.operators.media import (
    extract_media_features,
    media_span_join,
    sample_video_frames,
    synth_media_table,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
# the ANN recall locks need sf0.1's embeddings: SF_DIR's sibling
SF01_DIR = os.path.join(os.path.dirname(os.path.normpath(SF_DIR)), "sf0.1")


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "same text here"), (2, "same text here"), (3, "different")],
        "doc_id long, text string",
    )
    dups = exact_duplicates(df).collect()
    assert len(dups) == 1 and dups[0].doc_ids == [1, 2]
    kept = {r.doc_id for r in dedup_exact_keep_first(df).collect()}
    assert kept == {1, 3}


def test_minhash_near_dup_detects_planted_pair(spark):
    base = "the quick brown fox jumps over the lazy dog again and again in the morning"
    near = base.replace("morning", "evening")
    far = "completely unrelated content about database query optimization techniques"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = minhash_near_duplicates(df, threshold=0.3).collect()
    assert {(r.a, r.b) for r in pairs} == {(1, 2)}


def test_minhash_identical_is_one(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(df)
    pairs = lsh_candidate_pairs(sigs)
    jc = minhash_jaccard(sigs, pairs).collect()
    assert len(jc) == 1 and abs(jc[0].est_jaccard - 1.0) < 1e-9


def test_ngram_jaccard_exact(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d x")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "a long, b long")
    out = ngram_jaccard_pairs(df, pairs, n=3).collect()[0]
    # grams1={abc,bcd,cde}, grams2={abc,bcd,cdx} -> |∩|=2 |∪|=4
    assert abs(out.jaccard - 0.5) < 1e-9


def test_simhash_near_dup(spark):
    base = " ".join(f"word{i}" for i in range(60))
    near = base.replace("word7 ", "word7x ")
    far = " ".join(f"other{i}" for i in range(60))
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], "doc_id long, text string")
    got = {(r.a, r.b) for r in simhash_near_duplicates(df, max_hamming=8).collect()}
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_dedup_on_real_documents(spark, documents):
    """Runs at sf0.001 over the driver corpus — sanity + no crashes."""
    n = documents.count()
    kept = dedup_exact_keep_first(documents).count()
    assert 0 < kept <= n


def test_brute_force_topk_self_nearest(spark, embeddings):
    q = embeddings.limit(3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    top = brute_force_cosine_topk(embeddings, q, k=1).collect()
    # each query's own vector is its nearest neighbor (cosine 1.0)
    assert all(r.nn_id == r.q_id and abs(r.cosine - 1.0) < 1e-4 for r in top)


def test_ann_recall_reasonable(spark, embeddings):
    q = embeddings.limit(10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {(r.q_id, r.nn_id) for r in brute_force_cosine_topk(embeddings, q, k=1).collect()}
    ann = {(r.q_id, r.nn_id) for r in ann_cosine_topk(embeddings, q, k=1, n_planes=6).collect()}
    # self-match always shares the bucket -> recall 1.0 for k=1 self queries
    assert exact == ann


def test_embedding_near_duplicates(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.999, 0.001, 0.0]), (3, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    pairs = embedding_near_duplicates(df, threshold=0.99, n_planes=4, dim=3)
    assert {(r.a, r.b) for r in pairs.collect()} == {(1, 2)}


def test_text_analysis_columns(spark, documents):
    out = documents.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).alias("n_bpe"),
        detect_language(F.col("text")).alias("lang_pred"),
        quality_score(F.col("text")).alias("quality"),
        fingerprint(F.col("text")).alias("fp"),
    )
    rows = out.collect()
    assert all(r.n_tokens >= 0 and r.n_bpe >= r.n_tokens * 0 for r in rows)
    assert all(0.0 <= r.quality <= 1.0 for r in rows)
    langs = {r.lang_pred for r in rows}
    assert langs <= {"en", "de", "fr", "es", "und"}


def test_detect_language_known_samples(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog went to the house for food"),
            (2, "der hund und die katze sind nicht in das haus"),
            (3, "le chat et les chiens sont dans la maison pour manger"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.l for r in df.select("doc_id", detect_language(F.col("text")).alias("l")).collect()}
    assert got == {1: "en", 2: "de", 3: "fr"}


def test_media_pipeline_plumbing(spark, corpus_parsed):
    """Multimodal: synth media for the parse's media refs -> features ->
    span join. extract_media_features is the image-pixel kernel (REAL
    PPM/BMP/PNG decode); audio (WAV) and video (AVI) payloads decode in
    their own kernels, so here they must surface decoded=False, not fail."""
    spans = corpus_parsed["span_rows"]
    refs = [r.media_ref for r in
            spans.filter(F.col("kind") == "media").select("media_ref").distinct().limit(20).collect()]
    media = synth_media_table(spark, refs + ["http://x.com/v.mp4"])
    feats = extract_media_features(media)
    got = feats.collect()
    assert all(len(r.feature) == 8 for r in got)
    # every real image payload decodes; non-image payloads don't and say so
    assert all(r.decoded for r in got if r.kind == "image")
    assert all(not r.decoded for r in got if r.kind != "image")
    assert any(r.kind != "image" for r in got)
    # video frame sampling emits one row per sampled ts
    frames = sample_video_frames(media, every_ms=500)
    assert frames.count() > 0
    # span-level join back onto documents
    joined = media_span_join(corpus_parsed["documents"], feats)
    assert joined.filter(F.col("feature").isNotNull()).count() > 0


def test_simhash_vectorized_matches_scalar_reference(spark):
    """The factorize+reduceat simhash equals a straightforward per-doc
    reference computation (semantics lock for the vectorized kernel)."""
    import hashlib
    import re as _re

    import numpy as np

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "completely different content here entirely",
        "", "repeat repeat repeat repeat",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    from nutch_spark.operators.dedup import simhash_signatures
    got = {r.doc_id: r.simhash for r in simhash_signatures(df).collect()}

    tok_re = _re.compile(r"\w+", _re.UNICODE)
    for i, t in enumerate(texts):
        toks = tok_re.findall(t.lower())
        if not toks:
            assert got[i] == 0
            continue
        acc = np.zeros(64, dtype=np.int64)
        for tok in toks:
            h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "little")
            for bi in range(64):
                acc[bi] += 1 if (h >> bi) & 1 else -1
        v = 0
        for bi in range(64):
            if acc[bi] > 0:
                v |= 1 << bi
        expect = np.uint64(v).astype(np.int64)
        assert got[i] == expect, i


def test_minhash_vectorized_matches_scalar_reference(spark):
    """Same lock for minhash: unique-hash + matrix path equals the per-doc
    definition (incl. the deliberate uint64 wrap in (a*h+b))."""
    import hashlib
    import re as _re

    import numpy as np

    from nutch_spark.operators.dedup import minhash_permutation_coeffs, minhash_signatures

    texts = ["alpha beta gamma delta epsilon", "alpha beta gamma delta zeta", "x y"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r.doc_id: r.sig for r in minhash_signatures(df, num_perm=16).collect()}
    a, b = minhash_permutation_coeffs(16)
    tok_re = _re.compile(r"\w+", _re.UNICODE)
    M = (1 << 61) - 1
    for i, t in enumerate(texts):
        toks = tok_re.findall(t.lower())
        sh = ([" ".join(toks[j:j + 3]) for j in range(len(toks) - 2)]
              if len(toks) >= 3 else [" ".join(toks)])
        expect = []
        for p in range(16):
            vals = []
            for s in sh:
                h = int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "little")
                vals.append(int((np.uint64(a[p]) * np.uint64(h) + np.uint64(b[p])) % np.uint64(M)))
            expect.append(np.uint64(min(vals)).astype(np.int64))
        assert list(got[i]) == [int(x) for x in expect], i


def test_simhash_banding_planted_recall(spark):
    """Recall lock for the h+1 banding: pairs planted at hamming 4-6 with
    differing bits SPREAD ACROSS ALL FOUR of the old 16-bit bands (the
    round-1 recall bug's blind spot) must all be captured at max_hamming=6."""
    from nutch_spark.operators.dedup import simhash_band_bounds, simhash_candidate_pairs

    base = 0x0123456789ABCDEF
    planted = []
    # flip bits in different 16-bit quarters so every old band differs
    flips = [
        [0, 16, 32, 48],           # hamming 4, one per old band
        [1, 17, 33, 49, 60],       # hamming 5
        [2, 18, 34, 50, 61, 15],   # hamming 6
    ]
    rows = [(0, base)]
    for i, fl in enumerate(flips, start=1):
        v = base
        for bit in fl:
            v ^= 1 << bit
        rows.append((i, v))
        planted.append((0, i, len(fl)))
    import numpy as np
    sigs = spark.createDataFrame(
        [(d, int(np.uint64(v).astype(np.int64))) for d, v in rows],
        "doc_id long, simhash long",
    )
    got = {(r.a, r.b): r.hamming for r in
           simhash_candidate_pairs(sigs, max_hamming=6).collect()}
    for a_, b_, h in planted:
        assert (a_, b_) in got, f"planted pair at hamming {h} missed"
        assert got[(a_, b_)] == h
    # sanity: band bounds tile all 64 bits with h+1 bands
    bounds = simhash_band_bounds(6)
    assert len(bounds) == 7 and sum(w for _, w in bounds) == 64


def test_ann_planted_recall_at_scale_params(spark):
    """ANN recall lock (sf0.1): queries are perturbed copies of 100 real
    vectors, so each query's true nearest neighbor is its source vector at
    cosine ~0.99. Multi-table LSH (8 tables x 12 planes, bucket_cap=500)
    must recover >=90% of them. (Raw top-10 recall over the UNperturbed
    corpus is not a meaningful LSH target here: the synthetic embeddings
    are near-orthogonal — nearest neighbors sit at ~72 degrees, where the
    per-plane collision probability is ~0.6 and no sublinear bucketing
    recovers them by construction.)"""
    import numpy as np

    from nutch_spark.functions.similarity import ann_cosine_topk

    e = spark.read.parquet(f"{SF01_DIR}/embeddings.parquet")
    base = e.orderBy("vec_id").limit(100).collect()
    rng = np.random.default_rng(7)
    qrows = []
    for r in base:
        v = np.asarray(r.embedding, dtype=np.float64)
        q = v + 0.05 * np.linalg.norm(v) / 8.0 * rng.standard_normal(v.size)
        qrows.append((int(r.vec_id), [float(x) for x in q]))
    qdf = spark.createDataFrame(qrows, "q_id long, q_vec array<float>")
    got = ann_cosine_topk(
        e, qdf, k=1, n_planes=12, n_tables=8, dim=64, bucket_cap=500
    ).collect()
    hits = sum(1 for r in got if r.rk == 1 and r.nn_id == r.q_id)
    recall = hits / len(base)
    assert recall >= 0.9, f"planted-NN recall {recall:.2f} < 0.9"


# ---------------------------------------------------------------------------
# IVF ANN (second scale path next to the LSH tables)
# ---------------------------------------------------------------------------

def _ivf_cluster_df(spark, n_clusters=4, per_cluster=25, dim=8, seed=3):
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = np.zeros((n_clusters, dim))
    for c in range(n_clusters):
        centers[c, c] = 10.0  # orthogonal, well-separated
    rows, vid = [], 0
    for c in range(n_clusters):
        for _ in range(per_cluster):
            v = centers[c] + 0.1 * rng.standard_normal(dim)
            rows.append((vid, c, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, true_cluster int, embedding array<float>"
    )


def test_ivf_self_nearest(spark, embeddings):
    from nutch_spark.functions.similarity import ivf_cosine_topk

    q = embeddings.orderBy("vec_id").limit(5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    top = ivf_cosine_topk(embeddings, q, k=1, n_centroids=16, n_probe=1).collect()
    # a query identical to a data vector lands in that vector's list, so
    # n_probe=1 already recovers the exact self-match
    assert len(top) == 5
    assert all(r.nn_id == r.q_id and abs(r.cosine - 1.0) < 1e-4 for r in top)


def test_ivf_planted_recall(spark):
    import numpy as np

    from nutch_spark.functions.similarity import ivf_cosine_topk

    e = _ivf_cluster_df(spark)
    base = e.orderBy("vec_id").limit(12).collect()
    rng = np.random.default_rng(11)
    qrows = []
    for r in base:
        v = np.asarray(r.embedding, dtype=np.float64)
        qrows.append((int(r.vec_id),
                      [float(x) for x in v + 0.02 * rng.standard_normal(v.size)]))
    q = spark.createDataFrame(qrows, "q_id long, q_vec array<float>")
    got = ivf_cosine_topk(e.select("vec_id", "embedding"), q, k=1,
                          n_centroids=8, n_probe=2).collect()
    hits = sum(1 for r in got if r.rk == 1 and r.nn_id == r.q_id)
    assert hits == len(base), f"planted-NN recall {hits}/{len(base)}"


def test_ivf_kmeans_refinement_purity_and_determinism(spark):
    from nutch_spark.functions.similarity import (
        ivf_assign_col, ivf_centroid_vectors,
    )

    e = _ivf_cluster_df(spark)
    emb = e.select("vec_id", "embedding")
    cents = ivf_centroid_vectors(emb, 8, kmeans_iters=2)
    cents2 = ivf_centroid_vectors(emb, 8, kmeans_iters=2)
    assert (cents == cents2).all(), "centroid training must be deterministic"

    assigned = e.select(
        "true_cluster",
        ivf_assign_col(F.col("embedding"), cents, n_probe=1)[0].alias("list_id"),
    ).collect()
    by_list: dict[int, set[int]] = {}
    for r in assigned:
        by_list.setdefault(r.list_id, set()).add(r.true_cluster)
    # after Lloyd refinement on well-separated clusters every inverted list
    # is pure: no list mixes vectors from two true clusters
    assert all(len(cl) == 1 for cl in by_list.values()), by_list
    # and the 4 true clusters are all represented across the lists
    assert {c for cl in by_list.values() for c in cl} == {0, 1, 2, 3}


def test_ivf_planted_recall_at_scale_params(spark):
    """IVF recall lock (sf0.1): queries are perturbed copies of 100 real
    vectors (true NN = source at cosine ~0.99). 64 lists / 4 probes must
    recover >=90%: a small perturbation rarely crosses the Voronoi boundary
    of the source's list, and when it does the probe set covers it."""
    import numpy as np

    from nutch_spark.functions.similarity import ivf_cosine_topk

    e = spark.read.parquet(f"{SF01_DIR}/embeddings.parquet")
    base = e.orderBy("vec_id").limit(100).collect()
    rng = np.random.default_rng(7)
    qrows = []
    for r in base:
        v = np.asarray(r.embedding, dtype=np.float64)
        q = v + 0.05 * np.linalg.norm(v) / 8.0 * rng.standard_normal(v.size)
        qrows.append((int(r.vec_id), [float(x) for x in q]))
    qdf = spark.createDataFrame(qrows, "q_id long, q_vec array<float>")
    got = ivf_cosine_topk(e, qdf, k=1, n_centroids=64, n_probe=4).collect()
    hits = sum(1 for r in got if r.rk == 1 and r.nn_id == r.q_id)
    recall = hits / len(base)
    assert recall >= 0.9, f"planted-NN recall {recall:.2f} < 0.9"


def test_paragraph_dedup_keep_first_and_drop_empty(spark):
    """Corpus-wide paragraph dedup: a paragraph survives only at its first
    (doc_id, pos); docs left with zero paragraphs drop out; within-doc
    repeats keep the earlier position; order is preserved on reassembly."""
    from nutch_spark.operators.dedup import dedup_paragraphs

    df = spark.createDataFrame(
        [
            (1, "alpha\n\nbeta\n\nalpha"),   # within-doc repeat of alpha
            (2, "beta\n\ngamma"),            # beta already seen in doc 1
            (3, "alpha\n\nbeta"),            # fully duplicated -> dropped
        ],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in dedup_paragraphs(df).collect()}
    assert set(out) == {1, 2}
    assert out[1].clean_text == "alpha\n\nbeta" and out[1].n_kept == 2
    assert out[2].clean_text == "gamma" and out[2].n_kept == 1


def test_paragraph_dedup_null_id_winner_not_dropped(spark):
    """A NULL doc_id can legitimately win the min-struct argmin (NULL
    sorts first); the winner join-back must use null-safe equality — plain
    == evaluates NULL==NULL to NULL and used to drop that paragraph from
    EVERY document corpus-wide."""
    from nutch_spark.operators.dedup import dedup_paragraphs

    df = spark.createDataFrame(
        [(None, "p"), (2, "p\n\nq")], "doc_id int, text string")
    out = {r.doc_id: r for r in dedup_paragraphs(df).collect()}
    # 'p' must survive SOMEWHERE, and 'q' stays with doc 2
    kept_texts = [r.clean_text for r in out.values()]
    assert any("p" in t.split("\n\n") for t in kept_texts)
    assert "q" in out[2].clean_text.split("\n\n")


def test_repetition_signals_gopher_fractions(spark):
    """Gopher repetition signals: dup-line fraction/char fraction over
    trimmed non-empty lines, top word-bigram char coverage, zero-safe on
    empty text, deterministic tie-break to the larger gram."""
    from pyspark.sql import functions as F

    from nutch_spark.functions.text import repetition_signals

    df = spark.createDataFrame(
        [
            (0, "alpha beta gamma\nalpha beta gamma\ndelta epsilon"),
            (1, "solo line only"),
            (2, ""),
            (3, "x y\nx y\nx y\n  \nz"),
        ],
        "doc_id int, text string",
    )
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id", repetition_signals(F.col("text")).alias("r")
        ).select("doc_id", "r.*").collect()
    }
    r0 = out[0]
    assert r0.n_lines == 3
    assert abs(r0.dup_line_frac - 1 / 3) < 1e-6
    # dup chars: one repeat of the 16-char line; total 2*16 + 13 = 45
    assert abs(r0.dup_line_char_frac - 16 / 45) < 1e-6
    # top bigram 'alpha beta' (ties beat 'beta gamma' on count=2 equally ->
    # lexicographically larger wins: 'beta gamma'); both cover 9 chars,
    # count 2, token chars 40 -> 18/40
    assert abs(r0.top_bigram_frac - 18 / 40) < 1e-6
    assert out[1].dup_line_frac == 0.0 and out[1].dup_line_char_frac == 0.0
    assert out[2].n_lines == 0 and out[2].top_bigram_frac == 0.0
    r3 = out[3]  # 'x y' x3 + 'z'; blank line dropped by trim-filter
    assert r3.n_lines == 4
    assert abs(r3.dup_line_frac - 2 / 4) < 1e-6
    assert abs(r3.dup_line_char_frac - 6 / 10) < 1e-6


def test_ngram_contamination_hits_and_broadcast_shape(spark):
    """Contamination: only training docs sharing an n-gram with the
    benchmark side are flagged; counts are over DISTINCT grams; the
    benchmark side arrives via a broadcast join (no shuffle on the
    training side)."""
    from nutch_spark.operators.dedup import ngram_contamination

    words = [f"w{i}" for i in range(12)]
    clean = " ".join(f"c{i}" for i in range(12))
    train = spark.createDataFrame(
        [
            (1, " ".join(words)),            # shares all grams
            (2, " ".join(words[:5]) + " zz " + " ".join(words[5:])),
            (3, clean),                       # no overlap
            (4, "too short"),                 # < n tokens -> no grams
        ],
        "doc_id int, text string",
    )
    bench = spark.createDataFrame([(100, " ".join(words))], "doc_id int, text string")
    out = ngram_contamination(train, bench, n=5)
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1, 2}
    assert rows[1].n_hits == rows[1].n_grams == 8  # 12 tokens -> 8 5-grams
    assert rows[1].contaminated_frac == 1.0
    # doc 2: 13 tokens -> 9 5-grams; windows crossing the 'zz' insert miss;
    # matches are 1 leading (w0..w4) + 3 fully inside w5..w11 = 4 of 9
    assert rows[2].n_hits == 4 and rows[2].n_grams == 9
    assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()


def test_domain_quota_sample_deterministic_and_skew_safe(spark):
    """Per-domain quota sampling: each key keeps min(quota, n) rows, the
    kept set is the exact md5-priority top-K (equal to a per-key Python
    reference walk), and re-running yields the identical set."""
    from pyspark.sql import functions as F

    from nutch_spark.operators.sampling import domain_quota_sample

    rows = [(i, "mega" if i < 200 else f"tail{i % 5}") for i in range(230)]
    df = spark.createDataFrame(rows, "doc_id int, source string")
    out = domain_quota_sample(df, quota=3)
    got = {(r.doc_id, r.source) for r in out.collect()}
    per_key = {}
    for did, src in got:
        per_key[src] = per_key.get(src, 0) + 1
    assert per_key["mega"] == 3
    assert all(v <= 3 for v in per_key.values())

    # reference selection: per key, the quota lowest md5 priorities
    import hashlib

    want = {}
    for did, src in rows:
        pri = hashlib.md5(f"{src}:{did}".encode()).hexdigest()
        want.setdefault(src, []).append((pri, did))
    ref = {
        (did, src)
        for src, lst in want.items()
        for _, did in sorted(lst)[:3]
    }
    assert got == ref
    assert {(r.doc_id, r.source) for r in out.collect()} == got


def test_pii_counts_and_scrub(spark):
    """PII pass: per-category counts on the original text, typed
    placeholders in scrub order, null-safe, and map-only (the executed
    plan has zero Exchange nodes — the scrub composes with the scan)."""
    from pyspark.sql import functions as F

    from nutch_spark.functions.pii import pii_counts, scrub_pii

    df = spark.createDataFrame(
        [
            (0, "write to a.user+tag@mail.example.org or b@ex.co today"),
            (1, "ssn 123-45-6789 card 1234-5678-9012-3456 end"),
            (2, "server 10.0.255.3 and 192.168.1.1 tel +1-555-123-4567"),
            (3, "no pii here at all"),
            (4, None),
        ],
        "doc_id int, text string",
    )
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id", pii_counts(F.col("text")).alias("p"),
            scrub_pii(F.col("text")).alias("s"),
        ).select("doc_id", "p.*", "s").collect()
    }
    assert (out[0].n_email, out[0].n_pii) == (2, 2)
    assert "a.user+tag@mail.example.org" not in out[0].s
    assert out[0].s.count("<EMAIL>") == 2
    assert (out[1].n_ssn, out[1].n_cc) == (1, 1)
    assert out[1].s == "ssn <SSN> card <CC> end"
    assert (out[2].n_ipv4, out[2].n_phone) == (2, 1)
    assert out[2].s == "server <IP> and <IP> tel <PHONE>"
    assert out[3].n_pii == 0 and out[3].s == "no pii here at all"
    assert out[4].n_pii == 0 and out[4].s is None

    plan = df.select(scrub_pii(F.col("text")).alias("s"),
                     pii_counts(F.col("text")).alias("p"))
    assert "Exchange" not in plan._jdf.queryExecution().executedPlan().toString()


def test_pack_sequences_invariants(spark):
    """Sequence packing: chunks are exactly max_len except the last of
    each (group, shard); per-doc slices partition the doc's tokens in
    chunk order; the result is independent of input partitioning."""
    import random

    from pyspark.sql import functions as F

    from nutch_spark.operators.packing import pack_sequences

    rng = random.Random(7)
    rows = [
        (i, "src%d" % (i % 3), " ".join("w%d" % rng.randrange(50)
                                         for _ in range(rng.randrange(1, 40))))
        for i in range(120)
    ] + [(200, "src0", ""), (201, "src1", None)]  # dropped: no tokens
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = pack_sequences(df, max_len=16, group_col="source", shards=4)
    got = out.collect()
    assert {r.doc_id for r in got} == set(range(120))
    assert all(0 <= r.shard < 4 for r in got)
    assert all(0 <= r.tok_start < r.tok_end <= r.n_tokens for r in got)

    # per (group, shard, chunk): full chunks everywhere but the tail
    per_chunk, last = {}, {}
    for r in got:
        k = (r.source, r.shard)
        per_chunk[(k, r.chunk_id)] = per_chunk.get((k, r.chunk_id), 0) \
            + (r.tok_end - r.tok_start)
        last[k] = max(last.get(k, -1), r.chunk_id)
    for (k, cid), tot in per_chunk.items():
        assert tot == 16 or cid == last[k], (k, cid, tot)

    # per doc: slices cover [0, n_tokens) contiguously in chunk order
    per_doc = {}
    for r in got:
        per_doc.setdefault(r.doc_id, []).append(r)
    for did, rs in per_doc.items():
        rs.sort(key=lambda r: r.chunk_id)
        assert rs[0].tok_start == 0 and rs[-1].tok_end == rs[0].n_tokens
        for a, b in zip(rs, rs[1:]):
            assert a.tok_end == b.tok_start and b.chunk_id == a.chunk_id + 1

    # partitioning-independence: same manifest from a reshuffled input
    got2 = pack_sequences(df.repartition(7), max_len=16,
                          group_col="source", shards=4).collect()
    key = lambda r: (r.doc_id, r.chunk_id, r.tok_start, r.tok_end, r.shard)  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, got2))


def test_pack_sequences_duplicate_ids_rows_frame(spark):
    """Duplicate doc_ids in one (group, shard) must still produce disjoint,
    full chunks: the cumulative sum needs explicit ROWS framing — the
    default RANGE frame treats order-key ties as peers, hands both rows the
    combined prefix sum, and the duplicate rows' token spans overlap (and
    diverge from the ROWS-framed SQL oracle)."""
    from nutch_spark.operators.packing import pack_sequences

    # same id twice -> same shard by construction; different texts
    df = spark.createDataFrame(
        [(7, "s", "a b c d e"), (7, "s", "f g h"), (8, "s", "i j")],
        "doc_id long, source string, text string",
    )
    got = pack_sequences(df, max_len=4, group_col="source", shards=1).collect()
    per_chunk = {}
    for r in got:
        per_chunk[r.chunk_id] = per_chunk.get(r.chunk_id, 0) \
            + (r.tok_end - r.tok_start)
    # 5 + 3 + 2 = 10 tokens -> chunks of 4, 4, 2: no overlap, no overflow
    assert per_chunk == {0: 4, 1: 4, 2: 2}


def test_domain_quota_sample_null_key_group(spark):
    """NULL-source docs form one group, keep exactly quota rows, and the
    priority for them is md5(':id') — the documented coalesce('') form
    (concat_ws would silently drop the field; DuckDB's || would go NULL,
    so the engines used to pick different survivors)."""
    import hashlib

    from nutch_spark.operators.sampling import domain_quota_sample

    rows = [(i, None) for i in range(20)] + [(100 + i, "s") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id int, source string")
    got = {(r.doc_id, r.source) for r in
           domain_quota_sample(df, quota=3).collect()}
    null_pri = sorted(
        (hashlib.md5(f":{i}".encode()).hexdigest(), i) for i in range(20))
    want_null = {(i, None) for _, i in null_pri[:3]}
    assert {g for g in got if g[1] is None} == want_null
    assert len([g for g in got if g[1] == "s"]) == 3


def test_repetition_signals_null_text_zero_safe(spark):
    """NULL text reads as an empty doc (n_lines 0, all fracs 0.0), not a
    NULL struct field — a NULL n_lines would make downstream numeric gates
    (`rep.n_lines == 0`) silently skip the doc under ANSI semantics. Both
    the Column form and the pinned DataFrame form."""
    from nutch_spark.functions.text import (
        repetition_signals,
        with_repetition_signals,
    )

    df = spark.createDataFrame([(0, None), (1, "")], "doc_id int, text string")
    for row in (
        list(df.select("doc_id", repetition_signals(F.col("text")).alias("rep"))
             .collect())
        + list(with_repetition_signals(df).select("doc_id", "rep").collect())
    ):
        assert row.rep.n_lines == 0, row
        assert row.rep.dup_line_frac == 0.0
        assert row.rep.dup_line_char_frac == 0.0
        assert row.rep.top_bigram_frac == 0.0


def test_train_val_split_deterministic_and_uniform(spark):
    """Hash-bucket split: deterministic across runs and partitionings,
    val fraction lands near val_frac, salt changes the assignment,
    growing the corpus never reassigns an existing id, and the plan is
    map-only (zero Exchange)."""
    import hashlib

    from pyspark.sql import functions as F

    from nutch_spark.operators.sampling import train_val_split

    df = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    out = train_val_split(df, val_frac=0.1)
    got = {r.doc_id: r.split for r in out.collect()}

    # reference recomputation (pure python md5, same arithmetic)
    def ref(did):
        h = int(hashlib.md5(f"split:{did}".encode()).hexdigest()[:12], 16)
        return "val" if h % 10000 < 1000 else "train"

    assert got == {d: ref(d) for d in range(4000)}
    frac = sum(1 for v in got.values() if v == "val") / len(got)
    assert 0.07 < frac < 0.13  # binomial around 0.1
    # stability under growth: the first 4000 keep their split in a 8000-row corpus
    df2 = spark.range(0, 8000).withColumnRenamed("id", "doc_id")
    got2 = {r.doc_id: r.split
            for r in train_val_split(df2, val_frac=0.1).collect()}
    assert all(got2[d] == got[d] for d in range(4000))
    # a different salt reshuffles membership
    alt = {r.doc_id: r.split
           for r in train_val_split(df, val_frac=0.1, salt="fold2").collect()}
    assert alt != got
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_dataset_build_composition(spark):
    """End-to-end build_dataset: every stage bites, dedup removes ALL
    shifted duplicates (so the manifest is invariant to re-unioning them),
    quota and split invariants hold, and the whole build runs in a bounded
    number of shuffles (dedup agg + the quota window)."""
    from nutch_spark.plans.dataset import build_dataset

    d = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text", "source")
    )
    dupes = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text", "source"
    )
    kw = dict(langs=("en",), min_chars=80, punct_permille_max=200,
              quota=20, val_frac=0.05)
    out = build_dataset(d.unionByName(dupes), **kw)
    rows = out.collect()

    # dedup keep-first drops every shifted copy (original id always lower)
    assert all(r.doc_id < 10_000_000 for r in rows)
    # manifest invariant to the duplicate union
    clean = build_dataset(d, **kw).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, clean))

    # every stage constrained the output
    assert 0 < len(rows) < d.count()
    by_source = {}
    for r in rows:
        by_source[r.source] = by_source.get(r.source, 0) + 1
        assert r.lang_pred == "en"
        assert r.n_chars >= 80
        assert r.split in ("train", "val")
        assert r.n_tokens > 0
    assert max(by_source.values()) <= 20  # quota bound

    # bounded shuffle count: dedup agg + the quota window
    # (AQE's string includes the Initial Plan too — count the final only)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("+- Exchange") <= 2
    # the interpreted lang expression must appear ONCE (barrier held):
    # no copy re-inlined into a Filter predicate
    # (detect_language's CASE holds 2 array_sorts — WHEN + THEN branch;
    # a re-inlined Filter copy would double that)
    assert final.count("array_sort") <= 2


def test_dataset_build_decontamination(spark):
    """Optional benchmark stage: a doc sharing an 8-gram with the held-out
    set is dropped; everything else survives unchanged."""
    from nutch_spark.plans.dataset import build_dataset

    base = "the and of to in is that for with was common words here "
    docs = spark.createDataFrame(
        [(i, base + f"unique tail number {i} " + "alpha " * 10, "s0")
         for i in range(10)],
        "doc_id long, text string, source string",
    )
    kw = dict(langs=("en",), min_chars=10, punct_permille_max=1000,
              quota=100, val_frac=0.0)
    clean = build_dataset(docs, **kw)
    assert clean.count() == 10

    # The benchmark must contain ONLY doc 3's unique region: its single
    # 8-gram is "tail number 3 alpha*5", which doc 3 contains contiguously
    # and no other doc does (docs differ in the number token; the
    # benchmark is too short to contain the all-alpha gram or any
    # boilerplate-prefix gram, both of which every doc shares — a longer
    # benchmark here once contaminated ALL 10 docs and the old tautological
    # assert `== expected or 3 not in kept` never noticed)
    bench = spark.createDataFrame(
        [(0, "tail number 3 alpha alpha alpha alpha alpha")],
        "doc_id long, text string")
    out = build_dataset(docs, benchmark=bench, **kw)
    kept = {r.doc_id for r in out.collect()}
    assert kept == set(range(10)) - {3}


def test_lsh_banding_validation_and_default_rows(spark):
    """bands*rows beyond num_perm slices empty arrays — one shared bucket
    per trailing band, i.e. the full N^2 cross join the operator promises
    never happens. Must raise; rows defaults to num_perm // bands."""
    from nutch_spark.operators.dedup import minhash_near_duplicates

    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g")],
        "doc_id long, text string")
    # default rows: 32 perms / 16 bands = 2 — runs and finds the dup pair
    out = minhash_near_duplicates(docs, num_perm=32, bands=16).collect()
    assert len(out) == 1
    with pytest.raises(ValueError, match="exceeds num_perm"):
        minhash_near_duplicates(docs, num_perm=32, bands=16, rows=4)
    with pytest.raises(ValueError, match="does not divide"):
        minhash_near_duplicates(docs, num_perm=30, bands=16)


def test_simhash_max_hamming_zero_single_band(spark):
    """max_hamming=0 makes one 64-bit band whose (1<<64)-1 mask literal
    used to overflow LongType and crash; the full-width band needs no
    mask. Exact-fingerprint duplicates must still pair up."""
    from nutch_spark.operators.dedup import simhash_near_duplicates

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta " * 6), (2, "alpha beta gamma delta " * 6),
         (3, "совершенно другой текст без общих слов вообще " * 4)],
        "doc_id long, text string")
    got = {(r.a, r.b) for r in
           simhash_near_duplicates(docs, max_hamming=0).collect()}
    assert (1, 2) in got
    assert all(p in {(1, 2)} for p in got)


def test_webgraph_greedy_none_domain_not_pooled(spark):
    """Two unrelated targets whose host can't be extracted must not
    suppress each other via a shared None domain key in the greedy walk's
    seen-set."""
    from nutch_spark.operators.webgraph import build_webgraph

    pd_df = spark.createDataFrame(
        [("http://src.com/a",
          [{"to_url": "mailto:a@x.com", "anchor": "m1"},
           {"to_url": "mailto:b@y.com", "anchor": "m2"}])],
        "url string, outlinks array<struct<to_url:string,anchor:string>>")
    g = build_webgraph(pd_df, ignore_internal_host=False,
                       ignore_internal_domain=False)
    dsts = {r.dst for r in g["edges"].collect()}
    assert dsts == {"mailto:a@x.com", "mailto:b@y.com"}


def test_lsh_mega_bucket_cap_bounds_pair_count(spark):
    """10^4 identical signatures share every band bucket; uncapped, the
    per-bucket self-join is ~5*10^7 pairs per band (the 100-TB boilerplate
    blowup). With bucket_cap=C the candidate set is exactly C*(C-1)/2:
    the rank-by-md5(doc_id) order is band-independent, so every band keeps
    the SAME C survivors and the distinct-union adds nothing."""
    from nutch_spark.operators.dedup import lsh_candidate_pairs

    n, cap = 10_000, 50
    sig = list(range(64))
    sigs = spark.createDataFrame(
        [(f"doc{i:05d}", sig) for i in range(n)],
        "doc_id string, sig array<long>")
    pairs = lsh_candidate_pairs(sigs, bands=16, rows=4, bucket_cap=cap)
    assert pairs.count() == cap * (cap - 1) // 2
    # sub-cap buckets are untouched: a disjoint planted pair still appears
    extra = spark.createDataFrame(
        [("zz1", [100 + i for i in range(64)]), ("zz2", [100 + i for i in range(64)])],
        "doc_id string, sig array<long>")
    got = {(r.a, r.b) for r in
           lsh_candidate_pairs(sigs.union(extra), bands=16, rows=4,
                               bucket_cap=cap).collect()}
    assert ("zz1", "zz2") in got
    assert len(got) == cap * (cap - 1) // 2 + 1


def test_simhash_mega_bucket_cap_bounds_pair_count(spark):
    """Same blowup defense for the simhash band join: 10^4 identical
    fingerprints collapse to C*(C-1)/2 candidates under bucket_cap=C."""
    from nutch_spark.operators.dedup import simhash_candidate_pairs

    n, cap = 10_000, 50
    sigs = spark.createDataFrame(
        [(f"doc{i:05d}", 0x0123456789ABCDEF - (1 << 63)) for i in range(n)],
        "doc_id string, simhash long")
    pairs = simhash_candidate_pairs(sigs, max_hamming=3, bucket_cap=cap)
    assert pairs.count() == cap * (cap - 1) // 2
