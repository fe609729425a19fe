"""Behavioral tests for the LLM-pipeline extensions: planted duplicates
must be found; multimodal plumbing must stream Arrow batches with the
declared schema."""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkwrangle.ext.dedup import (
    exact_dup_groups,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingles,
    simhash,
)
from sparkwrangle.ext.multimodal import attach_payload, decode_features
from sparkwrangle.ext.similarity import cosine_topk
from sparkwrangle.ext.text import language_id


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    near = "the quick brown fox jumps over the lazy dog near the old river bank now"
    rows = [
        (0, base),
        (1, "The quick  brown fox jumps over the lazy dog near the old river bank today!"),
        (2, near),
        (3, "completely different words about spark catalyst plans and shuffles here"),
        (4, "short doc"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_finds_planted_duplicate(spark):
    out = exact_dup_groups(_docs(spark)).collect()
    by_id = {r.doc_id: r for r in out}
    # doc 1 differs only in case/punct/whitespace → same normalized hash
    assert by_id[0].text_hash == by_id[1].text_hash
    assert by_id[0].dup_count == 2
    assert by_id[3].dup_count == 1


def test_minhash_lsh_finds_near_duplicate(spark):
    sh = shingles(_docs(spark), "doc_id", "text", 3)
    sigs = minhash_signatures(sh, "doc_id", k=16)
    pairs = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(sigs, "doc_id").collect()}
    assert (0, 1) in pairs  # exact dup always collides
    assert (0, 2) in pairs  # one-word edit shares most shingles
    assert (0, 3) not in pairs and (1, 3) not in pairs


def test_ngram_jaccard_ranks_near_dup_high(spark):
    sh = shingles(_docs(spark), "doc_id", "text", 3)
    out = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(sh, "doc_id").collect()}
    assert out[(0, 1)] == 1.0
    assert out[(0, 2)] > 0.8
    assert (0, 3) not in out


def test_simhash_near_dups_differ_in_few_bits(spark):
    sigs = {r.doc_id: r.simhash for r in simhash(_docs(spark), "doc_id", "text").collect()}
    assert sigs[0] == sigs[1]  # normalization-equal docs → equal tokens
    hamming = bin(sigs[0] ^ sigs[2]).count("1")
    assert hamming <= 6
    assert bin(sigs[0] ^ sigs[3]).count("1") > hamming


def test_lang_id_on_driver_documents(spark):
    docs = spark.createDataFrame(
        [
            (0, "the cat is in the house and that is fine", "en"),
            (1, "der hund ist nicht zu haus und das ist gut", "de"),
            (2, "el perro es un animal que vive en la casa", "es"),
            (3, "le chien est dans la maison pour la nuit", "fr"),
            (4, "这是一个中文文档的例子没有英文单词", "zh"),
        ],
        "doc_id long, text string, lang string",
    )
    out = language_id(docs).collect()
    for r in out:
        assert r.lang_pred == r.lang, f"doc {r.doc_id}: {r.lang_pred} != {r.lang}"


def test_cosine_topk_self_similarity_excluded(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.01, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=3).collect()
    assert [r.neighbor_id for r in out] == [1, 2, 3]  # by similarity order
    assert abs(out[0].cos_sim - 0.99995) < 1e-3
    assert all(r.query_id == 0 for r in out)


def test_multimodal_decode_generic_schema_and_values(spark):
    docs = _docs(spark)
    media = attach_payload(docs)
    assert [f.name for f in media.schema.fields] == [
        "doc_id", "media_type", "uri", "n_bytes", "payload",
    ]
    feats = decode_features(media)
    rows = {r.doc_id: r for r in feats.collect()}
    assert len(rows) == 5
    r = rows[4]  # "short doc" → mean of its utf-8 bytes
    payload = b"short doc"
    assert r.n_bytes == len(payload)
    assert abs(r.byte_mean - sum(payload) / len(payload)) < 1e-9
    assert r.feature_dim == 1


def test_frame_sampling_expansion(spark):
    from sparkwrangle.ext.multimodal import attach_payload, sample_frames

    media = attach_payload(_docs(spark))
    frames = sample_frames(media, n_frames=4)
    rows = frames.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # every doc expands to up to 4 ordered frames covering distinct slices
    assert set(by_doc) == {0, 1, 2, 3, 4}
    for doc_id, fr in by_doc.items():
        idxs = sorted(r.frame_idx for r in fr)
        assert idxs == list(range(len(fr)))
        assert all(r.n_bytes > 0 for r in fr)
    # frames reassemble a prefix of the original payload in order
    doc0 = sorted(by_doc[0], key=lambda r: r.frame_idx)
    joined = b"".join(bytes(r.frame_bytes) for r in doc0)
    original = dict((r.doc_id, r.payload) for r in media.collect())[0]
    assert bytes(original).startswith(joined[: len(joined) // 2])


def test_pointer_table_has_no_payload(spark):
    from sparkwrangle.ext.multimodal import pointer_table

    docs = _docs(spark).withColumn("n_chars", F.length("text"))
    pt = pointer_table(docs)
    assert "payload" not in pt.columns
    r = pt.filter(F.col("doc_id") == 3).collect()[0]
    assert r.uri.endswith("/3") and r.n_bytes_hint > 0


def _clustered_embeddings(spark, n_clusters=4, per_cluster=50, dim=16, seed=5):
    import numpy as np

    rng = np.random.RandomState(seed)
    centers = rng.randn(n_clusters, dim) * 3.0
    rows = []
    for c in range(n_clusters):
        for i in range(per_cluster):
            v = centers[c] + rng.randn(dim) * 0.5
            rows.append((c * per_cluster + i, [float(x) for x in v], c))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_ann_recall_on_clustered_data(spark):
    """Recall@5 against brute-force ground truth on data WITH cluster
    structure (the geometry ANN indexes exist for): trained IVF at
    nprobe=1 must be near-perfect, hyperplane LSH must keep most
    neighbors. (The driver's embeddings are near-orthogonal noise, where
    nprobe=1 recall ≈ 1/cells by construction — see
    test_ivf_nprobe_trades_cost_for_recall.)"""
    from sparkwrangle.ext.similarity import (
        cosine_topk,
        hyperplane_planes,
        ivf_trained_topk,
        lsh_cosine_topk,
    )

    emb = _clustered_embeddings(spark)
    queries = emb.filter(F.col("vec_id") % 25 == 0)

    def pairs(df):
        return {(r.query_id, r.neighbor_id) for r in df.collect()}

    truth = pairs(cosine_topk(emb, queries, k=5))
    ivf = pairs(ivf_trained_topk(emb, queries, k=5))
    lsh = pairs(
        lsh_cosine_topk(emb, queries, hyperplane_planes(16, 16, 13), bands=4, k=5)
    )
    ivf_recall = len(ivf & truth) / len(truth)
    lsh_recall = len(lsh & truth) / len(truth)
    assert ivf_recall >= 0.9, f"IVF recall {ivf_recall}"
    assert lsh_recall >= 0.6, f"LSH recall {lsh_recall}"


def test_ivf_nprobe_trades_cost_for_recall(spark):
    """On the driver's unclustered embeddings, nprobe=1 recall sits near
    the 1/cells floor; raising nprobe must raise recall monotonically —
    the scale knob works even when the data gives the index nothing."""
    from conftest import SF_ORACLE
    from sparkwrangle.ext.similarity import cosine_topk, ivf_trained_topk
    from sparkwrangle.io import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)

    def pairs(df):
        return {(r.query_id, r.neighbor_id) for r in df.collect()}

    truth = pairs(cosine_topk(emb, queries, k=5))
    r1 = len(pairs(ivf_trained_topk(emb, queries, k=5, nprobe=1)) & truth) / len(truth)
    r5 = len(pairs(ivf_trained_topk(emb, queries, k=5, nprobe=5)) & truth) / len(truth)
    assert r5 >= r1
    assert r5 >= 0.4, f"nprobe=5 recall {r5} (nprobe=1 was {r1})"


def test_approx_count_distinct_within_tolerance(spark):
    """Sketch surface: HLL approx distinct stays within 5% of exact on the
    driver's events table (not oracle-checkable — DuckDB's sketch differs)."""
    from sparkwrangle.io import load_table
    from conftest import SF_ORACLE

    ev = load_table(spark, SF_ORACLE, "events")
    exact = ev.select(F.countDistinct("user_id")).collect()[0][0]
    approx = ev.select(F.approx_count_distinct("user_id", rsd=0.02)).collect()[0][0]
    assert abs(approx - exact) / exact < 0.05


def test_connected_components_path_and_singleton(spark):
    """CC handles transitive chains (multi-round propagation), separate
    components, and singleton nodes; cluster_id = min reachable doc_id."""
    from sparkwrangle.ext.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 10)],
        "id_a bigint, id_b bigint",
    )
    ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 10, 11, 99]],
                                "doc_id bigint")
    got = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(pairs, ids, "doc_id").collect()
    }
    want = {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1), (10, 10), (11, 10), (99, 99)}
    assert got == want


def test_doc_chunking_window_arithmetic(spark):
    """64-token windows at stride 48: a 65-token doc yields chunks of 64
    and 17 tokens; a short doc yields one full-copy chunk; empty → none."""
    from sparkwrangle.catalog import CATALOG

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(65))),
            (2, "alpha beta"),
            (3, ""),
        ],
        "doc_id bigint, text string",
    )
    docs.createOrReplaceTempView("_chunk_docs")
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        docs.write.mode("overwrite").parquet(f"{td}/documents.parquet")
        out = {
            (r.doc_id, r.chunk_idx): (r.n_chunk_tokens, r.chunk_text)
            for r in CATALOG["x_doc_chunking"].fn(spark, td).collect()
        }
    assert set(out) == {(1, 0), (1, 1), (2, 0)}
    assert out[(1, 0)][0] == 64 and out[(1, 0)][1].startswith("w0 w1 ")
    assert out[(1, 1)] == (17, " ".join(f"w{i}" for i in range(48, 65)))
    assert out[(2, 0)] == (2, "alpha beta")


def test_stratified_sample_deterministic_and_unbiased(spark):
    """Hash-based sampling is run-to-run identical and lands within 6
    points of the per-stratum target fraction on the oracle corpus."""
    from conftest import SF_ORACLE
    from sparkwrangle.catalog import CATALOG
    from sparkwrangle.io import load_table

    fn = CATALOG["x_stratified_sample"].fn
    a = {r.doc_id for r in fn(spark, SF_ORACLE).collect()}
    b = {r.doc_id for r in fn(spark, SF_ORACLE).collect()}
    assert a == b
    docs = load_table(spark, SF_ORACLE, "documents")
    n_en = docs.filter("lang = 'en'").count()
    kept_en = fn(spark, SF_ORACLE).filter("lang = 'en'").count()
    assert abs(kept_en / n_en - 0.35) < 0.06


def test_neardup_gemm_matches_relational(spark):
    """The per-cell GEMM path and the relational self-join produce the
    same pair set and 6dp-identical similarities on the oracle corpus."""
    from conftest import SF_ORACLE
    from sparkwrangle.ext.similarity import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_gemm,
    )
    from sparkwrangle.io import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    rel = {
        (r.id_a, r.id_b, round(r.cos_sim, 6))
        for r in embedding_neardup_pairs(emb, threshold=0.4).collect()
    }
    gem = {
        (r.id_a, r.id_b, round(r.cos_sim, 6))
        for r in embedding_neardup_pairs_gemm(emb, threshold=0.4).collect()
    }
    assert rel == gem and len(rel) > 0


def test_pii_redaction_on_bearing_rows(spark):
    """Emails/URLs/phones are replaced with typed placeholders and counted
    (the driver corpus has none, so the behavior pins here)."""
    from sparkwrangle.ext.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "contact bob.smith+x@corp.example.org for details"),
            (2, "see https://spark.apache.org/docs and http://a.b/c?q=1"),
            (3, "call +1 (555) 010-7788 today"),
            (4, "plain text, nothing to hide"),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in redact_pii(df).collect()}
    assert out[1].n_email == 1 and "[EMAIL]" in out[1].redacted
    assert "bob" not in out[1].redacted
    assert out[2].n_url == 2 and out[2].redacted.count("[URL]") == 2
    assert out[3].n_phone == 1 and "[PHONE]" in out[3].redacted
    assert out[4].redacted == "plain text, nothing to hide"
    assert (out[4].n_email, out[4].n_url, out[4].n_phone) == (0, 0, 0)


def test_repetition_stats_on_crafted_docs(spark):
    """A fully-repetitive doc scores high on every repetition axis; an
    all-distinct doc scores zero."""
    import tempfile

    from sparkwrangle.catalog import CATALOG

    docs = spark.createDataFrame(
        [(1, "spam spam spam spam"), (2, "alpha beta gamma delta")],
        "doc_id bigint, text string",
    )
    with tempfile.TemporaryDirectory() as td:
        docs.write.mode("overwrite").parquet(f"{td}/documents.parquet")
        out = {r.doc_id: r for r in CATALOG["x_repetition_stats"].fn(spark, td).collect()}
    assert out[1].token_rep == 0.75 and out[1].top_token_share == 1.0
    assert out[1].gram2_rep == round(1 - 1 / 3, 6)
    assert out[2].token_rep == 0.0 and out[2].top_token_share == 0.25
    assert out[2].gram2_rep == 0.0


def test_prepared_corpus_matches_adhoc(spark, tmp_path):
    """The materialized ingest layout reproduces the ad-hoc pipeline
    exactly: LSH candidates, df-capped Jaccard, and exact-dup groups from
    prepared tables equal their from-scratch twins."""
    from conftest import SF_ORACLE
    from sparkwrangle.ext.dedup import (
        exact_dup_groups,
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
        shingles,
    )
    from sparkwrangle.ext.prepared import (
        exact_dup_groups_from_prepared,
        jaccard_from_prepared,
        lsh_pairs_from_prepared,
        prepare_corpus,
    )
    from sparkwrangle.io import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    out = str(tmp_path / "prep")
    prepare_corpus(spark, docs, out)

    sh = shingles(docs, "doc_id", "text", 3)
    want_pairs = {
        tuple(r)
        for r in lsh_candidate_pairs(
            minhash_signatures(sh, "doc_id", k=16), "doc_id"
        ).collect()
    }
    got_pairs = {tuple(r) for r in lsh_pairs_from_prepared(spark, out).collect()}
    assert got_pairs == want_pairs

    want_j = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(sh, "doc_id", threshold=0.05, max_df=20).collect()
    }
    got_j = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in jaccard_from_prepared(spark, out, threshold=0.05).collect()
    }
    assert got_j == want_j

    want_e = {
        (r.doc_id, r.text_hash, r.dup_count)
        for r in exact_dup_groups(docs).select("doc_id", "text_hash", "dup_count").collect()
    }
    got_e = {tuple(r) for r in exact_dup_groups_from_prepared(spark, out).collect()}
    assert got_e == want_e


def test_incremental_dedup_matches_full_recompute(spark, tmp_path):
    """Daily-ingest dedup: candidates touching a new batch, computed
    against the prepared corpus only, equal the full-recompute pairs
    restricted to the batch."""
    from conftest import SF_ORACLE
    from sparkwrangle.ext.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )
    from sparkwrangle.ext.prepared import incremental_lsh_pairs, prepare_corpus
    from sparkwrangle.io import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    corpus = docs.filter("doc_id < 400")
    batch = docs.filter("doc_id >= 400")
    out = str(tmp_path / "prep")
    prepare_corpus(spark, corpus, out)

    got = {tuple(r) for r in incremental_lsh_pairs(spark, out, batch).collect()}

    full = lsh_candidate_pairs(
        minhash_signatures(shingles(docs, "doc_id", "text", 3), "doc_id", k=16),
        "doc_id",
    )
    want = {
        (r.id_a, r.id_b)
        for r in full.collect()
        if r.id_a >= 400 or r.id_b >= 400
    }
    assert got == want and len(want) > 0


def test_lsh_verified_pairs_matches_corpus_wide_verification(spark):
    """The candidate-restricted Jaccard composition must be bitwise equal
    to verifying corpus-wide: semi-joining shingles to candidate members
    keeps sizes exact, and the final pair inner join restores exact pair
    membership — on a randomized corpus with planted near-dup chains."""
    import random

    from pyspark.sql import functions as F

    from sparkwrangle.ext.dedup import (
        lsh_candidate_pairs,
        lsh_verified_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
        shingles,
    )

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    doc_id = 0
    for _ in range(60):
        base = [rng.choice(vocab) for _ in range(rng.randint(6, 30))]
        rows.append((doc_id, " ".join(base)))
        doc_id += 1
        # plant a chain of progressively-mutated near-dups
        for _ in range(rng.randint(0, 2)):
            mut = list(base)
            for _ in range(rng.randint(1, 3)):
                mut[rng.randrange(len(mut))] = rng.choice(vocab)
            rows.append((doc_id, " ".join(mut)))
            doc_id += 1
            base = mut
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = shingles(docs, "doc_id", "text", 3)

    restricted = lsh_verified_pairs(sh, "doc_id", k=16, bands=4, threshold=0.15)
    sigs = minhash_signatures(sh, "doc_id", k=16)
    cand = lsh_candidate_pairs(sigs, "doc_id", k=16, bands=4)
    jac = ngram_jaccard_pairs(sh, "doc_id", threshold=0.15)
    corpus_wide = cand.join(jac, ["id_a", "id_b"], "inner").select("id_a", "id_b")

    a = sorted((r.id_a, r.id_b) for r in restricted.collect())
    b = sorted((r.id_a, r.id_b) for r in corpus_wide.collect())
    assert a == b and len(a) > 0


def test_bm25_scores_hand_computed(spark):
    """bm25_scores against a hand-derived Okapi BM25 value (k1=1.2,
    b=0.75): 3 docs, query term 'cat' with df=2, one containing it
    twice."""
    import math

    from sparkwrangle.ext.text import bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "cat sat on the mat"),          # tf=1, dl=5
            (2, "cat cat everywhere here"),     # tf=2, dl=4
            (3, "dog days of summer heat now"), # tf=0, dl=6
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.bm25 for r in bm25_scores(docs, ["cat"]).collect()}
    n, df, avgdl = 3.0, 2.0, 5.0
    idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)

    def score(tf, dl):
        return idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))

    assert abs(out[1] - score(1, 5)) < 1e-12
    assert abs(out[2] - score(2, 4)) < 1e-12
    assert out[3] == 0.0
    assert out[2] > out[1] > out[3]


def test_connected_components_chain_contracts_in_log_rounds(spark):
    """A 120-node chain has diameter 119: one-hop min-label propagation
    needs 119 rounds (the old max_iter=50 loop would not even converge),
    while large-star/small-star contraction must finish in O(log n)."""
    from sparkwrangle.ext.dedup import connected_components

    n = 120
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a bigint, id_b bigint"
    )
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
    stats = {}
    got = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(pairs, ids, "doc_id", stats=stats).collect()
    }
    assert got == {(i, 0) for i in range(n)}
    assert stats["rounds"] <= 12, f"expected O(log n) rounds, got {stats['rounds']}"


def test_connected_components_matches_propagation_baseline(spark):
    """The contraction implementation agrees with the independent one-hop
    propagation formulation on random graphs (chains, stars, cliques,
    singletons mixed)."""
    import random

    from cc_baseline import connected_components_propagation

    from sparkwrangle.ext.dedup import connected_components

    rng = random.Random(42)
    for trial in range(3):
        n = 40
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(5, 35))
        ]
        pairs = spark.createDataFrame(
            [(a, b) for a, b in edges], "id_a bigint, id_b bigint"
        )
        ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
        a = {tuple(r) for r in connected_components(pairs, ids, "doc_id").collect()}
        b = {
            tuple(r)
            for r in connected_components_propagation(pairs, ids, "doc_id").collect()
        }
        assert a == b, f"trial {trial}: contraction != propagation"


def test_lsh_band_buckets_vectorized_matches_fold(spark):
    """The Arrow-vectorized sign-LSH banding is bit-identical to the JVM
    fold-expression form (same left-to-right accumulation order)."""
    from sparkwrangle.ext.similarity import (
        hyperplane_planes,
        lsh_band_buckets,
        lsh_band_buckets_vectorized,
    )
    from sparkwrangle.io import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    planes = hyperplane_planes(64, 16, 13)
    a = {
        tuple(r)
        for r in lsh_band_buckets(emb, planes, 4).collect()
    }
    b = {
        tuple(r)
        for r in lsh_band_buckets_vectorized(emb, planes, 4).collect()
    }
    assert a == b and len(a) > 0


def test_decode_bmp_roundtrip_and_errors():
    """decode_bmp parses what encode_bmp_deterministic writes — incl. rows
    needing stride padding — and refuses non-BMP / unsupported payloads."""
    import pytest as _pytest

    from sparkwrangle.ext.multimodal import decode_bmp, encode_bmp_deterministic

    saw_non_ascii = False
    for doc_id in [0, 1, 5, 12, 25, 38, 1000003]:
        w_exp = 4 + doc_id % 13
        h_exp = 3 + doc_id % 7
        b = encode_bmp_deterministic(doc_id)
        assert b[:2] == b"BM"
        saw_non_ascii = saw_non_ascii or any(byte > 127 for byte in b)
        w, h, psum, pcnt = decode_bmp(b)
        assert (w, h) == (w_exp, h_exp)
        assert pcnt == w * h * 3
        expected = sum(
            (doc_id + 7 * x + 13 * y) % 256
            + (3 * doc_id + x) % 256
            + (x * y + doc_id) % 256
            for x in range(w)
            for y in range(h)
        )
        assert psum == expected
    assert saw_non_ascii, "payload set must exercise non-ASCII bytes"
    # top-down (negative height) variant parses identically
    import struct

    b = bytearray(encode_bmp_deterministic(7))
    w, h, psum, pcnt = decode_bmp(bytes(b))
    struct.pack_into("<i", b, 22, -h)
    assert decode_bmp(bytes(b)) == (w, h, psum, pcnt)
    with _pytest.raises(ValueError):
        decode_bmp(b"not a bitmap at all, just text")
    bad = bytearray(encode_bmp_deterministic(3))
    struct.pack_into("<H", bad, 28, 8)  # 8-bpp unsupported
    with _pytest.raises(ValueError):
        decode_bmp(bytes(bad))


def test_decode_wav_roundtrip_and_errors():
    """decode_wav walks RIFF chunks for real (LIST before fmt/data, even
    padding) and refuses non-WAV / non-PCM-16 payloads."""
    import struct

    import pytest as _pytest

    from sparkwrangle.ext.multimodal import decode_wav, encode_wav_deterministic

    for doc_id in [0, 3, 40, 41, 999983]:
        n_exp = 32 + doc_id % 41
        b = encode_wav_deterministic(doc_id)
        n, rate, ssum, ch = decode_wav(b)
        assert (n, rate, ch) == (n_exp, 8000, 1)
        assert ssum == sum(
            ((31 * doc_id + 17 * i) % 65536) - 32768 for i in range(n_exp)
        )
    # odd-size chunk before data must be skipped with pad byte
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    data = struct.pack("<3h", -1, 2, 3)
    odd = b"odd"  # 3 bytes -> 1 pad byte
    chunks = (
        b"LIST" + struct.pack("<I", len(odd)) + odd + b"\x00"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    wav = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    assert decode_wav(wav) == (3, 8000, 4, 1)
    with _pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxAIFF" + b"\x00" * 40)
    bad_fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)  # float32
    chunks = (
        b"fmt " + struct.pack("<I", len(bad_fmt)) + bad_fmt
        + b"data" + struct.pack("<I", 4) + b"\x00" * 4
    )
    with _pytest.raises(ValueError):
        decode_wav(b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks)


def test_pq_adc_recall_and_codes(spark):
    """Product quantization on clustered data: quantile-seeded k-means
    codebooks stay in range, encode is 1 code per (vector, subspace),
    and the PQ product contract holds — the ADC shortlist at 4x
    over-fetch contains EVERY brute-force neighbor (exact re-rank then
    recovers the true top-5), while raw ADC order keeps a reasonable
    share despite 8 codes replacing 16 floats."""
    from sparkwrangle.ext.similarity import (
        cosine_topk,
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    emb = _clustered_embeddings(spark)
    queries = emb.filter(F.col("vec_id") % 25 == 0)

    cb = pq_codebooks(emb, m=8, d_sub=2, k_codes=16, iters=2)
    n_cb = cb.count()
    assert 8 * 2 <= n_cb <= 8 * 16  # k-means may retire empty cells
    codes = pq_encode(emb, cb, m=8, d_sub=2).collect()
    assert len(codes) == emb.count()
    for r in codes:
        for s in range(8):
            assert 0 <= r[f"c{s}"] <= 15

    truth = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    shortlist = {
        (r.query_id, r.neighbor_id)
        for r in pq_adc_topk(emb, queries, k=20, m=8, d_sub=2).collect()
    }
    assert truth <= shortlist  # shortlist@4k recovers every true neighbor
    pq5 = {
        (r.query_id, r.neighbor_id)
        for r in pq_adc_topk(emb, queries, k=5, m=8, d_sub=2).collect()
    }
    recall = len(pq5 & truth) / len(truth)
    assert recall >= 0.4, f"PQ ADC recall {recall}"


def test_pq_sampled_pandas_trainer_matches_relational(spark):
    """The one-stage applyInPandas trainer (sampled groups, whole Lloyd
    chain per subspace in one task) is BIT-IDENTICAL to the relational
    seed-window + per-round means/assign chain on the same hash-sample —
    the equivalence the catalog's PQ oracles rest on. Also pins the
    guard: pandas_trainer without a bounding sample is an error."""
    import pytest

    from sparkwrangle.ext.similarity import pq_codebooks
    from sparkwrangle.io import load_table
    from conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings")
    rel = sorted(
        (r.subspace, r.cell, tuple(r.centroid))
        for r in pq_codebooks(emb, sample_mod=4).collect()
    )
    pdt = sorted(
        (r.subspace, r.cell, tuple(r.centroid))
        for r in pq_codebooks(emb, sample_mod=4, pandas_trainer=True).collect()
    )
    assert rel == pdt
    assert len(rel) >= 8 * 2

    with pytest.raises(ValueError, match="sample_mod"):
        pq_codebooks(emb, pandas_trainer=True)


def test_pq_rerank_sampled_trainer_recall_on_clustered_data(spark):
    """Re-baseline for the sampled trainer: on data WITH cluster structure
    (the geometry PQ exists for), shortlist-20 + exact re-rank still
    recovers most of the brute-force top-5 even when codebooks were
    trained on a quarter hash-sample (~50 of 200 vectors), and the
    over-fetch knob restores FULL recall: measured 0.875 at shortlist
    20, 1.0 at shortlist 40 — quantization only shapes the shortlist;
    the re-rank math is exact. (On the driver's near-orthogonal noise
    embeddings the shortlist recall is structurally low for ANY trainer —
    the catalog oracles pin those results by replay, not by recall.)"""
    from sparkwrangle.ext.similarity import cosine_topk, pq_rerank_topk

    emb = _clustered_embeddings(spark)
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=5).collect()
    }

    def recall(shortlist):
        got = {
            (r.query_id, r.neighbor_id)
            for r in pq_rerank_topk(
                emb, queries, k=5, shortlist=shortlist, m=8, d_sub=2,
                train_sample_mod=4,
            ).collect()
        }
        return len(got & truth) / len(truth)

    assert recall(20) >= 0.8
    assert recall(40) == 1.0


def test_pq_encode_mapside_matches_join_form(spark):
    """The streaming-legal literal-fold encoder is bit-identical to the
    join+window argmin, including exact-tie cells (first strict
    improvement in ascending cell order == (d2 asc, cell asc))."""
    from sparkwrangle.ext.similarity import (
        collect_codebooks,
        pq_codebooks,
        pq_encode,
        pq_encode_mapside,
    )

    emb = _clustered_embeddings(spark)
    cb = pq_codebooks(emb, m=8, d_sub=2, k_codes=16, iters=2).localCheckpoint()
    want = sorted(tuple(r) for r in pq_encode(emb, cb, m=8, d_sub=2).collect())
    rows = collect_codebooks(cb)
    got = sorted(
        tuple(r)
        for r in pq_encode_mapside(emb, rows, m=8, d_sub=2).collect()
    )
    assert got == want and len(got) == emb.count()


def test_decode_png_roundtrip_and_errors():
    """decode_png parses what encode_png_deterministic writes — all five
    filter types, multi-IDAT, CRC-verified chunk walk — and refuses
    corrupt or unsupported payloads."""
    import struct
    import zlib

    import pytest as _pytest

    from sparkwrangle.ext.multimodal import decode_png, encode_png_deterministic

    for doc_id in [0, 1, 4, 9, 13, 42, 1000003]:
        b = encode_png_deterministic(doc_id)
        assert b[:8] == b"\x89PNG\r\n\x1a\n"
        assert b.count(b"IDAT") == 2  # multi-IDAT exercised
        w, h, psum, pcnt = decode_png(b)
        assert (w, h) == (3 + doc_id % 9, 2 + doc_id % 5)
        assert pcnt == w * h * 3
        expected = sum(
            (doc_id + 5 * x + 11 * y) % 256
            + (2 * doc_id + 3 * x) % 256
            + (x + 7 * y + doc_id) % 256
            for x in range(w)
            for y in range(h)
        )
        assert psum == expected
    # at least one test doc has height 5+ -> every filter type 0..4 ran
    assert max(2 + i % 5 for i in [0, 1, 4, 9, 13, 42, 1000003]) >= 5
    with _pytest.raises(ValueError):
        decode_png(b"definitely not a png")
    # corrupt a byte inside the first IDAT body -> CRC failure
    b = bytearray(encode_png_deterministic(8))
    i = b.index(b"IDAT") + 4
    b[i + 1] ^= 0xFF
    with _pytest.raises(ValueError):
        decode_png(bytes(b))
    # unsupported color type (grayscale) refused
    b2 = bytearray(encode_png_deterministic(8))
    j = b2.index(b"IHDR") + 4
    b2[j + 9] = 0  # color type byte inside IHDR body
    body = bytes(b2[j : j + 4 + 13])[4:]
    crc = zlib.crc32(b"IHDR" + body) & 0xFFFFFFFF
    struct.pack_into(">I", b2, j + 4 + 13, crc)  # re-sign so CRC passes
    with _pytest.raises(ValueError):
        decode_png(bytes(b2))


def test_decode_jpeg_roundtrip_and_errors():
    """decode_jpeg parses what encode_jpeg_deterministic writes — real
    Annex-K Huffman entropy decode with byte unstuffing and restart
    markers — and refuses corrupt or unsupported payloads. Spec-known
    code values guard against a shared encoder/decoder bug: the
    canonical Annex-K luminance EOB code is 1010 (length 4) and DC
    category 0 is 00 (length 2)."""
    import pytest as _pytest

    from sparkwrangle.ext.multimodal import (
        _JPEG_AC_BITS,
        _JPEG_AC_VALS,
        _JPEG_DC_BITS,
        _JPEG_DC_VALS,
        _huff_canonical,
        decode_jpeg,
        encode_jpeg_deterministic,
    )

    # spec facts (ITU-T T.81 Annex K), not implementation echoes
    assert _huff_canonical(_JPEG_AC_BITS, _JPEG_AC_VALS)[0x00] == (0b1010, 4)
    assert _huff_canonical(_JPEG_DC_BITS, _JPEG_DC_VALS)[0] == (0b00, 2)

    for doc_id in [0, 1, 2, 3, 7, 12, 37, 100, 255, 1000003]:
        b = encode_jpeg_deterministic(doc_id)
        assert b[:2] == b"\xff\xd8" and b[-2:] == b"\xff\xd9"
        w, h, psum, pcnt = decode_jpeg(b)
        assert (w, h) == (8 * (2 + doc_id % 3), 8 * (1 + doc_id % 4))
        assert pcnt == w * h
        expected = sum(
            64 * ((7 * doc_id + 13 * bx + 29 * by) % 256)
            for bx in range(w // 8)
            for by in range(h // 8)
        )
        assert psum == expected
    # doc 7 has 3x4=12 blocks with DRI=4 -> restart markers exercised
    assert any(
        bytes([0xFF, 0xD0 + i]) in encode_jpeg_deterministic(7) for i in range(8)
    )
    with _pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg at all")
    # flipping a bit inside the entropy stream corrupts the Huffman walk:
    # the decode must either raise or produce a DIFFERENT pixel sum
    # (silent agreement would mean the stream was never really decoded)
    good = encode_jpeg_deterministic(7)  # 12 blocks -> long entropy stream
    sos = good.index(b"\xff\xda")
    tampered = bytearray(good)
    tampered[sos + 12] ^= 0x10  # SOS segment is 10 bytes; +12 is entropy data
    try:
        assert decode_jpeg(bytes(tampered))[2] != decode_jpeg(good)[2]
    except ValueError:
        pass
    # relabeling a baseline stream as SOF2 is refused: progressive scans
    # must be DC-only (Ss=Se=0) or AC-band (Ss>0) — a full 0..63 scan
    # under SOF2 violates T.81 and the scan validator catches it (real
    # progressive streams are decoded; see the jpeg_progressive tests)
    prog = bytearray(good)
    prog[prog.index(b"\xff\xc0") + 1] = 0xC2
    with _pytest.raises(ValueError):
        decode_jpeg(bytes(prog))
    # truncated entropy stream refused
    with _pytest.raises(ValueError):
        decode_jpeg(good[:sos + 8])


def test_resize_bmp_nearest_semantics():
    """Nearest-neighbor resize honors BMP bottom-up row order (image row
    iy = file row h−1−iy): the resized sum matches the flipped closed
    form and differs from the unflipped one whenever the image is not
    row-symmetric; identity resize returns the full pixel sum; errors on
    non-BMP input."""
    import pytest as _pytest

    from sparkwrangle.ext.multimodal import (
        decode_bmp,
        encode_bmp_deterministic,
        resize_bmp_nearest,
    )

    for did in [1, 5, 12, 77, 1234]:
        w, h = 4 + did % 13, 3 + did % 7
        b = encode_bmp_deterministic(did)
        _, _, total = resize_bmp_nearest(b, 8, 6)
        flipped = sum(
            (did + 7 * ((x * w) // 8) + 13 * (h - 1 - ((y * h) // 6))) % 256
            + (3 * did + ((x * w) // 8)) % 256
            + (((x * w) // 8) * (h - 1 - ((y * h) // 6)) + did) % 256
            for x in range(8)
            for y in range(6)
        )
        assert total == flipped
        # identity resize reproduces the decoder's full pixel sum
        _, _, full = resize_bmp_nearest(b, w, h)
        assert full == decode_bmp(b)[2]
    # unflipped reading would differ on an asymmetric image (did=5: h=8)
    did, w, h = 5, 4 + 5 % 13, 3 + 5 % 7
    unflipped = sum(
        (did + 7 * ((x * w) // 8) + 13 * ((y * h) // 6)) % 256
        + (3 * did + ((x * w) // 8)) % 256
        + (((x * w) // 8) * ((y * h) // 6) + did) % 256
        for x in range(8)
        for y in range(6)
    )
    assert resize_bmp_nearest(encode_bmp_deterministic(did), 8, 6)[2] != unflipped
    with _pytest.raises(ValueError):
        resize_bmp_nearest(b"nope", 8, 6)


def test_audio_features_zcr_counts_oscillations(spark):
    """The DC-removed zero-crossing count really counts sign flips about
    the mean: a hand-built square-wave WAV (+1000/−1000 alternating every
    4 samples) has exactly n/4 − 1 crossings; energy and rms are exact."""
    import struct

    from sparkwrangle.ext.multimodal import audio_features

    n = 32
    samples = [1000 if (i // 4) % 2 == 0 else -1000 for i in range(n)]
    data = struct.pack(f"<{n}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    wav = (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    media = spark.createDataFrame(
        [(1, "audio/wav", bytearray(wav))],
        "doc_id long, media_type string, payload binary",
    )
    row = audio_features(media).collect()[0]
    assert row.n_samples == n
    assert row.energy == n * 1000 * 1000
    assert row.zcr == n // 4 - 1  # 7 flips across the 8 blocks
    assert row.peak == 1000
    assert abs(row.rms - 1000.0) < 1e-9


def test_pq_index_persistence_parity(spark, tmp_path):
    """The persisted PQ index (tools/ann.py lifecycle: codebooks +
    codes written to parquet, reloaded for querying) answers exactly
    what the in-memory pq_adc_topk answers — the build-once/query-many
    contract."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import ann
    from conftest import SF_SMOKE

    from sparkwrangle.ext.similarity import pq_adc_topk
    from sparkwrangle.io import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "pqidx")
    built = ann.build(spark, SF_SMOKE, idx)
    assert built["n_vectors"] == emb.count()

    qids = [0, 1, 2, 3, 4]
    got = ann.query(spark, SF_SMOKE, idx, qids, k=5)["results"]
    want_rows = pq_adc_topk(
        emb, emb.filter(F.col("vec_id").isin(qids)), k=5
    ).collect()
    want = {
        str(q): [
            r["neighbor_id"]
            for r in sorted(
                (r for r in want_rows if r["query_id"] == q),
                key=lambda r: r["rk"],
            )
        ]
        for q in qids
    }
    assert got == want


def test_pq_rerank_equals_brute_force_on_clustered_data(spark):
    """With the shortlist containing every true neighbor (pinned above),
    exact re-rank recovers brute-force top-5 EXACTLY — the PQ product
    contract closed end to end."""
    from sparkwrangle.ext.similarity import cosine_topk, pq_rerank_topk

    emb = _clustered_embeddings(spark)
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    want = sorted(
        (r.query_id, r.neighbor_id, r.rk)
        for r in cosine_topk(emb, queries, k=5).collect()
    )
    got = sorted(
        (r.query_id, r.neighbor_id, r.rk)
        for r in pq_rerank_topk(
            emb, queries, k=5, shortlist=20, m=8, d_sub=2
        ).collect()
    )
    assert got == want


def test_decode_features_mixed_media_dispatch(spark):
    """One decode_features pass over a MIXED media table routes each row
    to its real decoder (BMP channel mean, WAV sample mean, PNG pixel
    mean, JPEG pixel mean); undeclared types are magic-byte-sniffed to
    the real decoders, with the generic byte-mean fallback for payloads
    matching no signature (or whose sniffed parse fails)."""
    from sparkwrangle.ext.multimodal import (
        decode_bmp,
        decode_features,
        decode_jpeg,
        decode_png,
        decode_wav,
        encode_bmp_deterministic,
        encode_jpeg_deterministic,
        encode_png_deterministic,
        encode_wav_deterministic,
    )

    payloads = [
        (1, "image/bmp", encode_bmp_deterministic(7)),
        (2, "audio/wav", encode_wav_deterministic(7)),
        (3, "image/png", encode_png_deterministic(7)),
        (4, "application/unknown", b"abcd"),
        (5, "image/jpeg", encode_jpeg_deterministic(7)),
        # undeclared type, real payloads → magic-byte sniff finds the codec
        (6, "application/octet-stream", encode_png_deterministic(9)),
        (7, "application/octet-stream", encode_jpeg_deterministic(9)),
        (8, "application/octet-stream", encode_wav_deterministic(9)),
        # sniff matches "BM" but the parse fails → byte-mean fallback,
        # NOT an exception (heuristic match on an undeclared type)
        (9, "text/plain", b"BMW sales rose"),
    ]
    media = spark.createDataFrame(
        [(i, mt, len(b), bytearray(b)) for i, mt, b in payloads],
        "doc_id long, media_type string, n_bytes long, payload binary",
    )
    got = {r.doc_id: r.byte_mean for r in decode_features(media).collect()}
    _, _, s, c = decode_bmp(payloads[0][2])
    assert abs(got[1] - s / c) < 1e-9
    n, _, ssum, ch = decode_wav(payloads[1][2])
    assert abs(got[2] - ssum / (n * ch)) < 1e-9
    _, _, ps, pc = decode_png(payloads[2][2])
    assert abs(got[3] - ps / pc) < 1e-9
    assert abs(got[4] - sum(b"abcd") / 4) < 1e-9
    _, _, js, jc = decode_jpeg(payloads[4][2])
    assert abs(got[5] - js / jc) < 1e-9
    _, _, ps9, pc9 = decode_png(payloads[5][2])
    assert abs(got[6] - ps9 / pc9) < 1e-9
    _, _, js9, jc9 = decode_jpeg(payloads[6][2])
    assert abs(got[7] - js9 / jc9) < 1e-9
    n9, _, ws9, ch9 = decode_wav(payloads[7][2])
    assert abs(got[8] - ws9 / (n9 * ch9)) < 1e-9
    fallback = payloads[8][2]
    assert abs(got[9] - sum(fallback) / len(fallback)) < 1e-9


def test_payload_feature_mean_sniffed_bytes_never_raise_or_hang():
    """The sniffed (undeclared-type) path must return a float or None on
    ARBITRARY bytes — including crafted headers behind each codec's magic
    — never raise and never spin. Includes the zero-width BMP that
    declares a 2^31 row count (row_bytes=0 made every row check vacuous:
    a hang, not an error, before the _bmp_header width/height guards)."""
    import struct
    import random

    from sparkwrangle.ext.multimodal import _payload_feature_mean, decode_bmp

    # crafted zero-width / huge-height BMP: valid magic, bpp=24, comp=0
    evil = bytearray(54)
    evil[:2] = b"BM"
    struct.pack_into("<I", evil, 10, 54)          # pixel offset
    struct.pack_into("<ii", evil, 18, 0, 0x7FFFFFFF)  # width=0, height=2^31-1
    struct.pack_into("<H", evil, 28, 24)          # bpp
    struct.pack_into("<I", evil, 30, 0)           # compression
    import pytest

    with pytest.raises(ValueError):
        decode_bmp(bytes(evil))  # typed path: fails fast, no spin
    out = _payload_feature_mean("application/octet-stream", bytes(evil))
    assert abs(out - sum(evil) / len(evil)) < 1e-9  # sniffed: falls back

    # same check with a positive width but impossible height
    struct.pack_into("<ii", evil, 18, 5, 0x7FFFFFFF)
    with pytest.raises(ValueError):
        decode_bmp(bytes(evil))

    # crafted JPEG: a ~30-byte payload whose SOF declares 65528x65528
    # would allocate ~67M coefficient blocks (tens of GB) before any
    # entropy data is validated — must raise at the decoder cap, and
    # fall back to byte-mean on the sniffed path
    from sparkwrangle.ext.multimodal import decode_jpeg, decode_png

    sof_body = struct.pack(">BHHB", 8, 65528, 65528, 1) + bytes([1, 0x11, 0])
    evil_jpeg = (
        b"\xff\xd8"
        + b"\xff\xc0" + struct.pack(">H", 2 + len(sof_body)) + sof_body
        + b"\xff\xd9"
    )
    with pytest.raises(ValueError, match="cap"):
        decode_jpeg(evil_jpeg)
    out_j = _payload_feature_mean("application/octet-stream", evil_jpeg)
    assert abs(out_j - sum(evil_jpeg) / len(evil_jpeg)) < 1e-9

    # crafted PNG: zero height skips the unfilter size check yet would
    # allocate a stride-sized prior row from the declared 2^31 width
    import zlib as _z

    def _chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", _z.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 0x7FFFFFFF, 0, 8, 2, 0, 0, 0)
    evil_png = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", _z.compress(b""))
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="zero dimension"):
        decode_png(evil_png)
    out_p = _payload_feature_mean("application/octet-stream", evil_png)
    assert abs(out_p - sum(evil_png) / len(evil_png)) < 1e-9

    rng = random.Random(0xC0DEC)
    magics = [
        b"BM",
        b"RIFF\x10\x00\x00\x00WAVE",
        b"\x89PNG\r\n\x1a\n",
        b"\xff\xd8",
        b"",
    ]
    for magic in magics:
        for _ in range(25):
            body = bytes(rng.randrange(256) for _ in range(rng.randrange(1, 200)))
            payload = magic + body
            got = _payload_feature_mean("application/octet-stream", payload)
            assert got is None or isinstance(got, float)


def test_decode_features_declared_codec_contract_raises(spark):
    """A DECLARED codec type with a corrupt payload raises (honest-decoder
    contract) rather than silently degrading to a byte-mean."""
    import pytest

    from sparkwrangle.ext.multimodal import decode_features

    media = spark.createDataFrame(
        [(1, "image/bmp", 4, bytearray(b"BMxx"))],
        "doc_id long, media_type string, n_bytes long, payload binary",
    )
    with pytest.raises(Exception, match="BMP"):
        decode_features(media).collect()


def test_exact_dedup_edge_semantics(spark):
    """Pins the round-9 dedup-review fixes: (a) NULL/empty-normalizing
    texts (CJK, punctuation-only, whitespace-only — everything the
    [a-z0-9 ] normalizer strips wholesale) are NOT duplicates of each
    other: each gets text_hash NULL and dup_count 1, and keep-first keeps
    them ALL (one md5('') group would have deleted every non-Latin doc of
    a multilingual corpus); (b) the skew-safe join count_mode is
    row-identical to the window form; (c) parameter guards raise instead
    of silently corrupting (bands not dividing k -> constant band hash ->
    n^2 cross product; simhash bits beyond the 60-bit hash -> constant
    zero signature bits); (d) connected_components raises on max_iter
    exhaustion instead of returning a non-star-forest labeling."""
    import pytest

    from cc_baseline import connected_components_propagation

    from sparkwrangle.ext.dedup import (
        band_struct_array,
        connected_components,
        exact_dup_groups,
        simhash,
    )

    rows = [
        (1, "the quick fox"),
        (2, "the quick fox"),
        (3, "漢字テキスト"),
        (4, "другой текст"),
        (5, "!!! ??? ..."),
        (6, "   "),
        (7, None),
        (8, "unique latin doc"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.text_hash, r.dup_count) for r in exact_dup_groups(docs).collect()}
    assert got[1][1] == 2 and got[2][1] == 2 and got[1][0] == got[2][0]
    for d in (3, 4, 5, 6, 7):
        assert got[d][0] is None and got[d][1] == 1, (d, got[d])
    assert got[8][1] == 1 and got[8][0] is not None

    joined = {
        r.doc_id: (r.text_hash, r.dup_count)
        for r in exact_dup_groups(docs, count_mode="join").collect()
    }
    assert joined == got
    with pytest.raises(ValueError, match="count_mode"):
        exact_dup_groups(docs, count_mode="auto")

    # keep-first keeps every NULL-hash doc, one per real group
    hashed = exact_dup_groups(docs).select("doc_id", "text_hash")
    kept_nonnull = (
        hashed.filter(F.col("text_hash").isNotNull())
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    kept_ids = {r.doc_id for r in kept_nonnull.collect()} | {
        r.doc_id for r in hashed.filter(F.col("text_hash").isNull()).collect()
    }
    assert kept_ids == {1, 3, 4, 5, 6, 7, 8}

    with pytest.raises(ValueError, match="bands"):
        band_struct_array(k=16, bands=32)
    with pytest.raises(ValueError, match="bands"):
        band_struct_array(k=16, bands=5)
    with pytest.raises(ValueError, match="bits"):
        simhash(docs, "doc_id", "text", bits=61)

    # a 5-chain needs 3 propagation hops / >1 contraction round: starving
    # max_iter must raise, not return a wrong labeling
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 5)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(1, 6)], "doc_id long")
    with pytest.raises(Exception, match="max_iter"):
        connected_components_propagation(chain, ids, max_iter=1).collect()
    with pytest.raises(Exception, match="max_iter"):
        connected_components(chain, ids, max_iter=0)
    ok = connected_components(chain, ids).collect()
    assert {r.cluster_id for r in ok} == {1}


def test_sketch_edge_semantics(spark):
    """Pins the round-9 sketch-review fixes: (a) histogram_quantiles keeps
    the NULL-key group (null-safe stats joins — a NULL grouping key is a
    group, like any GROUP BY); (b) hll_estimate returns 0.0, not NULL,
    for empty/all-NULL input; (c) the hll_sql DuckDB twin filters NULL
    items exactly like hll_registers, so parity holds on NULL-bearing
    columns; (d) cms_estimates / bloom_probe tolerate probe frames whose
    columns collide with sketch internals ('cnt', 'bits') or carry
    un-groupable types (maps), and reject a reserved '_rid' column."""
    import duckdb
    import pytest

    from sparkwrangle.ext.hashing import h60
    from sparkwrangle.ext.sketches import (
        bloom_bitmap,
        bloom_probe,
        cms_estimates,
        cms_sketch,
        histogram_quantiles,
        hll_estimate,
        hll_registers,
        hll_sql,
    )

    # (a) NULL-key group survives with correct quantiles
    rows = [(None, float(v)) for v in range(1, 11)] + [("k1", 5.0), ("k1", 7.0)]
    df = spark.createDataFrame(rows, "k string, value double")
    got = {
        (r.k, r.p): r.est
        for r in histogram_quantiles(df, "value", [0.5], keys=["k"]).collect()
    }
    assert (None, 0.5) in got and ("k1", 0.5) in got
    assert 4.0 <= got[(None, 0.5)] <= 6.5  # median of 1..10, bin-interpolated

    # (b) empty and all-NULL inputs estimate 0.0 (not NULL)
    empty = spark.createDataFrame([], "item string")
    est = hll_estimate(hll_registers(empty, "item")).collect()[0]
    assert est.hll_raw == 0.0
    nulls = spark.createDataFrame([(None,), (None,)], "item string")
    est = hll_estimate(hll_registers(nulls, "item")).collect()[0]
    assert est.hll_raw == 0.0

    # (c) Spark vs DuckDB parity on a NULL-bearing item column
    items = [("a",), (None,), ("b",), ("a",), (None,)]
    sdf = spark.createDataFrame(items, "item string")
    spark_raw = hll_estimate(hll_registers(sdf, "item")).collect()[0].hll_raw
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES ('a'), (NULL), ('b'), ('a'), (NULL)) v(item)")
    duck_raw = con.execute(
        f"WITH {hll_sql('t', 'item')} SELECT hll_raw FROM hest"
    ).fetchone()[0]
    assert abs(spark_raw - duck_raw) < 1e-9, (spark_raw, duck_raw)

    # (d) probe frames with colliding names / map columns; _rid reserved
    probe = spark.createDataFrame(
        [("a", 1, 2, {"x": 1}), ("c", 3, 4, {"y": 2})],
        "item string, cnt int, bits int, m map<string,int>",
    )
    sketch = cms_sketch(sdf, "item")
    out = cms_estimates(probe, sketch, "item").collect()
    assert {r.item for r in out} == {"a", "c"}
    assert all(r.cms_est >= 0 and r.m is not None for r in out)
    hashed = probe.withColumn("h", h60(F.col("item")))
    bits = bloom_bitmap(sdf.select(h60(F.col("item")).alias("h")), "h")
    hits = {r.item: r.bloom_hit for r in bloom_probe(hashed, "h", bits).collect()}
    assert hits["a"] is True  # member: guaranteed hit
    with pytest.raises(ValueError, match="_rid"):
        cms_estimates(probe.withColumn("_rid", F.lit(1)), sketch, "item")


def test_cms_never_undercounts_and_mostly_exact(spark):
    """CMS hard guarantee: est ≥ true count for EVERY item (not just the
    top-20 the catalog query reports); with 150-1500 users in 4×256
    counters most estimates collide with nothing and are exactly right."""
    from sparkwrangle.ext.sketches import cms_estimates, cms_sketch
    from sparkwrangle.io import load_table
    from conftest import SF_ORACLE

    ev = load_table(spark, SF_ORACLE, "events")
    items = ev.select(F.col("user_id").cast("string").alias("item"))
    sketch = cms_sketch(items, "item")
    exact = items.groupBy("item").agg(F.count("*").alias("exact_cnt"))
    est = cms_estimates(exact, sketch, "item").collect()
    assert all(r.cms_est >= r.exact_cnt for r in est)
    exact_share = sum(r.cms_est == r.exact_cnt for r in est) / len(est)
    assert exact_share > 0.5, f"only {exact_share:.0%} collision-free"


def test_cms_unseen_item_estimates_not_dropped(spark):
    """A probed item that was never inserted must still yield a row
    (estimate ≥ 0, typically 0 when its buckets are all empty) — CMS
    point-query semantics for arbitrary probes, not just items drawn
    from the sketched stream."""
    from sparkwrangle.ext.sketches import cms_estimates, cms_sketch

    items = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 2, "item string"
    )
    sketch = cms_sketch(items, "item")
    probe = spark.createDataFrame(
        [("a",), ("never_inserted_xyzzy",)], "item string"
    )
    got = {r.item: r.cms_est for r in cms_estimates(probe, sketch, "item").collect()}
    assert set(got) == {"a", "never_inserted_xyzzy"}
    assert got["a"] >= 5
    assert got["never_inserted_xyzzy"] >= 0  # present, near-zero estimate


def test_bloom_probe_duplicate_rows_no_false_negative(spark):
    """A duplicated probe row must still report bloom_hit=true for a true
    member — the per-position AND is duplicate-insensitive, unlike a
    row-count-dependent sum of hits."""
    from sparkwrangle.ext.hashing import h60
    from sparkwrangle.ext.sketches import bloom_bitmap, bloom_probe

    member = spark.createDataFrame([("doc-1",)], "key string").select(
        h60(F.col("key")).alias("h")
    )
    bitmap = bloom_bitmap(member, "h")
    probe = spark.createDataFrame(
        [("doc-1",), ("doc-1",), ("doc-1",), ("absent",)], "key string"
    ).select("key", h60(F.col("key")).alias("h"))
    rows = bloom_probe(probe, "h", bitmap).collect()
    got = {r.key: r.bloom_hit for r in rows}
    assert got["doc-1"] is True  # duplicated member row still hits
    assert got["absent"] is False
    # row-preserving: the 3 duplicate member rows each keep their own
    # output row (the old groupBy over value columns collapsed them)
    assert len(rows) == 4
    assert sorted(r.key for r in rows) == ["absent", "doc-1", "doc-1", "doc-1"]


def test_sketch_probes_preserve_duplicate_rows(spark):
    """cms_estimates is row-preserving too: probing the same item twice
    yields two estimate rows, not a silently-collapsed one — repeated
    transactions with no unique key must not undercount downstream."""
    from sparkwrangle.ext.sketches import cms_estimates, cms_sketch

    src = spark.createDataFrame([("a",)] * 5 + [("b",)], "item string")
    sketch = cms_sketch(src, "item")
    probe = spark.createDataFrame([("a",), ("a",), ("b",)], "item string")
    rows = cms_estimates(probe, sketch, "item").collect()
    assert sorted(r.item for r in rows) == ["a", "a", "b"]
    assert all(r.cms_est >= 1 for r in rows)


def test_hll_null_items_ignored(spark):
    """NULL items are not countable values: they must neither create a
    phantom register (inflating `present`) nor NULL out the estimate on
    an all-NULL column."""
    from sparkwrangle.ext.sketches import hll_estimate, hll_registers

    mixed = spark.createDataFrame(
        [("a",), ("b",), (None,), ("a",)], "item string"
    )
    regs = hll_registers(mixed, "item")
    assert regs.filter(F.col("reg").isNull()).count() == 0
    est = hll_estimate(regs).first()["hll_raw"]
    assert 1.0 <= est <= 4.0  # 2 distinct non-null items, small-range exact-ish
    all_null = spark.createDataFrame([(None,), (None,)], "item string")
    assert hll_registers(all_null, "item").count() == 0


def test_histogram_quantiles_nan_excluded(spark):
    """One NaN must not poison every bin: Spark orders NaN above all
    doubles, so an unfiltered NaN becomes max(v) and turns the bin ratio
    NaN for every row. NaN rows are excluded like NULLs."""
    from sparkwrangle.ext.sketches import histogram_quantiles

    vals = [(float(i),) for i in range(1, 101)] + [(float("nan"),)]
    df = spark.createDataFrame(vals, "v double")
    rows = histogram_quantiles(df, "v", [0.5]).collect()
    assert len(rows) == 1
    assert abs(rows[0].est - 50.0) < 2.0  # median of 1..100, NaN ignored


def test_lsh_band_buckets_validates_band_split(spark):
    """bands must divide the plane count — a remainder would silently
    drop the trailing sign bits from every signature."""
    import pytest as _pytest

    from sparkwrangle.ext.similarity import (
        hyperplane_planes,
        lsh_band_buckets,
        lsh_band_buckets_vectorized,
    )

    df = spark.createDataFrame([(1, [0.1] * 8)], "vec_id long, embedding array<double>")
    planes = hyperplane_planes(16, 8)
    with _pytest.raises(ValueError, match="bands"):
        lsh_band_buckets(df, planes, 5)
    with _pytest.raises(ValueError, match="bands"):
        lsh_band_buckets_vectorized(df, planes, 5)


def test_assign_cells_requires_numeric_cell_id(spark):
    """String cell ids would turn the argmax tiebreak's unary minus into
    a silent NULL cast (non-deterministic ties) — reject them up front."""
    import pytest as _pytest

    from sparkwrangle.ext.similarity import assign_cells

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    cents = spark.createDataFrame(
        [("a", [1.0, 0.0])], "cell string, centroid array<double>"
    )
    with _pytest.raises(ValueError, match="numeric"):
        assign_cells(vecs, cents)


def test_ewma_null_run_start_emits_null_not_nan(spark):
    """A user partition opening with a run of NULL values has den = 0 for
    those rows — ewma must be NULL, not 0.0/0.0 = NaN, and the first
    non-NULL value restarts the weighted average cleanly."""
    import math

    from sparkwrangle.catalog_relational import w_ewma_smoothing

    ev = spark.createDataFrame(
        [
            (1, 9, "2024-01-01 10:00:00", None),
            (2, 9, "2024-01-01 10:01:00", None),
            (3, 9, "2024-01-01 10:02:00", 10.0),
            (4, 9, "2024-01-01 10:03:00", 20.0),
        ],
        "event_id long, user_id long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    ev.createOrReplaceTempView("_ewma_null_src")

    import sparkwrangle.catalog_relational as rel

    orig = rel._t
    rel._t = lambda spark, sf_dir, name: spark.table("_ewma_null_src")
    try:
        got = {r.event_id: r.ewma for r in w_ewma_smoothing(spark, "unused").collect()}
    finally:
        rel._t = orig
    assert got[1] is None and got[2] is None
    assert got[3] == 10.0
    # row 4: (20 + 0.8*10) / (1 + 0.8) = 15.555556
    assert abs(got[4] - 15.555556) < 1e-6
    assert not any(v is not None and math.isnan(v) for v in got.values())


def test_hll_rho_matches_python(spark):
    """Leading-1 position: engine string/integer form ≡ arithmetic rho."""
    from sparkwrangle.ext.sketches import hll_rho

    vals = [0, 1, 2, 3, 255, 256, 4095, 2**52 - 1, 2**59, 2**60 - 1]
    df = spark.createDataFrame([(v,) for v in vals], "h bigint")
    got = {r.h: r.rho for r in df.select("h", hll_rho(F.col("h")).alias("rho")).collect()}
    for v in vals:
        rem = v >> 8
        expect = 53 if rem == 0 else 53 - rem.bit_length()
        assert got[v] == expect, (v, got[v], expect)


def test_hll_estimate_within_tolerance(spark):
    """White-box HLL lands within the theoretical ±3σ band
    (σ = 1.04/√256 ≈ 6.5%) of the exact distinct count, overall and for
    every event_type group."""
    from sparkwrangle.ext.sketches import hll_estimate, hll_registers
    from sparkwrangle.io import load_table
    from conftest import SF_ORACLE

    ev = load_table(spark, SF_ORACLE, "events")
    items = ev.select("event_type", F.col("user_id").cast("string").alias("item"))
    regs = hll_registers(items, "item", ["event_type"])
    est = {r.event_type: r.hll_raw for r in hll_estimate(regs, ["event_type"]).collect()}
    exact = {
        r.event_type: r.n
        for r in items.groupBy("event_type")
        .agg(F.countDistinct("item").alias("n"))
        .collect()
    }
    for et, n in exact.items():
        assert abs(est[et] - n) / n < 0.20, (et, est[et], n)


def test_duplicate_spans_join_mode_equals_window_mode(spark):
    """The skew-safe groupBy+join occurrence count is pinned output-equal
    to the default window form, and its physical plan contains NO window
    partitioned by the gram hash — the operator that would pin a hot
    gram's 10⁹ occurrences to a single straggler task (window shuffles
    are invisible to AQE skew splitting; the equi-join is splittable)."""
    from sparkwrangle.ext.dedup import duplicate_spans

    # hot-key corpus: ONE 3-gram repeated 10^5 times across 50 docs, plus
    # a handful of genuinely duplicated and unique runs
    hot = " ".join(["hot key gram"] * 60)  # 60 repeats/doc before the join
    shared = "alpha beta gamma delta epsilon"
    rows = [(i, f"{hot} filler{i} {shared}") for i in range(50)]
    rows += [(100, "nothing repeated here at all once"),
             (101, f"{shared} tail words here")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    win = duplicate_spans(docs, "doc_id", "text", n=3, count_mode="window")
    jon = duplicate_spans(docs, "doc_id", "text", n=3, count_mode="join")
    assert sorted(map(tuple, win.collect())) == sorted(map(tuple, jon.collect()))

    # the join plan must not contain a Window specced on the gram hash
    import re

    plan = jon._jdf.queryExecution().executedPlan().toString()
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "gh" not in spec.split(",")[0], spec
    assert "windowspecdefinition(gh" not in plan


def test_prune_boilerplate_join_mode_equals_window_mode(spark):
    """prune_boilerplate's skew-safe groupBy+join block count is pinned
    output-equal to the default window form — boilerplate blocks are hot
    BY CONSTRUCTION (a footer shared by 10⁹ docs is one straggler task
    under the window form), so the join dial is the scale path — and the
    join plan carries NO window partitioned by the block hash."""
    import re

    from sparkwrangle.ext.text import prune_boilerplate

    footer = "all rights reserved contact us"  # shared boilerplate
    rows = [(i, f"unique body {i} words here {footer}") for i in range(8)]
    rows += [(100, f"{footer} {footer} {footer}"),  # within-doc repetition
             (101, "entirely unique document nothing shared"),
             (102, "")]  # zero-token doc drops out pre-blocking
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    win = prune_boilerplate(docs, "doc_id", "text", block=2, min_occ=3,
                            count_mode="window")
    jon = prune_boilerplate(docs, "doc_id", "text", block=2, min_occ=3,
                            count_mode="join")
    w_rows = sorted(map(tuple, win.collect()))
    j_rows = sorted(map(tuple, jon.collect()))
    assert w_rows == j_rows
    # the shared footer must actually have been pruned somewhere
    assert any(r[2] > 0 for r in w_rows), w_rows

    plan = jon._jdf.queryExecution().executedPlan().toString()
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "_bh" not in spec.split(",")[0], spec

    import pytest

    with pytest.raises(ValueError, match="count_mode"):
        prune_boilerplate(docs, count_mode="broadcast")


def test_ngram_df_cap_join_mode_equals_window_mode(spark):
    """df-cap via anti-join against the map-side-counted hot-shingle list
    (the AQE-skew-splittable scale form) is pinned output-equal to the
    window df-cap, including on a corpus with one pathological shingle."""
    from sparkwrangle.ext.dedup import ngram_jaccard_pairs, shingles

    boiler = "click here to subscribe"
    rows = [(i, f"{boiler} article body {i} unique words piece") for i in range(40)]
    rows += [(100, "alpha beta gamma delta epsilon zeta"),
             (101, "alpha beta gamma delta epsilon eta")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    sh = shingles(docs, "doc_id", "text", 3)

    def norm(df):
        return sorted(
            (r.id_a, r.id_b, r.inter, r.sz_a, r.sz_b, round(r.jaccard, 9))
            for r in df.collect()
        )

    win = ngram_jaccard_pairs(sh, "doc_id", max_df=5, df_cap_mode="window")
    jon = ngram_jaccard_pairs(sh, "doc_id", max_df=5, df_cap_mode="join")
    assert norm(win) == norm(jon)
    assert norm(jon)  # the capped corpus still yields the alpha-beta pair

    plan = jon._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(shingle" not in plan


def test_duplicate_spans_semantics(spark):
    """Planted duplicate paragraph: an identical 12-token run inside two
    otherwise-unique docs yields exactly one maximal span per doc covering
    those 12 tokens; a doc repeating its own 8-gram is caught too
    (within-document repetition counts toward min_count)."""
    from sparkwrangle.ext.dedup import duplicate_spans

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa mu nu"
    u1 = " ".join(f"u{i}" for i in range(10))
    u2 = " ".join(f"v{i}" for i in range(10))
    rep = " ".join(f"w{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            (1, f"{u1} {shared}"),
            (2, f"{shared} {u2}"),
            (3, f"{rep} filler {rep}"),
            (4, "totally unique words only here nothing repeats at all"),
        ],
        "doc_id bigint, text string",
    )
    spans: dict[int, list] = {}
    for r in duplicate_spans(docs, "doc_id", "text", n=8).collect():
        spans.setdefault(r.doc_id, []).append(
            (r.span_start, r.span_end, r.span_tokens)
        )
    # doc 1: shared run occupies tokens [10, 22); doc 2: [0, 12)
    assert spans[1] == [(10, 22, 12)]
    assert spans[2] == [(0, 12, 12)]
    # doc 3: both copies flagged; starts 0 and 9 are 9 > n apart → two
    # separate maximal spans, not one merged one
    assert sorted(spans[3]) == [(0, 8, 8), (9, 17, 8)]
    assert 4 not in spans


def test_bpe_train_merges_canonical(spark):
    """Sennrich-style merges on a hand corpus, including the greedy-
    leftmost subtlety and the lexicographic argmax tiebreak."""
    from sparkwrangle.ext.text import bpe_train_merges

    docs = spark.createDataFrame(
        [(1, "low low low lower lowest newer newer wider")],
        "doc_id bigint, text string",
    )
    got = [tuple(r) for r in bpe_train_merges(docs, rounds=4).collect()]
    # (l,o)=5 ties (o,w)=5 → lexicographic; then (lo,w)=5; (e,r)=4 from
    # lower+newer*2+wider; then (e,w)=2 ties (n,e)=2 → lexicographic
    assert got == [
        (1, "l", "o", 5),
        (2, "lo", "w", 5),
        (3, "e", "r", 4),
        (4, "e", "w", 2),
    ]
    # greedy leftmost: 'aaaa' → (a,a) counts every adjacent pair (3 per
    # word), merge produces 'aa aa', second round merges (aa,aa)
    docs2 = spark.createDataFrame(
        [(1, "aaaa aaaa aaaa bb")], "doc_id bigint, text string"
    )
    got2 = [tuple(r) for r in bpe_train_merges(docs2, rounds=3).collect()]
    assert got2 == [(1, "a", "a", 9), (2, "aa", "aa", 3), (3, "b", "b", 1)]


def test_bloom_no_false_negatives(spark):
    """Bloom guarantee on the driver corpus: every exact eval-shingle hit
    is also a Bloom hit for every document (bloom_hits >= exact_hits and
    exact_flagged → bloom_flagged), and the false-positive overshoot at
    m=2^20 stays small relative to the probe count."""
    from sparkwrangle.catalog import CATALOG
    from conftest import SF_ORACLE

    rows = CATALOG["x_bloom_decontaminate"].fn(spark, SF_ORACLE).collect()
    assert rows
    total_grams = sum(r.n_grams for r in rows)
    total_fp = sum(r.bloom_hits - r.exact_hits for r in rows)
    for r in rows:
        assert r.bloom_hits >= r.exact_hits, r
        if r.exact_flagged:
            assert r.bloom_flagged, r
    assert total_fp / total_grams < 0.05, (total_fp, total_grams)


def test_pagerank_star_graph_and_mass_conservation(spark):
    """Star graph: the hub out-ranks every leaf; an isolated (dangling)
    node ranks below the leaves but above zero; total mass stays ~1
    through damping + dangling redistribution."""
    from sparkwrangle.ext.graph import pagerank

    leaves = [f"l{i}" for i in range(5)]
    edges = spark.createDataFrame(
        [("hub", leaf) for leaf in leaves] + [(leaf, "hub") for leaf in leaves],
        "src string, dst string",
    )
    nodes = spark.createDataFrame(
        [("hub",)] + [(leaf,) for leaf in leaves] + [("isolated",)],
        "node string",
    )
    got = {r.node: r.rank for r in pagerank(edges, nodes, iters=5).collect()}
    assert got["hub"] > max(got[leaf] for leaf in leaves)
    leaf_ranks = {got[leaf] for leaf in leaves}
    assert len(leaf_ranks) == 1  # symmetry
    assert 0 < got["isolated"] < min(leaf_ranks)
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_pagerank_loop_partitioning_invariant(spark, monkeypatch):
    """The scale-adaptive loop partition count (derived from |E| and
    capped by the session conf) must not change a single rank bit — the
    decimal accumulators make the per-round sums partitioning-
    insensitive — and the session conf must read the same afterwards.
    The test drives the count through the per-partition row target and
    records what the loop actually ran at."""
    from contextlib import contextmanager

    from sparkwrangle import session
    from sparkwrangle.ext import graph
    from sparkwrangle.ext.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")],
        "src string, dst string",
    )
    nodes = spark.createDataFrame(
        [(n,) for n in "abcde"], "node string"
    )
    before = spark.conf.get("spark.sql.shuffle.partitions")
    base = {
        r.node: r.rank
        for r in pagerank(edges, nodes, iters=4).collect()
    }
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    used = []

    @contextmanager
    def spy(*args, **kwargs):
        with session.eager_partitions(*args, **kwargs):
            used.append(spark.conf.get("spark.sql.shuffle.partitions"))
            yield

    monkeypatch.setattr(graph, "eager_partitions", spy)
    for rows in (1, 2, 5):  # |E| = 5 -> 5, 3, 1 loop partitions
        monkeypatch.setattr(session, "ROWS_PER_PARTITION", rows)
        got = {r.node: r.rank for r in pagerank(edges, nodes, iters=4).collect()}
        assert got == base, f"ranks diverged at {used[-1]} loop partitions"
        assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert used == ["5", "3", "1"]


def test_bpe_segment_counts_hand_corpus(spark):
    """Encode with trained merges: after enough rounds on a one-word
    corpus, every 'low' collapses to a single symbol; chars-per-BPE-token
    rises accordingly, and the invariant n_bpe_tokens <= chars holds."""
    from sparkwrangle.ext.text import bpe_segment_counts

    docs = spark.createDataFrame(
        [(1, "low low low"), (2, "low")], "doc_id bigint, text string"
    )
    rows = {r.doc_id: r for r in bpe_segment_counts(docs, rounds=2).collect()}
    # merges: (l,o) then (lo,w) → 'low' is ONE symbol
    assert rows[1].n_ws_tokens == 3 and rows[1].n_bpe_tokens == 3
    assert rows[2].n_ws_tokens == 1 and rows[2].n_bpe_tokens == 1
    assert abs(rows[1].chars_per_bpe_token - 3.0) < 1e-9


def test_token_entropy_extremes(spark):
    """Entropy semantics: a one-token loop scores 0 bits; k equally-likely
    tokens score exactly log2(k); a skewed mix lands strictly between."""
    import math

    from sparkwrangle.catalog import CATALOG

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam spam spam"),
            (2, "a b c d e f g h"),
            (3, "a a a a a a b c"),
        ],
        "doc_id bigint, text string",
    )
    docs.createOrReplaceTempView("_entropy_docs")
    from sparkwrangle.ext.text import tokenize
    toks = docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("tok"))
    tc = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    clnc = (F.col("c") * F.log(F.col("c").cast("double"))).cast("decimal(38,18)")
    ent = {
        r.doc_id: r.e
        for r in tc.groupBy("doc_id")
        .agg(
            (
                (F.log(F.sum("c").cast("double")) - F.sum(clnc).cast("double") / F.sum("c"))
                / F.log(F.lit(2.0))
            ).alias("e")
        )
        .collect()
    }
    assert abs(ent[1] - 0.0) < 1e-9
    assert abs(ent[2] - 3.0) < 1e-9
    expect3 = -(6 / 8 * math.log2(6 / 8) + 2 * (1 / 8) * math.log2(1 / 8))
    assert abs(ent[3] - expect3) < 1e-9
    assert 0 < ent[3] < 3.0


def test_histogram_quantile_error_bounded_by_bin_width(spark):
    """The equi-width histogram estimate can never be off by more than one
    bin width: |est − exact| ≤ (max−min)/256 on the driver's events."""
    from sparkwrangle.catalog import CATALOG
    from sparkwrangle.io import load_table
    from conftest import SF_ORACLE

    ev = load_table(spark, SF_ORACLE, "events")
    mn, mx = ev.agg(F.min("value"), F.max("value")).collect()[0]
    bin_w = (mx - mn) / 256
    rows = CATALOG["x_histogram_quantiles"].fn(spark, SF_ORACLE).collect()
    assert {r.p for r in rows} == {0.5, 0.9, 0.99}
    for r in rows:
        assert r.abs_err <= bin_w + 1e-9, (r.p, r.abs_err, bin_w)


def test_weighted_sample_biases_toward_quality(spark):
    """A-ES weighted sampling oversamples high-quality docs: the sampled
    mean quality exceeds the corpus mean, and every weight is positive."""
    from sparkwrangle.catalog import CATALOG
    from sparkwrangle.ext.text import add_text_stats
    from sparkwrangle.io import load_table
    from conftest import SF_ORACLE

    rows = CATALOG["x_weighted_sample"].fn(spark, SF_ORACLE).collect()
    assert len(rows) == 50
    assert all(r.weight > 0 for r in rows)
    sample_mean = sum(r.weight for r in rows) / len(rows)
    docs = load_table(spark, SF_ORACLE, "documents")
    corpus_mean = (
        add_text_stats(docs).agg(F.avg("quality")).collect()[0][0]
    )
    assert sample_mean > corpus_mean, (sample_mean, corpus_mean)


def test_quality_score_null_or_unit_interval_never_nan(spark):
    """Pins the add_text_stats quality INVARIANT the x_quality_prune /
    curation order_block=floor(quality*32) call sites depend on: quality
    is ALWAYS a number in [0, 1] — never NULL (F.least SKIPS null
    operands, clamping a NULL ratio to its bound rather than propagating
    it) and never NaN — on adversarial docs (empty, NULL,
    whitespace-only, all-punctuation, huge, stopword-free, non-ASCII)
    AND on the real corpus. floor(NaN) would land in the wrong block
    while NaN sorts last — a silent mis-rank — so a quality formula
    change that breaks this (e.g. replacing F.least with a
    null-propagating arithmetic clamp) must fail here, not in the
    field."""
    import math

    from sparkwrangle.ext.text import add_text_stats
    from sparkwrangle.io import load_table
    from conftest import SF_ORACLE

    adversarial = [
        (1, ""),
        (2, None),
        (3, "   \t\n  "),
        (4, "!!!???;;;///***(((" * 10),
        (5, "the and is of to " * 500),
        (6, "zzzqqq xxyyzz qwerty " * 40),
        (7, "漢字テキスト、句読点。" * 25),
        (8, "a"),
    ]
    docs = spark.createDataFrame(adversarial, "doc_id long, text string")
    for r in add_text_stats(docs).select("doc_id", "quality").collect():
        q = r.quality
        assert q is not None, (r.doc_id, "quality must never be NULL")
        assert not math.isnan(q) and 0.0 <= q <= 1.0, (r.doc_id, q)
    corpus = add_text_stats(load_table(spark, SF_ORACLE, "documents"))
    bad = corpus.filter(
        F.col("quality").isNull()
        | F.isnan("quality")
        | (F.col("quality") < 0)
        | (F.col("quality") > 1)
    ).count()
    assert bad == 0


def test_simhash_banding_exact_for_radius_3(spark):
    """Pigeonhole exactness: 4 bands over 32 bits find EVERY pair within
    hamming distance 3 — the banded candidate set equals brute force on
    the driver corpus (no recall loss, unlike probabilistic MinHash)."""
    from sparkwrangle.catalog import CATALOG
    from sparkwrangle.ext.dedup import simhash
    from sparkwrangle.io import load_table
    from conftest import SF_ORACLE

    banded = {
        (r.id_a, r.id_b): r.hamming
        for r in CATALOG["x_simhash_hamming_pairs"].fn(spark, SF_ORACLE).collect()
    }
    sigs = {
        r.doc_id: r.simhash
        for r in simhash(
            load_table(spark, SF_ORACLE, "documents"), "doc_id", "text"
        ).collect()
    }
    ids = sorted(sigs)
    brute = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    assert banded == brute


def test_decode_jpeg_fuzz_never_leaks_internal_errors():
    """The honest-decoder contract under fuzz: random byte corruptions of
    a valid JPEG either still decode (the flip hit a don't-care byte) or
    raise ValueError — never IndexError/KeyError/struct.error from deep
    inside the parse, and never a hang."""
    import random

    from sparkwrangle.ext.multimodal import decode_jpeg, encode_jpeg_deterministic

    random.seed(7)
    good = encode_jpeg_deterministic(7)
    outcomes = {"ok": 0, "rejected": 0}
    for _ in range(200):
        b = bytearray(good)
        for _ in range(random.randint(1, 4)):
            b[random.randrange(len(b))] = random.randrange(256)
        try:
            decode_jpeg(bytes(b))
            outcomes["ok"] += 1
        except ValueError:
            outcomes["rejected"] += 1
    # the contract: nothing else ever escapes (a non-ValueError would
    # have propagated out of the loop and failed the test)
    assert outcomes["rejected"] > 0 and sum(outcomes.values()) == 200


def test_binary_decoders_fuzz_valueerror_only():
    """Every binary decoder holds the honest-decoder contract under fuzz
    (random byte corruptions AND truncations of valid payloads): decode
    or ValueError, never struct.error/zlib.error/IndexError."""
    import random

    from sparkwrangle.ext.multimodal import (
        decode_bmp,
        decode_jpeg,
        decode_png,
        decode_wav,
        encode_bmp_deterministic,
        encode_jpeg_deterministic,
        encode_jpeg_progressive_deterministic,
        encode_png_deterministic,
        encode_png_interlaced_deterministic,
        encode_wav_deterministic,
        resize_bmp_nearest,
    )

    cases = [
        (encode_bmp_deterministic, decode_bmp),
        (encode_wav_deterministic, decode_wav),
        (encode_png_deterministic, decode_png),
        (encode_png_interlaced_deterministic, decode_png),
        (encode_jpeg_deterministic, decode_jpeg),
        (encode_jpeg_progressive_deterministic, decode_jpeg),
        (encode_bmp_deterministic, lambda b: resize_bmp_nearest(b, 8, 6)),
    ]
    random.seed(11)
    for enc, dec in cases:
        good = enc(12)
        assert dec(good)
        for _ in range(150):
            b = bytearray(good)
            for _ in range(random.randint(1, 4)):
                b[random.randrange(len(b))] = random.randrange(256)
            try:
                dec(bytes(b))
            except ValueError:
                pass
        for cut in range(1, len(good), max(1, len(good) // 40)):
            try:
                dec(bytes(good[:cut]))
            except ValueError:
                pass


def test_wav_contract_zero_channels_and_short_fmt():
    """Two WAV payloads that used to escape the ValueError-only contract:
    fmt declaring 0 channels (ZeroDivisionError) and a truncated fmt
    chunk (struct.error) — both must surface as ValueError."""
    import struct

    import pytest as _pytest

    from sparkwrangle.ext.multimodal import decode_wav

    fmt0 = struct.pack("<HHIIHH", 1, 0, 8000, 0, 2, 16)
    zero_ch = (
        b"RIFF" + struct.pack("<I", 100) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt0)) + fmt0
        + b"data" + struct.pack("<I", 4) + b"\x00" * 4
    )
    with _pytest.raises(ValueError, match="0 channels"):
        decode_wav(zero_ch)
    short = (
        b"RIFF" + struct.pack("<I", 50) + b"WAVE"
        + b"fmt " + struct.pack("<I", 4) + b"\x01\x00\x01\x00"
        + b"data" + struct.pack("<I", 4) + b"\x00" * 4
    )
    with _pytest.raises(ValueError):
        decode_wav(short)


def test_feature_extractors_null_payload_rows(spark):
    """A NULL payload row (outer join / failed fetch in the pointer-table
    flow) must yield null features, not a stage-killing TypeError from
    bytes(None) — matching decode_features' existing behavior."""
    from sparkwrangle.ext.multimodal import (
        attach_jpeg_payload,
        decode_jpeg_features,
        decode_png_features,
    )

    docs = spark.createDataFrame([(1, "x"), (2, "y")], "doc_id long, text string")
    media = attach_jpeg_payload(docs).withColumn(
        "payload",
        F.when(F.col("doc_id") == 2, F.lit(None).cast("binary")).otherwise(
            F.col("payload")
        ),
    )
    rows = {r.doc_id: r for r in decode_jpeg_features(media).collect()}
    assert rows[1].px_mean is not None and rows[1].width is not None
    assert rows[2].px_mean is None and rows[2].width is None
    # png path shares the guard
    from sparkwrangle.ext.multimodal import attach_png_payload

    media_p = attach_png_payload(docs).withColumn(
        "payload",
        F.when(F.col("doc_id") == 2, F.lit(None).cast("binary")).otherwise(
            F.col("payload")
        ),
    )
    prows = {r.doc_id: r for r in decode_png_features(media_p).collect()}
    assert prows[1].px_mean is not None and prows[2].px_mean is None


def test_attach_tables_share_full_media_schema(spark):
    """Every attach table carries (doc_id, media_type, uri, n_bytes,
    payload), so MEDIA_SCHEMA consumers like decode_features compose with
    any format — the PNG/JPEG tables used to omit uri/n_bytes and
    KeyError inside the executor."""
    from sparkwrangle.ext.multimodal import (
        attach_jpeg_progressive_payload,
        attach_png_payload,
        decode_features,
    )

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    for attach in (attach_png_payload, attach_jpeg_progressive_payload):
        tbl = attach(docs)
        assert tbl.columns == ["doc_id", "media_type", "uri", "n_bytes", "payload"]
    out = decode_features(attach_png_payload(docs)).collect()
    assert len(out) == 1 and out[0].byte_mean is not None


def test_jpeg_headers_without_scan_raise():
    """Regression: a JPEG with full headers (SOF/DQT/DHT) but NO SOS scan
    must raise ValueError — the coefficient array is allocated at SOF
    parse, so without an explicit scan check the decoder fabricated a
    flat-gray image from the all-zero coefficients (silently passing the
    fuzz suite, which only asserts the error TYPE, and any sum oracle
    that happened to match mid-gray)."""
    import pytest as _pytest

    from sparkwrangle.ext.multimodal import (
        decode_jpeg,
        encode_jpeg_deterministic,
        encode_jpeg_progressive_deterministic,
    )

    for enc in (encode_jpeg_deterministic, encode_jpeg_progressive_deterministic):
        good = enc(3)
        sos = good.index(b"\xff\xda")
        headers_only = good[:sos] + b"\xff\xd9"  # headers, then straight to EOI
        with _pytest.raises(ValueError, match="missing SOF/SOS"):
            decode_jpeg(headers_only)
        with _pytest.raises(ValueError):
            decode_jpeg(good[:sos])  # plain truncation before the scan


def test_dedup_mode_strings_validated(spark):
    """ADVICE r4: a typo'd mode string ("Join", "anti") must raise
    up-front instead of silently running the window implementation —
    even when max_df is None and the mode would not be consulted."""
    import pytest as _pytest

    from sparkwrangle.ext.dedup import duplicate_spans

    docs = spark.createDataFrame(
        [(1, "a b c d e")], "doc_id bigint, text string"
    )
    sh = shingles(docs, "doc_id", "text", 3)
    with _pytest.raises(ValueError, match="ngram_jaccard_pairs"):
        ngram_jaccard_pairs(sh, "doc_id", max_df=5, df_cap_mode="Join")
    with _pytest.raises(ValueError, match="ngram_jaccard_pairs"):
        ngram_jaccard_pairs(sh, "doc_id", df_cap_mode="anti")
    with _pytest.raises(ValueError, match="duplicate_spans"):
        duplicate_spans(docs, "doc_id", "text", n=3, count_mode="Window")


def test_duplicate_spans_auto_mode_flips_on_hot_key(spark):
    """VERDICT r4 ask #2: the default auto mode's sampled max-df probe
    must flip to the skew-safe join form when one gram occurs 10^5 times
    (no window stage keyed on the gram hash — the single-straggler
    operator), and stay on the faster window form for a natural corpus.
    The decision is recorded in the stats dict."""
    from sparkwrangle.ext.dedup import HOT_KEY_EST_THRESHOLD, duplicate_spans

    hot_doc = " ".join(["hot"] * 100_002)  # 10^5 identical 3-grams
    docs = spark.createDataFrame(
        [
            (1, hot_doc),
            (2, "alpha beta gamma delta"),
            (3, "alpha beta gamma epsilon"),
        ],
        "doc_id bigint, text string",
    )
    stats = {}
    out = duplicate_spans(
        docs, "doc_id", "text", n=3, count_mode="auto", stats=stats
    )
    assert stats["mode"] == "join"
    assert stats["est_max_df"] >= HOT_KEY_EST_THRESHOLD
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(gh" not in plan
    rows = {r.doc_id: (r.span_start, r.span_end) for r in out.collect()}
    assert rows[1] == (0, 100_002)  # hot doc merges into ONE maximal span

    stats2 = {}
    small = spark.createDataFrame(
        [(1, "alpha beta gamma delta x"), (2, "alpha beta gamma delta y")],
        "doc_id bigint, text string",
    )
    out2 = duplicate_spans(
        small, "doc_id", "text", n=3, count_mode="auto", stats=stats2
    )
    assert stats2["mode"] == "window"
    assert {r.doc_id for r in out2.collect()} == {1, 2}


def test_ngram_jaccard_auto_mode_probe(spark):
    """Auto df-cap mode: natural corpus → window; the probe only runs
    when max_df is set, and the chosen mode lands in stats."""
    stats = {}
    sh = shingles(_docs(spark), "doc_id", "text", 3)
    out = ngram_jaccard_pairs(
        sh, "doc_id", threshold=0.05, max_df=20, df_cap_mode="auto", stats=stats
    )
    assert stats["mode"] == "window"
    assert stats["est_max_df"] is not None
    assert out.count() >= 1  # the planted near-dup pair survives the cap


def _prefix_filter_corpus(spark):
    """Adversarial corpus for the exact prefix-filter join: identical
    pairs (J=1.0), one-edit near-dups, mid-similarity pairs straddling
    common thresholds, disjoint docs, sub-shingle-length shorts, and a
    family of seeded vocab-overlap docs producing a spread of Jaccard
    values (so filters face pairs just above AND just below threshold)."""
    import random

    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    rows = [
        (0, base),
        (1, base),  # exact dup
        (2, base.replace("today", "now")),  # one-token edit
        (3, "completely different words about spark catalyst plans and shuffles"),
        (4, "tiny doc"),  # < 3 tokens → no shingles
        (5, ""),
    ]
    rng = random.Random(20260814)
    vocab = [f"w{i}" for i in range(30)]
    for i in range(6, 36):
        n = rng.randint(6, 24)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_prefix_filter_join_equals_bruteforce(spark):
    """LOSSLESSNESS: prefix+length+positional filtering followed by the
    exact verify must equal the uncapped brute-force Jaccard self-join —
    at several thresholds and under BOTH global orders (df, hash). A
    single dropped true pair (false negative from a filter bound, a
    ceil() float overshoot, or an inconsistent tie-break in the global
    order) fails the tuple-set compare."""
    from sparkwrangle.ext.dedup import prefix_filter_pairs

    sh = shingles(_prefix_filter_corpus(spark), "doc_id", "text", 3)

    def norm(df):
        return sorted(
            (r.id_a, r.id_b, r.inter, r.sz_a, r.sz_b, round(r.jaccard, 9))
            for r in df.collect()
        )

    for t in (0.3, 0.5, 0.8, 1.0):
        brute = norm(ngram_jaccard_pairs(sh, "doc_id", threshold=t))
        for order in ("df", "hash"):
            got = norm(prefix_filter_pairs(sh, "doc_id", threshold=t, order=order))
            assert got == brute, f"threshold={t} order={order}"
        if t <= 0.5:
            assert brute  # the planted dups make low thresholds nonempty


def test_prefix_filter_join_plan_shape(spark):
    """Scale guards: no cartesian product anywhere, and no window
    partitioned by the corpus-wide shingle key — the only windows may
    partition by the doc id (bounded by doc length)."""
    from sparkwrangle.ext.dedup import prefix_filter_pairs

    sh = shingles(_prefix_filter_corpus(spark), "doc_id", "text", 3)
    out = prefix_filter_pairs(sh, "doc_id", threshold=0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition(shingle" not in plan


def test_prefix_filter_join_validates_args(spark):
    import pytest as _pytest

    from sparkwrangle.ext.dedup import prefix_filter_pairs

    sh = shingles(_docs(spark), "doc_id", "text", 3)
    with _pytest.raises(ValueError, match="prefix_filter_pairs"):
        prefix_filter_pairs(sh, "doc_id", order="DF")
    with _pytest.raises(ValueError, match="prefix_filter_pairs"):
        prefix_filter_pairs(sh, "doc_id", threshold=0.0)
    with _pytest.raises(ValueError, match="prefix_filter_pairs"):
        prefix_filter_pairs(sh, "doc_id", threshold=1.5)


def _py_levenshtein(a: str, b: str) -> int:
    """Independent reference DP — NOT Spark's levenshtein, so the test
    cross-checks the engine against a second implementation."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _edit_join_corpus(spark):
    """Adversarial strings for the exact edit-distance join: exact dups
    (dist 0, several ids per string), edits at the string START (the
    edit destroys prefix grams — the case a broken prefix bound loses),
    rare-gram edits, repeated-character strings whose gram SET is tiny
    (set-vs-multiset semantics stress), length-filter boundary pairs
    (len diff exactly k and k+1), strings shorter than q (excluded by
    contract), and seeded random strings over a 4-letter alphabet for a
    spread of true distances straddling every k tested."""
    import random

    rows = [
        (0, "spark catalyst engine"),
        (1, "spark catalyst engine"),   # exact dup
        (2, "spark catalyst engine"),   # triple
        (3, "Xpark catalyst engine"),   # substitution at pos 0
        (4, "park catalyst engine"),    # deletion at pos 0
        (5, "zspark catalyst engine"),  # insertion at pos 0
        (6, "spark catalyst enginezz"), # two inserts at end
        (7, "aaaaaaaaaa"),              # gram set == {"aa"}
        (8, "aaaaaaaaab"),              # one edit, same tiny gram set + {"ab"}
        (9, "aaaaaaaa"),                # len diff 2 vs id 7
        (10, "aaaaaaa"),                # len diff 3 vs id 7 (outside k=2)
        (11, "a"),                      # shorter than q=2 → short pass
        (12, ""),                       # empty → short pass (dist 1 to "a")
        (13, "ab"),                     # exactly q chars
        (14, "ba"),                     # dist 2 from "ab"
    ]
    rng = random.Random(20260815)
    for i in range(15, 55):
        n = rng.randint(4, 14)
        rows.append((i, "".join(rng.choice("abcd") for _ in range(n))))
    return spark.createDataFrame(rows, "doc_id long, s string")


def test_edit_distance_join_equals_bruteforce(spark):
    """LOSSLESSNESS: q-gram prefix filtering + length filter + exact
    verify must equal the brute-force all-pairs join, with distances
    checked against an INDEPENDENT Python DP — at several (k, q). A
    single dropped true pair (prefix bound off by one, multiset-vs-set
    gram accounting, an edit destroying the rarest prefix grams) fails
    the tuple-set compare."""
    from sparkwrangle.ext.dedup import edit_distance_pairs

    corpus = _edit_join_corpus(spark)
    rows = {r.doc_id: r.s for r in corpus.collect()}
    for q in (2, 3):
        # brute force over ALL strings — sub-q strings (even empty)
        # are legal edit-distance neighbors; the round-8 fuzz caught
        # the operator (and this test's old `len >= q` pre-filter)
        # silently excluding them
        for k in (0, 1, 2, 3):
            brute = sorted(
                (ia, ib, _py_levenshtein(sa, sb))
                for ia, sa in rows.items()
                for ib, sb in rows.items()
                if ia < ib and _py_levenshtein(sa, sb) <= k
            )
            got = sorted(
                (r.id_a, r.id_b, r.dist)
                for r in edit_distance_pairs(corpus, "doc_id", "s", k=k, q=q).collect()
            )
            assert got == brute, f"k={k} q={q}"
        # planted dups keep low k nonempty
        assert any(True for _ in brute)


def test_edit_distance_join_plan_shape(spark):
    """Scale guards: no cartesian product, and no window partitioned by
    the corpus-wide gram key — the only window ranks WITHIN a string's
    own grams (bounded by string length)."""
    from sparkwrangle.ext.dedup import edit_distance_pairs

    out = edit_distance_pairs(_edit_join_corpus(spark), "doc_id", "s", k=2, q=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition(gram" not in plan


def test_edit_distance_join_validates_args(spark):
    import pytest as _pytest

    from sparkwrangle.ext.dedup import edit_distance_pairs

    corpus = _edit_join_corpus(spark)
    with _pytest.raises(ValueError, match="edit_distance_pairs"):
        edit_distance_pairs(corpus, "doc_id", "s", k=-1)
    with _pytest.raises(ValueError, match="edit_distance_pairs"):
        edit_distance_pairs(corpus, "doc_id", "s", q=0)


def _wav_bytes(samples, n_channels=1):
    import struct

    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, 8000, 8000 * 2 * n_channels, 2 * n_channels, 16
    )
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def test_audio_features_rejects_stereo_and_empty(spark):
    """ADVICE r4: audio_features over an interleaved stereo stream would
    mix channels into energy/rms and count inter-channel flips as zero
    crossings — it must raise ValueError (module corruption contract)
    instead of returning silently inconsistent features; an empty data
    chunk must raise too, not ZeroDivisionError."""
    import pytest as _pytest

    from sparkwrangle.ext.multimodal import audio_features

    def media(payload):
        return spark.createDataFrame(
            [(1, "audio/wav", bytearray(payload))],
            "doc_id long, media_type string, payload binary",
        )

    stereo = _wav_bytes([100, -100, 200, -200], n_channels=2)
    with _pytest.raises(Exception, match="expected mono"):
        audio_features(media(stereo)).collect()

    empty = _wav_bytes([], n_channels=1)
    with _pytest.raises(Exception, match="empty data chunk"):
        audio_features(media(empty)).collect()


def test_png_adam7_interlaced_decode_parity():
    """Adam7-interlaced PNGs decode to EXACTLY what the straight-layout
    twin decodes for every (w, h) combination the generator produces
    (ids 0..44 cover the full 9×5 size grid, including sizes where
    several Adam7 passes are empty): every pixel lives in exactly one
    pass, so dimensions, pixel sum and byte count must all agree. A
    wrong pass-dimension ceil, a filter applied against the full-image
    prior row, or a filter byte charged to an empty pass all break
    this."""
    from sparkwrangle.ext.multimodal import (
        decode_png,
        encode_png_deterministic,
        encode_png_interlaced_deterministic,
    )

    for i in range(45):
        plain = decode_png(encode_png_deterministic(i))
        inter = decode_png(encode_png_interlaced_deterministic(i))
        assert inter == plain, (i, plain, inter)
    # the wire layouts really differ (it is not the same file)
    assert encode_png_deterministic(12) != encode_png_interlaced_deterministic(12)
    # interlace flag is declared in IHDR
    assert encode_png_interlaced_deterministic(12)[8 + 8 + 12] == 1


def test_jpeg_progressive_decode_per_pixel_golden():
    """The progressive (SOF2) four-scan stream reconstructs the EXACT
    per-pixel image v + a·s[x]·s[y] (s the sign pattern of the DCT(4,4)
    basis) — the proof the AC scans are really decoded: the AC detail is
    pixel-SUM-neutral by construction, so only a per-pixel check can
    distinguish a real progressive decoder from one that silently drops
    the AC scans. Also pins aggregate parity with the baseline twin and
    that the wire formats genuinely differ (SOF2 vs SOF0)."""
    import numpy as np

    from sparkwrangle.ext.multimodal import (
        _decode_jpeg_image,
        decode_jpeg,
        encode_jpeg_deterministic,
        encode_jpeg_progressive_deterministic,
    )

    s = [1, -1, -1, 1, 1, -1, -1, 1]
    for i in range(24):  # full 3x4 size grid, twice over the a-phase
        w, h = 8 * (2 + i % 3), 8 * (1 + i % 4)
        exp = np.zeros((h, w), dtype=np.int64)
        for by in range(h // 8):
            for bx in range(w // 8):
                v = (7 * i + 13 * bx + 29 * by) % 256
                a = ((3 * i + 5 * bx + 7 * by) % 5) - 2 if 2 <= v <= 253 else 0
                for y in range(8):
                    for x in range(8):
                        exp[by * 8 + y, bx * 8 + x] = v + a * s[x] * s[y]
        gw, gh, img = _decode_jpeg_image(encode_jpeg_progressive_deterministic(i))
        assert (gw, gh) == (w, h)
        assert np.array_equal(img, exp), i
        assert decode_jpeg(
            encode_jpeg_progressive_deterministic(i)
        ) == decode_jpeg(encode_jpeg_deterministic(i))
    prog = encode_jpeg_progressive_deterministic(12)
    assert b"\xff\xc2" in prog and b"\xff\xc2" not in encode_jpeg_deterministic(12)
