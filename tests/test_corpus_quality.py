"""Edge-case tests for corpus-hygiene operators (operators/corpus_quality).

The registry oracle replay proves sf-data parity; these pin the
degenerate inputs the synthetic testdata never produces: empty text,
single-word docs, fully-repetitive docs, verbatim contamination.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from myrecommendsystem_spark.operators import corpus_quality, similarity


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_contamination_verbatim_and_clean(spark):
    bench = _docs(spark, [(100, "the quick brown fox jumps over dogs")])
    train = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over dogs"),  # verbatim copy
            (2, "entirely different words appear in here"),  # clean
            (3, "prefix then the quick brown fox tail"),  # partial overlap
        ],
    )
    out = {
        r.doc_id: r
        for r in corpus_quality.ngram_contamination(train, bench, n=3).collect()
    }
    assert out[1].contamination == 1.0
    assert out[2].n_hits == 0 and out[2].contamination == 0.0
    assert 0.0 < out[3].contamination < 1.0
    # every training doc reports a row, including the clean one
    assert set(out) == {1, 2, 3}


def test_contamination_short_doc_whole_text_shingle(spark):
    # <n words → the whole text is the single shingle (shingles() fallback):
    # a verbatim short benchmark string is still caught.
    bench = _docs(spark, [(100, "two words")])
    train = _docs(spark, [(1, "two words"), (2, "other pair")])
    out = {
        r.doc_id: r
        for r in corpus_quality.ngram_contamination(train, bench, n=3).collect()
    }
    assert out[1].n_grams == 1 and out[1].n_hits == 1
    assert out[2].n_hits == 0


def test_repetition_signals_degenerate_docs(spark):
    docs = _docs(
        spark,
        [
            (1, ""),  # empty
            (2, "word"),  # one word: no bigrams, no trigrams
            (3, "spam spam spam spam spam spam"),  # fully repetitive
            (4, "all words here are fully distinct tokens"),  # no repeats
        ],
    )
    out = {r.doc_id: r for r in corpus_quality.repetition_signals(docs).collect()}
    assert out[1].n_words == 0 and out[1].distinct_word_ratio == 0.0
    assert out[2].n_words == 1 and out[2].dup_trigram_frac == 0.0
    assert out[2].top_bigram_frac == 0.0
    assert out[3].distinct_word_ratio == pytest.approx(1 / 6, abs=1e-4)
    assert out[3].dup_trigram_frac == pytest.approx(3 / 4, abs=1e-4)
    assert out[3].top_bigram_frac == 1.0  # every bigram is "spam spam"
    assert out[4].distinct_word_ratio == 1.0
    assert out[4].dup_trigram_frac == 0.0


def test_cross_corpus_dedup_normalization(spark):
    ref = _docs(spark, [(1, "Already   Held page"), (2, "another held doc")])
    new = _docs(
        spark,
        [
            (10, "already held PAGE"),  # dup after case/space squash
            (11, "a genuinely new document"),
        ],
    )
    kept = corpus_quality.cross_corpus_dedup(new, ref).collect()
    assert [r.doc_id for r in kept] == [11]
    # fp working column must not leak into the output
    assert "fp" not in kept[0].asDict()


def test_mips_differs_from_cosine_on_magnitude(spark):
    # corpus vec 2 has the same DIRECTION as the query but half the
    # magnitude of vec 3's different direction — cosine prefers 2, MIPS
    # prefers the longer 3.
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),  # query
            (2, [0.9, 0.0]),
            (3, [2.0, 2.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter(F.col("vec_id") == 1)
    mips = similarity.brute_force_topk_dot(emb, q, k=1).collect()[0]
    cos = similarity.brute_force_topk(emb, q, k=1).collect()[0]
    assert mips.vec_id == 3 and mips.dot == pytest.approx(2.0)
    assert cos.vec_id == 2


def test_pq_topk_recall_on_clustered_data(spark):
    # PQ's accuracy contract holds on data WITH neighborhood structure
    # (real embedding corpora); build 16 well-separated clusters and
    # require the exact top-5 to be recovered almost entirely.
    import numpy as np

    rng = np.random.RandomState(7)
    centers = rng.randn(16, 64) * 3.0
    rows = [
        (int(i), (centers[i % 16] + rng.randn(64) * 0.05).tolist())
        for i in range(400)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r.query_id, r.vec_id)
        for r in similarity.brute_force_topk(emb, q, k=5).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in similarity.pq_topk(emb, q, m=8, k_codes=16, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"PQ recall {recall:.2f} on clustered data"


def test_pq_topk_beats_chance_on_isotropic_testdata(spark):
    # The synthetic testdata embeddings are near-isotropic — PQ's known
    # worst case (neighbor gaps below quantization error), so exact-top-5
    # recall is structurally modest there; it must still beat random
    # selection by an order of magnitude.
    from myrecommendsystem_spark.io import readers

    emb = readers.load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.vec_id)
        for r in similarity.brute_force_topk(emb, q, k=5).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in similarity.pq_topk(emb, q, m=8, k_codes=16, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    chance = 5.0 / (n - 1)
    assert recall >= 10 * chance, f"PQ recall {recall:.2f} vs chance {chance:.3f}"


def test_pq_codes_shape_and_determinism(spark):
    from myrecommendsystem_spark.io import readers

    emb = readers.load_table(spark, "/root/testdata/sf0.001", "embeddings")
    books = similarity.fit_pq_codebooks(emb, m=8, k=16)
    assert books.shape == (8, 16, 8)  # d=64 → 8-dim subspaces
    c1 = {r.id: list(r.codes) for r in similarity.pq_encode(emb, books).collect()}
    c2 = {r.id: list(r.codes) for r in similarity.pq_encode(emb, books).collect()}
    assert c1 == c2
    assert all(len(v) == 8 and max(v) < 16 and min(v) >= 0 for v in c1.values())


def test_quantizers_invariant_to_partition_layout(spark):
    """K-means init indexes into collect order, so both
    quantizer trainers sort the sample by id — the SAME codebooks and
    centroids must come out of any physical partitioning."""
    import numpy as np
    from myrecommendsystem_spark.io import readers

    emb = readers.load_table(spark, "/root/testdata/sf0.001", "embeddings")
    shuffled = emb.repartition(13)
    np.testing.assert_array_equal(
        similarity.fit_pq_codebooks(emb, m=8, k=16),
        similarity.fit_pq_codebooks(shuffled, m=8, k=16),
    )
    np.testing.assert_array_equal(
        similarity.fit_ivf_centroids(emb, n_cells=8),
        similarity.fit_ivf_centroids(shuffled, n_cells=8),
    )


def test_shard_assignment_stable_across_partitioning(spark):
    from myrecommendsystem_spark.io import readers
    from myrecommendsystem_spark.operators import sampling

    docs = readers.load_table(spark, "/root/testdata/sf0.001", "documents")
    a = {
        r.doc_id: r.shard
        for r in sampling.shard_assignment(docs, "doc_id", 32).collect()
    }
    b = {
        r.doc_id: r.shard
        for r in sampling.shard_assignment(
            docs.repartition(7), "doc_id", 32
        ).collect()
    }
    assert a == b  # content-addressed: physical layout is irrelevant
    assert set(a.values()) <= set(range(32))


def test_resample_balanced_stable_and_capped(spark):
    from myrecommendsystem_spark.io import readers
    from myrecommendsystem_spark.operators import sampling

    docs = readers.load_table(
        spark, "/root/testdata/sf0.001", "documents"
    ).select("doc_id", "source")
    kept = {
        r.doc_id
        for r in sampling.resample_balanced(
            docs, "doc_id", "source", target_fraction=0.5
        ).collect()
    }
    again = {
        r.doc_id
        for r in sampling.resample_balanced(
            docs.repartition(7), "doc_id", "source", target_fraction=0.5
        ).collect()
    }
    assert kept == again  # membership is content-addressed
    sizes = {
        (r.source, r.cnt)
        for r in docs.filter(F.col("doc_id").isin(list(kept)))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    min_n = min(
        r.cnt
        for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    # every stratum lands near half the smallest stratum (md5 uniformity)
    assert all(c <= min_n for _, c in sizes)


def test_export_manifest_totals_conserve(spark):
    from myrecommendsystem_spark.io import readers
    from myrecommendsystem_spark.operators import sampling

    docs = readers.load_table(spark, "/root/testdata/sf0.001", "documents")
    man = sampling.export_shard_manifest(
        docs, "doc_id", 8, size_col="n_chars"
    ).collect()
    assert sum(r.n_rows for r in man) == docs.count()
    assert sum(r.total_size for r in man) == (
        docs.agg(F.sum("n_chars")).first()[0]
    )


def test_bm25_ranks_rare_term_doc_first(spark):
    from myrecommendsystem_spark.functions import text as TXT

    docs = _docs(
        spark,
        [
            (1, "rareword filler filler filler"),
            (2, "common common common common"),
            (3, "common filler other words"),
            (4, "unrelated text entirely here"),
        ],
    )
    # 'rareword' appears in one doc, 'common' in two — idf must rank the
    # rareword doc above any common-term doc for the combined query.
    out = TXT.bm25_search(docs, ["rareword", "common"], k=4).collect()
    assert out[0].doc_id == 1 and out[0].rnk == 1
    assert {r.doc_id for r in out} == {1, 2, 3}  # doc 4 matches nothing


def test_bm25_repeated_query_term_scores_as_once(spark):
    """A repeated query term counts once: it must not double the term's
    df or add its tf contribution twice."""
    from myrecommendsystem_spark.functions import text as TXT

    docs = _docs(
        spark,
        [
            (1, "rareword filler filler filler"),
            (2, "common common common common"),
            (3, "common filler other words"),
            (4, "unrelated text entirely here"),
        ],
    )
    once = TXT.bm25_search(docs, ["rareword", "common"], k=4).collect()
    twice = TXT.bm25_search(docs, ["common", "rareword", "common"], k=4).collect()
    assert [tuple(r) for r in twice] == [tuple(r) for r in once]


def test_bm25_empty_query_returns_empty(spark):
    """An empty query list must yield an empty top-k, not
    a schema-inference ValueError from createDataFrame([])."""
    from myrecommendsystem_spark.functions import text as TXT

    docs = _docs(spark, [(1, "some text"), (2, "other text")])
    assert TXT.bm25_search(docs, [], k=5).count() == 0


def test_tfidf_cosine_pairs_detect_near_dup(spark):
    from myrecommendsystem_spark.functions import text as TXT

    docs = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta zeta"),  # 4/5 shared terms
            (3, "totally different content words"),
        ],
    )
    pairs = {(r.id_a, r.id_b): r.cos for r in
             TXT.tfidf_cosine_pairs(docs, threshold=0.5, max_df=50).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.5
    assert all(3 not in p for p in pairs)


def test_tfidf_cosine_caps_ubiquitous_terms(spark):
    from myrecommendsystem_spark.functions import text as TXT

    # 'the' is in every doc; with max_df=2 it drops out of the vocabulary,
    # so docs sharing ONLY 'the' never pair.
    docs = _docs(
        spark,
        [
            (1, "the unique1 unique2"),
            (2, "the unique3 unique4"),
            (3, "the unique5 unique6"),
        ],
    )
    pairs = TXT.tfidf_cosine_pairs(docs, threshold=0.01, max_df=2).collect()
    assert pairs == []


def test_ivfpq_topk_recall_on_clustered_data(spark):
    import numpy as np

    rng = np.random.RandomState(11)
    centers = rng.randn(16, 64) * 3.0
    rows = [
        (int(i), (centers[i % 16] + rng.randn(64) * 0.05).tolist())
        for i in range(400)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r.query_id, r.vec_id)
        for r in similarity.brute_force_topk(emb, q, k=5).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in similarity.ivf_pq_topk(
            emb, q, n_cells=16, nprobe=4, m=8, k_codes=16, k=5
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"IVF-PQ recall {recall:.2f} on clustered data"


def test_cdc_chunks_reassemble_and_are_stable_under_prefix_edit(spark):
    from myrecommendsystem_spark.functions.text import content_defined_chunks
    import numpy as np

    rng = np.random.RandomState(3)
    body = " ".join(
        "".join(rng.choice(list("abcdefghijklmnop"), size=6)) for _ in range(200)
    )
    docs = spark.createDataFrame(
        [(1, body), (2, "EDITED PREFIX inserted here " + body)],
        "doc_id long, text string",
    )
    out = content_defined_chunks(docs).collect()
    by_doc = {}
    for r in sorted(out, key=lambda r: (r.id, r.chunk_idx)):
        by_doc.setdefault(r.id, []).append(r.chunk)
    # chunks reassemble losslessly
    assert "".join(by_doc[1]) == body
    assert "".join(by_doc[2]) == "EDITED PREFIX inserted here " + body
    # content-defined boundaries: the edit only disturbs a bounded head;
    # the tail chunk sequences re-synchronize and are identical
    tail = min(len(by_doc[1]), len(by_doc[2])) // 2
    assert by_doc[1][-tail:] == by_doc[2][-tail:]
    # every chunk respects the max size bound
    assert all(r.n_bytes <= 256 for r in out)


def test_cdc_chunks_multibyte_no_overlap_and_cap(spark):
    # 3-byte runes force every max_size cut to land mid-rune: chunks must
    # still reassemble EXACTLY (no duplicated rune) and respect the cap.
    text = "€" * 300  # 900 bytes of 3-byte runes
    from myrecommendsystem_spark.functions.text import content_defined_chunks

    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = sorted(content_defined_chunks(docs).collect(), key=lambda r: r.chunk_idx)
    assert "".join(r.chunk for r in out) == text
    assert sum(r.n_bytes for r in out) == 900
    assert all(r.n_bytes <= 256 for r in out)


def test_corpus_drift_handles_one_sided_terms(spark):
    # a term present in only one corpus must report p=0 on the other
    # side, not NULL (the own-side-join trap)
    from myrecommendsystem_spark.plans.registry import REGISTRY

    builder = next(
        s.builder for s in REGISTRY if s.name == "corpus_drift_terms"
    )
    import tempfile, os

    d = spark.createDataFrame(
        [
            (1, "shared refonly refonly", "en", "src0", 22),
            (2, "shared newonly newonly", "en", "src1", 22),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    tmp = tempfile.mkdtemp()
    d.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    out = {r.term: (r.p_ref, r.p_new) for r in builder(spark, tmp).collect()}
    assert out["refonly"] == (pytest.approx(2 / 3), 0.0)
    assert out["newonly"] == (0.0, pytest.approx(2 / 3))


def test_ivfpq_index_save_load_search_parity(spark, tmp_path):
    from myrecommendsystem_spark.io import readers

    emb = readers.load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    idx = similarity.build_ivfpq_index(emb, n_cells=8, m=8, k_codes=16)
    fresh = {
        (r.query_id, r.vec_id, r.rnk)
        for r in similarity.ivfpq_search(idx, q, emb, nprobe=4, k=5).collect()
    }
    path = str(tmp_path / "ann_index")
    idx.save(path)
    loaded = similarity.IvfPqIndex.load(spark, path)
    import numpy as np

    assert np.allclose(loaded.books, idx.books)
    assert np.allclose(loaded.centroids, idx.centroids)
    replayed = {
        (r.query_id, r.vec_id, r.rnk)
        for r in similarity.ivfpq_search(loaded, q, emb, nprobe=4, k=5).collect()
    }
    assert replayed == fresh  # a loaded index answers identically
    # index-only search (no rerank corpus) still returns a ranking
    adc_only = similarity.ivfpq_search(loaded, q, None, nprobe=4, k=5)
    assert adc_only.count() > 0


def test_ivfpq_search_query_reads_rewritten_embeddings(spark, tmp_path):
    """ann_topk_ivfpq_search builds its index from the table it reads on
    every call: after the embeddings under one directory are rewritten
    with different vectors, the next call must hash-match the DuckDB
    oracle over the NEW table — an index kept from the first call would
    answer with stale quantizers and codes."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from myrecommendsystem_spark import schemas
    from myrecommendsystem_spark.plans import ann_oracles
    from myrecommendsystem_spark.plans.text_queries import ann_topk_ivfpq_search
    from tests.conftest import SF_SMOKE
    from tests.oracle_utils import compare_query_to_oracle

    for name in schemas.TESTDATA_TABLES:
        if name != "embeddings":
            (tmp_path / f"{name}.parquet").symlink_to(f"{SF_SMOKE}/{name}.parquet")
    src = pq.read_table(f"{SF_SMOKE}/embeddings.parquet")
    dest = str(tmp_path / "embeddings.parquet")
    sf = str(tmp_path)

    def run():
        compare_query_to_oracle(
            spark, sf, ann_topk_ivfpq_search, ann_oracles.ivfpq_oracle(sf)
        )
        return sorted(tuple(r) for r in ann_topk_ivfpq_search(spark, sf).collect())

    pq.write_table(src, dest)
    first = run()
    mat = np.array(src["embedding"].to_pylist())[:, ::-1]  # other vectors
    emb_type = src.schema.field("embedding").type
    pq.write_table(
        src.set_column(
            src.schema.get_field_index("embedding"),
            "embedding",
            pa.array(mat.tolist(), type=emb_type),
        ),
        dest,
    )
    assert run() != first


# every top-k search of operators/similarity, with its score column name
_SEARCHES = {
    "brute_force_topk": (similarity.brute_force_topk, "cos"),
    "brute_force_topk_dot": (similarity.brute_force_topk_dot, "dot"),
    "ivf_topk": (lambda c, q: similarity.ivf_topk(c, q, n_cells=8), "cos"),
    "pq_topk": (similarity.pq_topk, "score"),
    "ivf_pq_topk": (lambda c, q: similarity.ivf_pq_topk(c, q, n_cells=8), "score"),
    "ivfpq_search": (
        lambda c, q: similarity.ivfpq_search(
            similarity.build_ivfpq_index(c, n_cells=8), q, c
        ),
        "score",
    ),
    "pca_topk": (similarity.pca_topk, "score"),
}


@pytest.mark.parametrize("search", list(_SEARCHES))
def test_topk_search_empty_query_set(spark, search):
    """An empty query set yields zero rows of the search's usual
    (query_id, vec_id, score, rnk) schema, on every search — the
    compressed-domain ones gather the query matrix on the driver and
    must not normalize a zero-row array."""
    from myrecommendsystem_spark.io import readers
    from tests.conftest import SF_SMOKE

    fn, score = _SEARCHES[search]
    emb = readers.load_table(spark, SF_SMOKE, "embeddings")
    out = fn(emb, emb.filter(F.col("vec_id") < 0))
    assert out.count() == 0
    assert out.columns == ["query_id", "vec_id", score, "rnk"]


def test_ivfpq_incremental_add_and_append(spark, tmp_path):
    """Ingestion-time index growth: encode new vectors against FROZEN
    quantizers and append their codes — the in-memory add and the
    durable parquet append must encode the batch identically, the grown
    index must cover the whole corpus, and search must surface
    added-batch vectors (recall above chance vs brute force)."""
    from myrecommendsystem_spark.io import readers

    emb = readers.load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    old = emb.filter(F.col("vec_id") < n // 2)
    new = emb.filter(F.col("vec_id") >= n // 2)
    idx = similarity.build_ivfpq_index(old, n_cells=8, m=8, k_codes=16)
    path = str(tmp_path / "grow_index")
    idx.save(path)
    idx.append_save(new, path)
    grown = similarity.IvfPqIndex.load(spark, path)
    assert grown.packed.count() == n

    def codes_set(df):
        return {
            (r.id, tuple(r.codes), r.cell_id) for r in df.collect()
        }

    assert codes_set(grown.packed) == codes_set(idx.add(new).packed)

    q = emb.filter(F.col("vec_id") < 5)
    got = similarity.ivfpq_search(grown, q, emb, nprobe=8, k=10).collect()
    assert {r.vec_id for r in got} & {
        r.vec_id for r in new.select("vec_id").collect()
    }, "search never surfaces appended vectors"
    exact = {
        (r.query_id, r.vec_id)
        for r in similarity.brute_force_topk(emb, q, k=10).collect()
    }
    approx = {(r.query_id, r.vec_id) for r in got}
    recall = len(exact & approx) / len(exact)
    assert recall >= 10 * (10.0 / (n - 1)), f"recall {recall:.2f} at chance"


def test_ivfpq_probe_ties_break_to_lowest_cell_like_ivf_assign(spark):
    """Cells with duplicated centroid rows tie exactly.  With more than 16
    cells numpy's default argsort (introsort) may reorder a tie, so only
    a stable sort keeps the lowest cell ids — the tie-break the oracles
    replay (``ORDER BY cd DESC, c``).  The index search and ivf_assign
    must probe the same cells."""
    import numpy as np

    n_cells, nprobe = 24, 3
    # odd cells share one row, even cells another: the query ties on every
    # odd cell, and the dots are exact (unit basis vectors)
    centroids = np.array([np.eye(4)[i % 2] for i in range(n_cells)])
    packed = spark.createDataFrame(
        [(100 + c, [0], c) for c in range(n_cells)],
        "id bigint, codes array<int>, cell_id int",
    )
    index = similarity.IvfPqIndex(packed, centroids, np.zeros((1, 1, 4)))
    q = spark.createDataFrame(
        [(0, [0.0, 1.0, 0.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    searched = similarity.ivfpq_search(index, q, None, nprobe=nprobe, k=n_cells)
    assigned = similarity.ivf_assign(q, centroids, nprobe=nprobe)
    assert sorted(r.vec_id - 100 for r in searched.collect()) == [1, 3, 5]
    assert sorted(r.cell_id for r in assigned.collect()) == [1, 3, 5]
