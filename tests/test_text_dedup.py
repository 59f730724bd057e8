"""Property tests for text analysis, dedup, and similarity search."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from myrecommendsystem_spark.functions import text as TXT
from myrecommendsystem_spark.operators import dedup, similarity

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from a warm window sill in the afternoon sun light"
)


@pytest.fixture(scope="module")
def docs(spark):
    """Corpus with known exact dups, near dups, and distinct docs."""
    rows = [
        Row(doc_id=0, text=BASE),
        Row(doc_id=1, text=BASE),  # exact dup of 0
        Row(doc_id=2, text="  " + BASE.upper() + "  "),  # normalized dup of 0
        Row(doc_id=3, text=BASE.replace("lazy", "sleepy")),  # near dup of 0
        Row(doc_id=4, text="completely different content about spark "
                           "engines and distributed query processing at scale "
                           "with shuffles joins and aggregations everywhere"),
        Row(doc_id=5, text="short text"),
        Row(doc_id=6, text="el gato y el perro en la casa de la abuela "
                           "que vive en un pueblo de la montana"),
    ]
    return spark.createDataFrame(rows).cache()


def test_token_count_edges(spark):
    df = spark.createDataFrame(
        [Row(t="one two  three"), Row(t="   "), Row(t=""), Row(t="single")]
    )
    out = df.select(TXT.token_count(F.col("t")).alias("n")).collect()
    assert [r.n for r in out] == [3, 0, 0, 1]


def test_shingles_null_and_empty_text(spark):
    """NULL text has no grams — explode() emits no row for it, as the
    DuckDB twin's unnest does — while empty and all-blank text are the
    single empty gram ['']."""
    from pyspark.sql.types import StringType, StructField, StructType, LongType

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("t", StringType(), True)]
    )
    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "   "), (3, "one two three four")], schema
    )
    out = {
        r.doc_id: r.g
        for r in df.select("doc_id", F.explode(TXT.shingles(F.col("t"))).alias("g"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("g")).alias("g"))
        .collect()
    }
    assert out == {
        1: [""],
        2: [""],
        3: ["one two three", "two three four"],
    }


def test_bpe_ish_tokens(spark):
    df = spark.createDataFrame([Row(t="hello, world42 (x)")])
    out = df.select(TXT.bpe_ish_tokens(F.col("t")).alias("tk")).first()
    assert out.tk == ["hello", ",", "world", "42", "(", "x", ")"]


def test_exact_dedup_normalization(docs):
    groups = dedup.exact_duplicates(docs)
    dup_group = groups.filter(F.col("dup_cnt") >= 3).collect()
    # 0, 1, 2 normalize to the same fingerprint (case/whitespace squashed)
    assert len(dup_group) == 1
    assert dup_group[0].keep_id == 0
    assert dup_group[0].dup_cnt == 3
    survivors = dedup.dedup_exact(docs)
    assert survivors.count() == 5  # 7 docs - 2 dropped dups


def test_minhash_finds_near_dup(docs):
    pairs = dedup.minhash_near_duplicates(docs, jaccard_threshold=0.5)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    # exact dups collide on every band; the one-word edit (doc 3) shares
    # most shingles with 0/1/2
    assert (0, 1) in found
    assert (0, 3) in found
    # unrelated docs must not pair
    assert not any(4 in p or 5 in p or 6 in p for p in found)


def test_minhash_jaccard_values(docs):
    pairs = dedup.minhash_near_duplicates(docs, jaccard_threshold=0.5)
    row = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert row[(0, 1)] == 1.0  # identical shingle sets
    assert 0.5 <= row[(0, 3)] < 1.0


def test_fingerprint_collapse_and_direct_paths_are_equivalent(spark):
    """Round-10 adaptive pre-collapse: both strategies of
    fingerprint_near_duplicates must emit the IDENTICAL pair set —
    including intra-clone-group pairs (hamming 0), cross-group near
    pairs, and the max_bucket cap counted in IDS on both paths.  Corpus
    mixes a clone group, singleton near-neighbors, and a bucket-cap
    casualty."""
    from pyspark.sql import Row

    rows = (
        # clone group: 6 ids share one fingerprint
        [Row(id=i, fp=0x1234567890ABCDEF) for i in range(6)]
        # near neighbor of the clone group (1 bit away)
        + [Row(id=10, fp=0x1234567890ABCDEE)]
        # far fingerprint — pairs with nothing
        + [Row(id=11, fp=-0x7EDCBA0987654321)]
        # second small clone pair, 2 bits from nothing else
        + [Row(id=20, fp=0x00000000000000FF), Row(id=21, fp=0x00000000000000FF)]
    )
    df = spark.createDataFrame(rows, "id long, fp long")
    out = {}
    for forced in (False, True):
        got = sorted(
            (r.id_a, r.id_b, r.hamming)
            for r in dedup.fingerprint_near_duplicates(
                df, max_hamming=4, _force_collapse=forced
            ).collect()
        )
        out[forced] = got
    assert out[False] == out[True]
    pairs = {(a, b): h for a, b, h in out[False]}
    # clone group: all 15 intra pairs at hamming 0
    assert sum(1 for (a, b), h in pairs.items() if a < 6 and b < 6 and h == 0) == 15
    # near neighbor pairs with every clone member at hamming 1
    assert sum(1 for (a, b), h in pairs.items() if b == 10 and h == 1) == 6
    assert (20, 21) in pairs and pairs[(20, 21)] == 0
    assert not any(11 in (a, b) for (a, b) in pairs)


def test_fingerprint_adaptive_probe_picks_collapse_when_clone_heavy(spark):
    """The adaptive probe must choose the pre-collapse strategy exactly
    when the direct path's excess candidate volume bands*sum(g^2-g)
    clears the threshold: a 3000-clone group (excess ~72M rows) -> the
    collapse plan (identifiable by its least/greatest expansion), while
    a mostly-unique corpus of the same size -> the direct plan."""
    from myrecommendsystem_spark.functions import caching

    clone_heavy = spark.range(3100).select(
        F.col("id"),
        F.when(F.col("id") < 3000, F.lit(0x1234567890ABCDEF))
        .otherwise(F.xxhash64("id"))
        .alias("fp"),
    )
    mostly_unique = spark.range(3100).select(
        F.col("id"), F.xxhash64("id").alias("fp")
    )
    plans = {}
    for name, df in (("clone", clone_heavy), ("unique", mostly_unique)):
        with caching.lazy_plans():
            out = dedup.fingerprint_near_duplicates(df, max_hamming=2)
            plans[name] = out._jdf.queryExecution().analyzed().toString()
        spark.catalog.clearCache()
    assert "least(" in plans["clone"], "clone-heavy corpus must collapse"
    assert "least(" not in plans["unique"], "unique corpus must run direct"


def test_fingerprint_collapse_cap_counts_ids(spark):
    """The max_bucket cap must count IDS per bucket on the collapse
    path too (group sizes summed), not distinct fingerprints — a clone
    group bigger than the cap saturates every one of its buckets and
    emits nothing, exactly like the direct path."""
    from pyspark.sql import Row

    rows = [Row(id=i, fp=0x0F0F0F0F0F0F0F0F) for i in range(12)]
    df = spark.createDataFrame(rows, "id long, fp long")
    for forced in (False, True):
        got = dedup.fingerprint_near_duplicates(
            df, max_hamming=4, max_bucket=10, _force_collapse=forced
        ).count()
        assert got == 0, forced


@pytest.mark.parametrize(
    "rows, ref, weight, expected",
    [
        # a bucket of exactly max_bucket (3) ids is kept ...
        ([(0, 1), (1, 1), (2, 1)], None, None, {(0, 1), (0, 2), (1, 2)}),
        # ... and one of max_bucket + 1 is dropped
        ([(0, 1), (1, 1), (2, 1), (3, 1)], None, None, set()),
        # cross: only ref is capped, so the oversized new-side bucket 1
        # (5 ids) keeps every pair, while ref's bucket 2 (4 ids) is gone
        (
            [(100 + i, 1) for i in range(5)] + [(200, 2)],
            [(0, 1), (1, 1)] + [(10 + i, 2) for i in range(4)],
            None,
            {(100 + i, r) for i in range(5) for r in (0, 1)},
        ),
        # weight: the cap sums the ids each row stands for, 2+1 <= 3 kept,
        # 2+2 > 3 dropped, though both buckets hold two rows
        ([(0, 1, 2), (1, 1, 1), (2, 2, 2), (3, 2, 2)], None, "w", {(0, 1)}),
    ],
)
def test_bucket_cap_core(spark, rows, ref, weight, expected):
    """cap_buckets keeps a bucket of at most max_bucket ids (summed
    ``weight`` when given); bucket_pairs self-joins it (id_a < id_b) or
    joins it against a capped ``ref``, carrying other columns as
    ``<c>_a`` / ``<c>_b``."""
    schema = "id long, k int" + (", w long" if weight else "")
    df = spark.createDataFrame(rows, schema)
    if ref is None:
        out = dedup.bucket_pairs(dedup.cap_buckets(df, ["k"], 3, weight), ["k"])
    else:
        capped_ref = dedup.cap_buckets(spark.createDataFrame(ref, schema), ["k"], 3)
        out = dedup.bucket_pairs(df, ["k"], ref=capped_ref)
    assert {(r.id_a, r.id_b) for r in out.collect()} == expected
    carried = ["w_a", "w_b"] if weight else []
    assert sorted(out.columns) == sorted(["k", "id_a", "id_b", *carried])


def test_winnowing_selection_semantics(spark):
    """MOSS winnowing contract (round-11): (a) the guarantee — two docs
    sharing a substring of length >= window + guarantee - 1 (16+8-1=23)
    share at least one SELECTED fingerprint VALUE; (b) rightmost-min
    tie-break — a constant doc's hashes are all equal, so every window
    selects its RIGHTMOST position: selected positions are exactly
    {guarantee-1 .. n_hashes-1} with one fp value; (c) density — the
    winnowed set is a strict, much smaller subset of the rolling index;
    (d) short docs (< window bytes) keep their single whole-text hash
    at pos 0 — including the empty doc, whose whole-text hash is 0
    (the rolling kernel's short-doc path never emits an empty
    stream)."""
    shared = "the quick brown fox jumps!"  # 26 chars >= 23
    rows = [
        (1, "A" * 40 + shared + "B" * 40),
        (2, "C" * 37 + shared + "D" * 29),
        (3, "unrelated content entirely different here"),
        (4, "Z" * 64),  # constant doc -> all hashes equal
        (5, "tiny"),  # < 16 bytes -> one whole-text hash
        (6, ""),
        (7, None),  # NULL text -> NO fingerprints (oracle parity)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = dedup.winnowing_fingerprints(df).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add((r.pos, r.fp))
    vals = {d: {fp for _, fp in s} for d, s in by_doc.items()}
    assert vals[1] & vals[2], "guarantee: shared 23+ byte run must match"
    assert not (vals[1] & vals[3]) and not (vals[2] & vals[3])
    # (b) constant doc: 64-16+1 = 49 hashes, windows select rightmost
    pos4 = sorted(p for p, _ in by_doc[4])
    assert pos4 == list(range(7, 49))
    assert len(vals[4]) == 1
    # (c) winnowed density well below the full rolling index on natural
    # text (constant runs like docs 1/4 legitimately select one VALUE at
    # many rightmost positions — their fp-value count is tiny instead)
    n_hashes_3 = len(rows[2][1]) - 16 + 1
    assert len(by_doc[3]) < n_hashes_3 / 2
    # (d) short + empty docs: one whole-text hash each, selected at 0
    assert by_doc[5] == {(0, next(iter(vals[5])))}
    assert by_doc[6] == {(0, 0)}
    # (e) NULL text selects NOTHING — the kernel emits
    # an empty array and explode drops the doc, exactly like the SQL
    # oracle (the old None->"" coercion emitted the empty-text hash)
    assert 7 not in by_doc


def test_winnowing_overlap_pairs_position_independent(spark):
    """Overlap pairing matches on fingerprint VALUES, not positions —
    a moved paragraph still pairs; the doc-frequency cap drops
    boilerplate fingerprints before the self-join."""
    para = "shared paragraph of meaningful length here."
    rows = [
        (1, para + " unique tail one two three four"),
        (2, "completely different head material " + para),
        (3, "nothing in common with the others at all!!"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in dedup.winnowing_overlap_pairs(df, min_shared=2).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert not any(3 in p for p in pairs)
    # cap: with max_doc_freq=1 every shared fp is dropped -> no pairs
    assert (
        dedup.winnowing_overlap_pairs(df, min_shared=1, max_doc_freq=1).count()
        == 0
    )


def test_simhash_near_dups(docs):
    pairs = dedup.simhash_near_duplicates(docs, max_hamming=6)
    found = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert found[(0, 1)] == 0  # identical text → identical fingerprint
    assert (0, 3) in found  # one-word edit → small hamming distance
    assert not any(4 in p for p in found)


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text="the cat sat on the mat and it is warm"),
            Row(doc_id=1, text="el gato y la casa de los abuelos en un pueblo"),
            Row(doc_id=2, text="zzz qqq xxx"),
        ]
    )
    out = {
        r.doc_id: r.lang
        for r in df.select(
            "doc_id", TXT.predicted_lang(F.col("text")).alias("lang")
        ).collect()
    }
    assert out[0] == "en"
    assert out[1] == "es"
    assert out[2] == "und"


@pytest.fixture(scope="module")
def vectors(spark):
    """Deterministic embeddings with a planted near-dup pair (0≈1)."""
    import random

    def vec(seed: int, dim: int = 16) -> list[float]:
        rng = random.Random(seed)
        return [rng.gauss(0.0, 1.0) for _ in range(dim)]

    base = vec(1)
    near = [x + 0.01 for x in base]
    rows = [Row(vec_id=0, embedding=base), Row(vec_id=1, embedding=near)] + [
        Row(vec_id=i, embedding=vec(i)) for i in range(2, 40)
    ]
    return spark.createDataFrame(rows).cache()


def test_brute_force_topk(vectors):
    queries = vectors.filter(F.col("vec_id") == 0)
    out = similarity.brute_force_topk(vectors, queries, k=3).collect()
    assert len(out) == 3
    assert out[0].vec_id == 1 and out[0].cos > 0.999  # planted near-dup
    assert [r.rnk for r in sorted(out, key=lambda r: r.rnk)] == [1, 2, 3]
    # no self-match
    assert all(r.vec_id != 0 for r in out)


def test_ivf_recall_vs_bruteforce(vectors):
    queries = vectors.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.vec_id)
        for r in similarity.brute_force_topk(vectors, queries, k=3).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in similarity.ivf_topk(
            vectors, queries, n_cells=4, nprobe=2, k=3
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_near_duplicate_pairs(vectors):
    out = similarity.near_duplicate_pairs(vectors, threshold=0.99)
    rows = out.collect()
    assert [(r.id_a, r.id_b) for r in rows] == [(0, 1)]


def test_hyperplane_lsh_pairs_subset_of_exact(vectors):
    """Sign-bit LSH finds the planted near-dup (cosine ≈ 1 collides in
    every band) and every emitted pair is in the exact join's output
    with the identical rounded cosine — LSH is a recall filter, never a
    source of new or different pairs."""
    lsh = similarity.hyperplane_lsh_pairs(
        vectors, threshold=0.9, n_bits=16, band_bits=8
    ).collect()
    exact = {
        (r.id_a, r.id_b): r.cos
        for r in similarity.near_duplicate_pairs(
            vectors, threshold=0.9
        ).collect()
    }
    assert (0, 1) in {(r.id_a, r.id_b) for r in lsh}
    for r in lsh:
        assert exact.get((r.id_a, r.id_b)) == r.cos
        assert 1 <= r.n_bands <= 2


def test_hyperplane_lsh_layout_invariant_and_jvm_side(vectors):
    a = similarity.hyperplane_lsh_pairs(vectors, threshold=0.9)
    b = similarity.hyperplane_lsh_pairs(
        vectors.repartition(7), threshold=0.9
    )
    assert a.collect() == b.collect()
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan  # signatures/banding/verify: pure Catalyst


def test_semantic_survivors_transitive_min_id(spark, vectors):
    """Three exact copies form ONE cluster via the closure: the min id
    survives carrying cluster_size=3, the other two are dropped, and
    everything else rides along as a singleton."""
    from myrecommendsystem_spark.operators import dedup as DD

    trip = vectors.union(
        vectors.filter(F.col("vec_id") == 0).select(
            F.col("vec_id") + 100, F.col("embedding")
        )
    )  # ids 0,1 are planted near-dups; 100 is an exact copy of 0
    pairs = similarity.hyperplane_lsh_pairs(trip, threshold=0.9)
    comps = DD.connected_components(pairs)
    got = {(r.id, r.comp) for r in comps.collect()}
    assert (100, 0) in got and (1, 0) in got and (0, 0) in got


def test_hyperplane_signs_deterministic():
    a = similarity.hyperplane_signs(16, 64)
    b = similarity.hyperplane_signs(16, 64)
    assert a == b
    assert all(v in (-1, 1) for row in a for v in row)
    # roughly balanced rows — a degenerate all-+1 hyperplane would make
    # the bit useless
    assert all(abs(sum(row)) < 40 for row in a)


def test_hyperplane_cross_pairs_consistent_with_self_join(vectors):
    """Splitting the corpus and probing new-vs-ref through shared
    buckets finds exactly the self-join pairs that straddle the split
    (same hyperplanes sign both sides), with identical cosines; the
    planted near-dup (0≈1) straddles an even/odd split."""
    def prep(parity):
        side = vectors.filter(F.col("vec_id") % 2 == parity)
        return similarity._hp_prepare(side, 16, 8, "vec_id", "embedding", "hp")

    cross = {
        (r.new_id, r.ref_id): r.cos
        for r in similarity.hp_cross_pairs_from_prepared(
            *prep(0), *prep(1), threshold=0.9
        ).collect()
    }
    full = {
        (r.id_a, r.id_b): r.cos
        for r in similarity.hyperplane_lsh_pairs(
            vectors, threshold=0.9
        ).collect()
    }
    straddling = {
        (a, b): c for (a, b), c in full.items() if (a % 2) != (b % 2)
    }
    got = {(min(n, r), max(n, r)): c for (n, r), c in cross.items()}
    assert got == straddling
    assert (0, 1) in got


def test_rolling_fingerprints_detect_shared_substrings(spark):
    from myrecommendsystem_spark.functions import text as TXT
    from pyspark.sql import functions as F

    shared = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [
            (0, f"AAA {shared} BBB"),
            (1, f"XXXXX {shared} YYYYY"),
            (2, "completely unrelated content with different words"),
        ],
        "doc_id long, text string",
    )
    fps = docs.select(
        "doc_id", TXT.rolling_fingerprints(F.col("text"), 16).alias("fp")
    ).collect()
    sets = {r.doc_id: set(r.fp) for r in fps}
    # docs 0 and 1 share a 44-byte run -> 44-16+1 = 29 shared window hashes
    assert len(sets[0] & sets[1]) >= 25
    assert not (sets[0] & sets[2])
    # short doc: single whole-text hash, deterministic across calls
    short = spark.createDataFrame([(9, "tiny")], "doc_id long, text string")
    h1 = short.select(TXT.rolling_fingerprints(F.col("text"), 16)).collect()
    h2 = short.select(TXT.rolling_fingerprints(F.col("text"), 16)).collect()
    assert h1 == h2 and len(h1[0][0]) == 1


def _winnow_ref(hashes, guarantee=8):
    """Per-definition MOSS selection over RK window hashes: the min of
    every run of ``guarantee`` packed (hash, pos) values."""
    enc = [h * (1 << 31) + ((1 << 31) - 1 - i) for i, h in enumerate(hashes)]
    return [min(enc[i : i + guarantee]) for i in range(len(enc) - guarantee + 1)]


@pytest.mark.parametrize(
    "kernel, reference",
    [
        (lambda c: TXT.rolling_fingerprints(c, 16), lambda hs: hs),
        (lambda c: TXT.winnowed_fingerprints(c, 16, 8), _winnow_ref),
    ],
    ids=["rolling", "winnowed"],
)
def test_rolling_fingerprints_segment_boundary_invariance(spark, kernel, reference):
    """Both rolling kernels hash the fused batch buffer in 128 KiB
    segments (bounded peak memory); a doc whose windows straddle
    a segment boundary must hash identically to the same doc placed far
    from any boundary, and match the direct per-window definition."""
    target = ("shared-substring-payload-" * 40)[:1000]
    filler_long = "z" * 131_000  # pushes target across the 1<<17 boundary
    filler_short = "z" * 50

    def fps(*texts):
        # one partition, so both docs share one Arrow batch and buffer
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        ).coalesce(1)
        rows = df.select("doc_id", kernel(F.col("text")).alias("fp")).collect()
        return {r.doc_id: list(r.fp) for r in rows}

    straddled = fps(filler_long, target)[1]
    clean = fps(filler_short, target)[1]
    assert straddled == clean
    # anchor absolute values against the per-window definition
    base, mod = 257, (1 << 31) - 1
    data = target.encode()
    expect = [
        sum(b * pow(base, 15 - j, mod) for j, b in enumerate(data[i : i + 16])) % mod
        for i in range(len(data) - 15)
    ]
    assert straddled == reference(expect)


def test_connected_components_matches_transitive_closure(spark):
    from myrecommendsystem_spark.operators.dedup import connected_components

    # two chains + one triangle + an isolated pair
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.comp for r in connected_components(df).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_components_inmem_long_chain_converges_fast():
    """A chain-shaped pair graph is the worst
    case for plain min-label propagation (one hop per round — a long
    chain under the 5M-edge driver cap would effectively hang).  The
    pointer-jumping loop must converge in O(log V) rounds and still
    return the exact min-label answer: every node labelled with the
    chain's minimum id."""
    import numpy as np

    from myrecommendsystem_spark.operators.dedup import _components_inmem

    n = 200_000  # chain a0~a1~...~a_n: diameter n, far past any hop budget
    src = np.arange(n, dtype=np.int64)
    dst = src + 1
    ids, comps = _components_inmem(src, dst)  # raises after 128 rounds
    assert len(ids) == n + 1
    assert (comps == 0).all()
    # shuffled ids exercise the searchsorted remap under jumping too
    perm = np.random.default_rng(7).permutation(n + 1) * 13 + 5
    ids2, comps2 = _components_inmem(perm[src], perm[dst])
    assert (comps2 == perm.min()).all()


def test_dedup_near_survivors_transitive(spark):
    """A~B and B~C near-dups (A and C differ more) must still collapse to
    ONE survivor via the component step."""
    from myrecommendsystem_spark.operators.dedup import dedup_near_survivors

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    docs = spark.createDataFrame(
        [
            (1, base + "one two"),
            (2, base + "one three"),   # near 1 and 3
            (3, base + "four three"),
            (50, "totally different text about other things entirely here"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r.doc_id
        for r in dedup_near_survivors(docs, jaccard_threshold=0.7).collect()
    )
    assert kept == [1, 50]


def test_ivf_near_dup_recall(spark):
    from myrecommendsystem_spark.io import readers
    from myrecommendsystem_spark.operators.similarity import (
        near_duplicate_pairs,
        near_duplicate_pairs_ivf,
    )

    emb = readers.load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {
        (r.id_a, r.id_b) for r in near_duplicate_pairs(emb, 0.35).collect()
    }
    ivf = {
        (r.id_a, r.id_b)
        for r in near_duplicate_pairs_ivf(emb, 0.35, n_cells=8).collect()
    }
    assert ivf <= exact          # bucketing must not invent pairs
    assert len(ivf) >= 0.5 * len(exact)  # and should keep the majority


def test_language_id_relational_matches_expression(spark):
    """Set-oriented language-ID must agree with the per-row expression
    form on unambiguous (non-tie) inputs."""
    from myrecommendsystem_spark.functions import text as TXT
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (0, "the cat and the dog in a house for it is that"),
            (1, "el que la de una y los en las que el"),
            (2, "der und das ist nicht eine zu der und ist"),
            (3, "xyzzy plugh foobar qux"),
        ],
        "doc_id long, text string",
    )
    rel = {
        r.doc_id: r.predicted_lang
        for r in TXT.language_id_table(docs).collect()
    }
    expr = {
        r.doc_id: r.pl
        for r in docs.select(
            "doc_id", TXT.predicted_lang(F.col("text")).alias("pl")
        ).collect()
    }
    assert rel == {0: "en", 1: "es", 2: "de", 3: "und"}
    assert expr == rel


def test_language_id_tie_and_null_semantics(spark):
    """Round 12: the two language-ID forms DIVERGE by design on edges —
    the relational form (and the doc_lang_id oracle convention) breaks
    an argmax tie to the lexicographically FIRST language and maps NULL
    text to 'und', while the per-row expression breaks ties to the
    GREATEST language and, on NULL text, returns the greatest language
    outright (NULL hits tie every struct and the <=0 guard is NULL —
    see the predicted_lang docstring).  Oracle-gated paths (quality
    label_documents) must use the relational form; this test pins both
    behaviors so a silent swap fails loudly."""
    from myrecommendsystem_spark.functions import text as TXT
    from pyspark.sql import functions as F

    # 'the' is an en stopword, 'der' a de stopword: one hit each → tie
    docs = spark.createDataFrame(
        [(0, "the der"), (1, None)], "doc_id long, text string"
    )
    rel = {
        r.doc_id: r.predicted_lang
        for r in TXT.language_id_table(docs).collect()
    }
    assert rel[0] == "de"  # first language on the tie (oracle convention)
    assert rel[1] == "und"  # NULL text → join miss → 'und'
    expr = {
        r.doc_id: r.pl
        for r in docs.select(
            "doc_id", TXT.predicted_lang(F.col("text")).alias("pl")
        ).collect()
    }
    assert expr[0] == "en"  # greatest language on the tie
    assert expr[1] == "fr"  # NULL text → all-NULL hits → greatest lang
    # the oracle-gated featurization rides the relational convention
    from myrecommendsystem_spark.ml.quality import label_documents

    lab = {r.doc_id: r.weak_label for r in label_documents(docs).collect()}
    assert lab == {0: 0, 1: 0}


def test_simhash_null_text(spark):
    """NULL text must not crash the Arrow kernel (documents.text is
    nullable); it fingerprints to 0."""
    from myrecommendsystem_spark.functions import text as TXT

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "some real text here")],
        "doc_id int, text string",
    )
    got = {r.doc_id: r.fp for r in df.select(
        "doc_id", TXT.simhash64(F.col("text")).alias("fp")
    ).collect()}
    assert got[1] == 0 and got[3] != 0
    assert got[2] is not None  # "" tokenizes to [""] — defined, no crash


def test_near_duplicate_pairs_auto_routes_to_ivf(vectors, monkeypatch):
    """Above the exact_row_limit the auto method must delegate to the IVF
    bucketed join — never the driver-collect broadcast-GEMM path."""
    from myrecommendsystem_spark.operators import similarity as sim_mod

    sentinel = object()
    monkeypatch.setattr(
        sim_mod, "near_duplicate_pairs_ivf", lambda df, **kw: sentinel
    )
    out = sim_mod.near_duplicate_pairs(vectors, threshold=0.99, exact_row_limit=10)
    assert out is sentinel  # corpus (40 rows) > limit → IVF, no collect
    # small corpus still takes the exact path (sentinel NOT returned)
    exact = sim_mod.near_duplicate_pairs(vectors, threshold=0.99)
    assert [(r.id_a, r.id_b) for r in exact.collect()] == [(0, 1)]


def test_near_duplicate_pairs_byte_gate_routes_wide_d_to_ivf(
    vectors, monkeypatch
):
    """The auto gate must be BYTE-aware, not just row-aware: a frame
    whose rows×d×8 matrix exceeds exact_bytes_limit routes to IVF even
    when the row count is under exact_row_limit (a d=1024 table at 500k
    rows is a 4 GB driver collect)."""
    from myrecommendsystem_spark.operators import similarity as sim_mod

    sentinel = object()
    monkeypatch.setattr(
        sim_mod, "near_duplicate_pairs_ivf", lambda df, **kw: sentinel
    )
    # vectors: 40 rows × d=16 → 5120 bytes; a 4 KB budget trips the byte
    # gate while the row gate (default 500k) stays far from binding
    out = sim_mod.near_duplicate_pairs(
        vectors, threshold=0.99, exact_bytes_limit=4096
    )
    assert out is sentinel
    # the same frame under a roomier byte budget takes the exact path
    exact = sim_mod.near_duplicate_pairs(
        vectors, threshold=0.99, exact_bytes_limit=8192
    )
    assert exact is not sentinel
    # a null vector in the first row must not stand in for the width:
    # the gate sizes the matrix by the widest vector
    nulled = vectors.sparkSession.createDataFrame(
        [(-1, None)], vectors.schema
    ).unionByName(vectors)
    out = sim_mod.near_duplicate_pairs(
        nulled, threshold=0.99, exact_bytes_limit=4096
    )
    assert out is sentinel


def test_embedding_survivors_transitive(spark):
    """a≈b≈c with cos(a,c) BELOW threshold must still collapse to one
    survivor (transitive closure), while an unrelated vector survives."""
    import math

    from myrecommendsystem_spark.operators import similarity as sim_mod

    def vec(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    rows = [(0, vec(0)), (1, vec(30)), (2, vec(60)), (3, vec(180))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # threshold 0.85: adjacent pairs (cos30 ≈ 0.866) link, a-c (cos60 = 0.5) doesn't
    out = sim_mod.embedding_dedup_survivors(df, threshold=0.85)
    assert sorted(r.vec_id for r in out.collect()) == [0, 3]


def test_cross_corpus_near_dedup_drops_near_recrawl(spark):
    from myrecommendsystem_spark.operators.dedup import (
        cross_corpus_near_survivors,
        minhash_cross_corpus_pairs,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while rain falls "
        "on the quiet hillside every single morning in autumn"
    )
    ref = spark.createDataFrame(
        [(1, base), (2, "completely unrelated reference material here")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, base),  # exact recrawl
            (11, base.replace("autumn", "winter")),  # near recrawl
            (12, "a genuinely novel document about databases and joins"),
        ],
        "doc_id long, text string",
    )
    pairs = minhash_cross_corpus_pairs(new, ref, jaccard_threshold=0.5)
    matched = {r.new_id for r in pairs.collect()}
    assert 10 in matched and 11 in matched and 12 not in matched
    surv = cross_corpus_near_survivors(new, ref, jaccard_threshold=0.5)
    assert [r.doc_id for r in surv.select("doc_id").collect()] == [12]


def test_substring_overlap_detects_shared_span(spark):
    from myrecommendsystem_spark.operators.dedup import substring_overlap_pairs

    boiler = "this exact license paragraph is repeated verbatim across files"
    docs = spark.createDataFrame(
        [
            (1, f"intro words then {boiler} and a unique ending one"),
            (2, f"other beginning here {boiler} with different tail"),
            (3, "no shared span with anything else in this corpus at all"),
        ],
        "doc_id long, text string",
    )
    pairs = substring_overlap_pairs(docs, window=16, min_shared=8).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(1, 2)]
    # the shared boilerplate is ~60 bytes → ≈45 shared 16-byte windows
    assert pairs[0].shared_windows >= 40


def test_substring_overlap_cap_is_a_subset_policy(spark):
    """The max_bucket cap may only DROP pairs (and only by removing a
    hot fingerprint's contribution) — the capped result is a subset of
    the uncapped pairs with per-pair shared_windows <= the uncapped
    count.  A degenerate fingerprint shared by all docs (the same
    16-byte run everywhere) is dropped at max_bucket=2, thinning counts
    without inventing pairs."""
    from myrecommendsystem_spark.operators.dedup import substring_overlap_pairs

    hot = "COMMON-RUN-0123456789abcdef"  # > 16 bytes, in every doc
    docs = spark.createDataFrame(
        [
            (1, f"{hot} alpha unique tail one two three four five six"),
            (2, f"{hot} alpha unique tail one two three four five six!"),
            (3, f"{hot} totally different remainder content here now"),
        ],
        "doc_id long, text string",
    )
    unc = {
        (r.id_a, r.id_b): r.shared_windows
        for r in substring_overlap_pairs(
            docs, window=16, min_shared=1, max_bucket=1000
        ).collect()
    }
    cap = {
        (r.id_a, r.id_b): r.shared_windows
        for r in substring_overlap_pairs(
            docs, window=16, min_shared=1, max_bucket=2
        ).collect()
    }
    assert set(cap) <= set(unc)
    assert all(cap[k] <= unc[k] for k in cap)
    # the hot run's windows hit all 3 docs -> capped counts strictly drop
    assert sum(cap.values()) < sum(unc.values())


def test_substring_overlap_oracle_fp_parity_includes_short_docs(spark):
    """The DuckDB oracle's fp CTE must emit the SAME (doc_id, fp) set as
    the Spark kernel for EVERY doc — including sub-window docs, which
    get one whole-text hash that counts toward max_bucket occupancy
    (an oracle that emitted nothing for them would let a
    short doc in a near-cap bucket could flip which buckets drop).
    Bucket-cap agreement follows from fp-set equality, so this pins the
    whole divergence class, empty text included."""
    import duckdb
    from pyspark.sql import functions as F

    from myrecommendsystem_spark.functions import text as TXT
    from myrecommendsystem_spark.plans import registry

    rows = [
        (1, "intro words then a repeated license paragraph here then on"),
        (2, "tiny"),  # sub-window: one whole-text hash
        (3, ""),  # empty: whole-text hash 0 by kernel convention
        (4, "0123456789abcde"),  # 15 chars, one under the window
        (5, "exactly sixteen!"),  # 16 chars, boundary: one window hash
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.fp)
        for r in docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(TXT.rolling_fingerprints(F.col("text"), 16))
            ).alias("fp"),
        ).collect()
    }

    oracle = next(
        s.oracle for s in registry.REGISTRY if s.name == "dedup_substring_overlap"
    )
    fp_cte = oracle.split("sizes AS")[0].rstrip().rstrip(",")
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = {
        (int(d), int(f))
        for d, f in con.execute(f"{fp_cte}\nSELECT doc_id, fp FROM fp").fetchall()
    }
    con.close()
    assert got == want


def test_gram_hash_segment_boundary_invariance():
    """_hash_grams_flat hashes grams in 32Ki-gram padded-matrix segments
    (bounded temp — same discipline as rolling_fingerprints): a gram's
    hash must not depend on where in the batch it lands, and must equal
    the per-gram Horner definition."""
    import numpy as np

    from myrecommendsystem_spark.functions import text as TXT

    grams = [f"word{i} tok{i % 7} x{i % 13}" for i in range(70_000)]
    full = TXT._hash_grams_flat(grams)
    shifted = TXT._hash_grams_flat(["pad"] * 137 + grams)[137:]
    assert np.array_equal(full, shifted)

    def ref(g):
        h = 0
        for b in g.encode():
            h = (h * 257 + b) % ((1 << 31) - 1)
        return h

    for i in (0, 1, 32_767, 32_768, 32_769, 65_535, 65_536, 69_999):
        assert full[i] == ref(grams[i])


# ---------------------------------------------------------------------------
# chunk-level dedup (round 10): dedup.chunk_dedup_docs
# ---------------------------------------------------------------------------


def test_chunk_dedup_clone_doc_fully_dropped(spark):
    """An exact clone contributes zero surviving chunks: every chunk's
    first occurrence is in the earlier doc, so the clone rebuilds empty
    and its dropped_bytes equal its full byte length."""
    long = (BASE + " ") * 6
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=long), Row(doc_id=2, text=long)]
    )
    out = {r.doc_id: r for r in dedup.chunk_dedup_docs(docs).collect()}
    # doc 1 keeps the first occurrence of every distinct chunk (its own
    # internal repeats may drop — the text is periodic by construction)
    assert out[1].clean_text != ""
    assert long.startswith(out[1].clean_text[: len(BASE) // 2])
    assert out[2].clean_text == ""
    assert out[2].n_dup_chunks == out[2].n_chunks > 0
    assert out[2].dropped_bytes == len(long.encode())


def test_chunk_dedup_unique_docs_roundtrip(spark):
    """With no shared chunks every document rebuilds byte-identical."""
    rows = [
        Row(doc_id=i, text=f"unique document {i} " + BASE[: 40 + 7 * i])
        for i in range(5)
    ]
    docs = spark.createDataFrame(rows)
    out = {r.doc_id: r for r in dedup.chunk_dedup_docs(docs).collect()}
    for r in rows:
        assert out[r.doc_id].clean_text == r.text
        assert out[r.doc_id].n_dup_chunks == 0
        assert out[r.doc_id].dropped_bytes == 0


def test_chunk_dedup_shared_boilerplate_stripped_once(spark):
    """Cross-doc boilerplate survives exactly once (in the lowest
    (doc_id, chunk_idx)) and the union of surviving bytes loses nothing
    but the duplicate copies."""
    boiler = (BASE + " ") * 4
    docs = spark.createDataFrame(
        [
            Row(doc_id=10, text=boiler + "tail ten"),
            Row(doc_id=20, text=boiler + "tail twenty"),
        ]
    )
    out = {r.doc_id: r for r in dedup.chunk_dedup_docs(docs).collect()}
    assert out[10].clean_text.endswith("tail ten")
    assert out[20].n_dup_chunks > 0
    # doc 20 keeps its distinct tail: rebuilt text ends with it
    assert out[20].clean_text.endswith("tail twenty")
    assert len(out[20].clean_text) < len(boiler) + len("tail twenty")


def test_chunk_dedup_null_and_empty_text(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=None), Row(doc_id=2, text=""),
         Row(doc_id=3, text="keep me")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.chunk_dedup_docs(docs).collect()}
    for did in (1, 2):
        assert out[did].clean_text == ""
        assert out[did].n_chunks == 0
        assert out[did].n_dup_chunks == 0
        assert out[did].dropped_bytes == 0
    assert out[3].clean_text == "keep me"


# ---------------------------------------------------------------------------
# minhash_recall_report: the LSH banding S-curve measurement
# ---------------------------------------------------------------------------


def _jaccard_pair(band: int, i: int, shared_tokens: int, total: int = 100):
    """Two docs over a pair-private token namespace sharing a
    ``shared_tokens`` prefix: shingle Jaccard = (s-2)/(196-(s-2)) for
    3-grams over 100 distinct tokens — controlled, collision-free across
    pairs."""
    ns = f"b{band}p{i}"
    common = [f"{ns}c{j}" for j in range(shared_tokens)]
    a = common + [f"{ns}a{j}" for j in range(total - shared_tokens)]
    b = common + [f"{ns}b{j}" for j in range(total - shared_tokens)]
    return " ".join(a), " ".join(b)


@pytest.fixture(scope="module")
def scurve_corpus(spark):
    """20 pairs each at J≈0.25 (band 2), J≈0.56 (band 5), J≈0.90
    (band 9), plus 5 exact-dup pairs (band 10)."""
    rows = []
    for band, shared in ((2, 41), (5, 72), (9, 95)):
        for i in range(20):
            ta, tb = _jaccard_pair(band, i, shared)
            rows.append(Row(doc_id=1000 * band + 2 * i, text=ta))
            rows.append(Row(doc_id=1000 * band + 2 * i + 1, text=tb))
    for i in range(5):
        ta, _ = _jaccard_pair(10, i, 50)
        rows.append(Row(doc_id=10000 + 2 * i, text=ta))
        rows.append(Row(doc_id=10000 + 2 * i + 1, text=ta))
    return spark.createDataFrame(rows).cache()


def test_recall_report_scurve_shape(scurve_corpus):
    """The measured curve tracks the analytic S-curve 1-(1-J^r)^b for
    r=4, b=16: ≈0.06 at J=0.25, ≈0.8 at J=0.56, ≈1.0 at J≥0.9 — and
    identical sets (band 10) collide with certainty.  All assertions are
    loose bands around deterministic (seeded hash family) values."""
    rep = {
        r.jband: r
        for r in dedup.minhash_recall_report(
            scurve_corpus, probe_max_id=100000
        ).collect()
    }
    assert {2, 5, 9, 10} <= set(rep)
    for band, shared in ((2, 20), (5, 20), (9, 20), (10, 5)):
        assert rep[band].n_true == shared
        assert 0 <= rep[band].n_caught <= rep[band].n_true
    # identical shingle sets → identical signatures → same band keys
    assert rep[10].n_caught == 5
    assert rep[9].n_caught >= 18       # analytic ≈ 1.0
    assert 6 <= rep[5].n_caught <= 20  # analytic ≈ 0.8 of 20
    assert rep[2].n_caught <= 10       # analytic ≈ 0.06 of 20


def test_hyperplane_recall_report_scurve_shape(spark):
    """Constructed S-curve for the sign-bit LSH acceptance gate:
    identical vectors (cosband 10) are
    caught with certainty (identical sign bits, same bucket), near-
    orthogonal pairs (low bands) are nearly all rejected, and a
    cos≈0.92 block lands in between — loose bands around the analytic
    1−(1−(1−θ/π)⁸)² with the deterministic seeded hyperplanes."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    vid = 0
    # 30 identical pairs at well-separated random directions (band 10)
    for _ in range(30):
        v = rng.standard_normal(16)
        v /= np.linalg.norm(v)
        for _ in range(2):
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    # 30 pairs at exact cosine 0.92 (band 9): w = c·v + s·u, u ⊥ v
    for _ in range(30):
        v = rng.standard_normal(16)
        v /= np.linalg.norm(v)
        u = rng.standard_normal(16)
        u -= u.dot(v) * v
        u /= np.linalg.norm(u)
        w = 0.92 * v + np.sqrt(1 - 0.92**2) * u
        rows.append((vid, [float(x) for x in v]))
        rows.append((vid + 1, [float(x) for x in w]))
        vid += 2
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    rep = {
        r.cosband: r
        for r in similarity.hyperplane_recall_report(
            emb, probe_max_id=10**6
        ).collect()
    }
    # identical vectors: identical signatures, caught with certainty
    assert rep[10].n_true == 30 and rep[10].n_caught == 30
    # cos≈0.92 block: analytic catch ≈ 0.55 — loose band
    assert rep[9].n_true >= 30
    assert 5 <= rep[9].n_caught <= rep[9].n_true
    # rejection side: cross pairs of random dim-16 directions pile up
    # in low/negative bands; the banding must not flood the verifier
    low_true = sum(r.n_true for b, r in rep.items() if b <= 2)
    low_caught = sum(r.n_caught for b, r in rep.items() if b <= 2)
    assert low_true > 1000  # the quadratic cross-pair mass is there
    assert low_caught <= 0.1 * low_true
    # probe bounding: a probe cutoff below every id → empty report
    assert similarity.hyperplane_recall_report(emb, probe_max_id=0).count() == 0


def test_recall_report_probe_bounding(scurve_corpus):
    """Truth pairs are restricted to pairs touching the probe sample —
    the bounded-quadratic-term contract — and each unordered pair is
    counted exactly once (probe-probe pairs must not double-count)."""
    # probe covers only the band-2 block: every pair there is
    # probe-probe (both ids < 3000) and must appear exactly once
    rep = {
        r.jband: r
        for r in dedup.minhash_recall_report(
            scurve_corpus, probe_max_id=3000
        ).collect()
    }
    assert rep[2].n_true == 20
    assert 5 not in rep and 9 not in rep and 10 not in rep
    # empty probe → empty report
    assert (
        dedup.minhash_recall_report(scurve_corpus, probe_max_id=0).count()
        == 0
    )
