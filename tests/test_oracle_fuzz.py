"""Adversarial fuzz of the round-6 recursive/hash-replay oracles.

The sf0.001/sf0.01 replays prove parity on the benchmark corpora; these
cases attack the encodings where they could plausibly break:

- BPE trainer oracle: a near-unary alphabet ('a','b' only) maximizes
  merge-count ties and overlapping-run merges ('aaa' under (a,a) must
  fold left-to-right to [aa, a]) — the exact semantics the
  dot-delimited replace() trick claims to reproduce.
- MinHash pairs oracle: short docs (whole-text-gram fallback), repeated
  tokens, and planted near-dups exercise the Horner hash, the
  HUGEINT-mod-2^64 permutation replay, and the band r-tuple join.

Seeds are fixed so the cases are deterministic; each ran green on 8
random seeds before being pinned.
"""

from __future__ import annotations

import random

import duckdb
import pytest

from myrecommendsystem_spark.operators import dedup
from myrecommendsystem_spark.plans import registry


def _oracle(name: str) -> str:
    return next(s.oracle for s in registry.REGISTRY if s.name == name)


def _duck(rows):
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    return con


@pytest.mark.parametrize("seed", [0, 3, 7])
def test_bpe_merges_oracle_fuzz(spark, seed):
    from myrecommendsystem_spark.ml.bpe import learned_merges_df

    rng = random.Random(seed)
    words = [
        "".join(rng.choice("aab") for _ in range(rng.randint(2, 8)))
        for _ in range(rng.randint(5, 30))
    ]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(3, 20))))
        for i in range(rng.randint(3, 10))
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        (r.rank, r.a, r.b, r.merged, r.cnt)
        for r in learned_merges_df(spark, docs, n_merges=20)
        .orderBy("rank")
        .collect()
    ]
    con = _duck(rows)
    want = [tuple(r) for r in con.execute(_oracle("bpe_learned_merges")).fetchall()]
    con.close()
    assert got == want


@pytest.mark.parametrize("seed", [1, 4])
def test_minhash_pairs_oracle_fuzz(spark, seed):
    rng = random.Random(seed)
    vocab = [f"t{i}" for i in range(40)]
    rows = []
    for i in range(25):
        n = rng.randint(1, 30)  # includes <=3-token whole-text fallback docs
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    # planted near-dups: copy with one word changed
    base = rows[0][1]
    rows.append((100, base))
    toks = base.split()
    if toks:
        toks[len(toks) // 2] = "mutated"
    rows.append((101, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.minhash_near_duplicates(
            docs, jaccard_threshold=0.5
        ).collect()
    )
    con = _duck(rows)
    want = sorted(
        (int(a), int(b), float(j))
        for a, b, j in con.execute(_oracle("dedup_minhash_pairs")).fetchall()
    )
    con.close()
    assert got == want
    assert (0, 100, 1.0) in got  # the planted exact copy must collide


@pytest.mark.parametrize(
    "name, build",
    [
        (
            "dedup_ngram_jaccard",
            lambda d: dedup.ngram_jaccard_dedup_pairs(d, max_df=50, threshold=0.5),
        ),
        (
            "dedup_minhash_pairs",
            lambda d: dedup.minhash_near_duplicates(d, jaccard_threshold=0.5),
        ),
        (
            "dedup_simhash_pairs",
            lambda d: dedup.simhash_near_duplicates(d, max_hamming=3),
        ),
    ],
    ids=["ngram_jaccard", "minhash", "simhash"],
)
def test_null_text_has_no_grams_oracle_parity(spark, name, build):
    """NULL text has no grams in both shingle builders and no SimHash
    fingerprint, as in their DuckDB twins: NULL docs pair with nothing —
    not with each other, not with the empty doc (whose one gram is
    '')."""
    rows = [
        (1, None),
        (2, ""),
        (3, "alpha beta gamma delta"),
        (4, "alpha beta gamma delta"),
        (5, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(tuple(r) for r in build(docs).collect())
    con = _duck(rows)
    want = sorted(
        (int(a), int(b), v) for a, b, v in con.execute(_oracle(name)).fetchall()
    )
    con.close()
    assert got == want
    assert [(a, b) for a, b, _ in got] == [(3, 4)]


@pytest.mark.parametrize("seed", [2, 5, 9])
def test_hyperplane_lsh_oracle_fuzz(spark, seed):
    """Attack the r7 sign-bit LSH oracle where it could plausibly break:
    exact duplicates (collide in every band), positively-scaled copies
    (same signs, same cosine, different norms), negated copies
    (cos = -1, every bit flips), tiny-magnitude vectors (denormal-range
    sums exercise the bitwise fold-order claim near the hyperplane
    boundary), and a zero vector (must be EXCLUDED on both engines —
    NaN cosine semantics diverge).  Ran green on 8 random seeds before
    pinning these three."""
    from myrecommendsystem_spark.operators import similarity

    rng = random.Random(seed)

    def vec(scale=1.0):
        return [rng.gauss(0.0, 1.0) * scale for _ in range(64)]

    base = vec()
    rows = [(0, base), (1, list(base)), (2, [x * 2.5 for x in base])]
    rows.append((3, [-x for x in base]))
    rows.append((4, [x * 1e-280 for x in base]))  # tiny but nonzero
    rows.append((5, [0.0] * 64))  # zero vector: excluded by contract
    rows += [(10 + i, vec()) for i in range(20)]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    got = sorted(
        (r.id_a, r.id_b, r.n_bands, r.cos)
        for r in similarity.hyperplane_lsh_pairs(emb, threshold=0.9).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings(vec_id BIGINT, embedding FLOAT[])")
    con.executemany(
        "INSERT INTO embeddings VALUES (?, ?)",
        [(i, [float(x) for x in v]) for i, v in rows],
    )
    want = sorted(
        (int(a), int(b), int(nb), float(c))
        for a, b, nb, c in con.execute(
            _oracle("embedding_hyperplane_lsh_pairs").replace(">= 0.35", ">= 0.9")
        ).fetchall()
    )
    con.close()
    assert got == want
    pairs = {(a, b) for a, b, *_ in got}
    assert (0, 1) in pairs  # exact copy collides in every band
    assert (0, 2) in pairs  # scaled copy: identical signs and cosine
    assert all(5 not in (a, b) for a, b in pairs)  # zero vector excluded


@pytest.mark.parametrize("seed", [0, 6])
def test_winnowing_cross_corpus_oracle_fuzz(spark, seed):
    """Attack the r12 cross-corpus winnowing oracle: planted shared
    substrings crossing the corpora (must pair), boilerplate injected
    into MANY reference docs (the ref-side-only QUALIFY cap must drop
    it on both engines), and an uncapped-new-side sanity planting (a
    phrase shared by many NEW docs but ≤ cap REF docs must survive —
    the cap is ref-side only).  Docs stay ASCII and ≥ 16 bytes — the
    family's documented corpus assumption (short-doc divergence is
    pinned separately in test_text_dedup)."""
    rng = random.Random(seed)
    vocab = [f"tok{i}" for i in range(60)]

    def text(n):
        return " ".join(rng.choice(vocab) for _ in range(n))

    shared = "an exact shared run of bytes here!"  # > 16+8-1 bytes
    boiler = "reference boilerplate footer text"
    rows = []
    # reference corpus (src0): 30 random + 8 boilerplate + 1 shared
    for i in range(30):
        rows.append((i, text(rng.randint(8, 25)), "src0"))
    for i in range(30, 38):
        rows.append((i, boiler + " " + text(10), "src0"))
    rows.append((38, text(6) + " " + shared + " " + text(6), "src0"))
    # new corpus (src1): 10 random + 1 shared + 2 sharing a new-only run
    for i in range(100, 110):
        rows.append((i, text(rng.randint(8, 25)), "src1"))
    rows.append((100 + 11, shared + " " + text(8), "src1"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    new = docs.filter("source != 'src0'")
    ref = docs.filter("source = 'src0'")
    got = sorted(
        (r.new_id, r.ref_id, r.n_shared)
        for r in dedup.winnowing_cross_corpus_pairs(
            new, ref, max_doc_freq=5
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents(doc_id BIGINT, text VARCHAR, source VARCHAR)"
    )
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)
    want = sorted(
        (int(a), int(b), int(n))
        for a, b, n in con.execute(
            _oracle("doc_winnowing_cross_corpus").replace("<= 100", "<= 5")
        ).fetchall()
    )
    con.close()
    assert got == want
    # the planted cross-corpus substring must pair (guarantee length)
    assert any(a == 111 and b == 38 for a, b, _ in got)
    # boilerplate fps sit in 8 ref docs > cap 5: no pair may rest on them
    boiler_ids = set(range(30, 38))
    assert all(b not in boiler_ids for _, b, _ in got)
    # survivors composition: exactly the new docs NOT in any pair
    surv = {
        r.doc_id
        for r in dedup.winnowing_cross_corpus_survivors(
            new, ref, max_doc_freq=5
        ).collect()
    }
    new_ids = {i for i, _, s in rows if s != "src0"}
    assert surv == new_ids - {a for a, _, _ in got}


@pytest.mark.parametrize("seed", [1, 8])
def test_hyperplane_recall_oracle_fuzz(spark, seed):
    """Attack the r12 hyperplane recall-report oracle: exact duplicates
    inside the probe range (cosband 10, caught with certainty), a
    negated copy (cosband -10, never caught), a zero vector (excluded
    from truth AND candidates on both engines), and random vectors
    piling up the rejection bands.  The ⌊10·round(cos,4)⌋ banding and
    the probe-slice join must agree engine-for-engine."""
    from myrecommendsystem_spark.operators import similarity

    rng = random.Random(seed)

    # 64-dim to match the registered oracle's INLINED sign matrix (the
    # ±1 literals are generated for the testdata embedding dim; a
    # different dim would silently NULL the oracle's dot terms)
    def vec():
        return [rng.gauss(0.0, 1.0) for _ in range(64)]

    base = vec()
    rows = [(0, base), (1, list(base)), (2, [-x for x in base])]
    rows.append((3, [0.0] * 64))  # zero vector: excluded by contract
    rows += [(4 + i, vec()) for i in range(30)]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    # compute the recall column exactly the way the registered plan
    # does (verifying only the count columns would leave the
    # round_stable division to the driver hash gate alone)
    from pyspark.sql import functions as F

    from myrecommendsystem_spark.functions.compat import round_stable

    rep = similarity.hyperplane_recall_report(emb, probe_max_id=20).withColumn(
        "recall", round_stable(F.col("n_caught") / F.col("n_true"))
    )
    got = sorted(
        (r.cosband, r.n_true, r.n_caught, r.recall) for r in rep.collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings(vec_id BIGINT, embedding FLOAT[])")
    con.executemany(
        "INSERT INTO embeddings VALUES (?, ?)",
        [(i, [float(x) for x in v]) for i, v in rows],
    )
    want = sorted(
        (int(b), int(t), int(c), float(r))
        for b, t, c, r in con.execute(
            _oracle("embedding_lsh_recall_report")
        ).fetchall()
    )
    con.close()
    assert got == want
    by_band = {b: (t, c) for b, t, c, _ in got}
    assert by_band[10] == (1, 1)  # the exact copy: caught with certainty
    assert by_band[-10][1] == 0  # negated copy: never a candidate


@pytest.mark.parametrize("seed", [2, 6])
def test_salted_distinct_set_oracle_fuzz(spark, seed):
    """Attack the r13 salted distinct-set oracle where it could
    plausibly break: NULL values mixed into keys (dropped on both
    engines — collect_set vs COUNT DISTINCT), an ALL-NULL key (Spark
    renders '' from the empty array; the oracle COALESCEs DuckDB's
    NULL-list rendering to match), negative ids (sort + string
    rendering), heavy literal duplication (the whale shape), and a
    forced salt > 1 so the salted path — not the degenerate salt_n=1
    plan — is what's being compared."""
    from pyspark.sql import functions as F

    from myrecommendsystem_spark.operators.skew import salted_distinct_set

    rng = random.Random(seed)
    keys = ["click", "view", "err"]
    rows = []
    for i in range(rng.randint(200, 400)):
        k = rng.choice(keys) if rng.random() > 0.7 else "whale"
        v = (
            None
            if rng.random() < 0.15
            else rng.randint(-50, 50) if k != "whale" else rng.randint(-5, 5)
        )
        rows.append((k, v))
    rows += [("nullonly", None)] * 3  # the all-NULL key
    ev = spark.createDataFrame(rows, "event_type string, user_id long")
    forced = spark.createDataFrame([(5,)], "rec_salt int")
    res = salted_distinct_set(ev, ["event_type"], "user_id", profile=forced)
    got = sorted(
        (r.event_type, r.n_users, r.user_ids)
        for r in res.select(
            "event_type",
            F.col("n_distinct").alias("n_users"),
            F.concat_ws(
                ",", F.col("distinct_values").cast("array<string>")
            ).alias("user_ids"),
        ).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE events(event_type VARCHAR, user_id BIGINT)")
    con.executemany("INSERT INTO events VALUES (?, ?)", rows)
    want = sorted(
        (k, int(n), s)
        for k, n, s in con.execute(
            _oracle("events_salted_distinct_users")
        ).fetchall()
    )
    con.close()
    assert got == want
    assert ("nullonly", 0, "") in got  # all-NULL key: empty, not dropped
