"""Non-SQL semantics of the analytics queries and sketches: skyline,
audience overlap (exact + HLL), PCA, CUSUM, the quality model, count-min,
KMV and quantile sketches, late arrivals and entity resolution.

The oracle-gated queries are covered by test_registry_oracle; here the
non-SQL semantics are pinned: skyline vs brute-force dominance, HLL
estimates vs exact overlap, distributed covariance/PCA vs numpy.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from myrecommendsystem_spark.operators import similarity
from myrecommendsystem_spark.plans.analytics_queries import (
    events_audience_overlap,
    events_audience_overlap_hll,
    parts_skyline,
)


def _brute_skyline(points):
    out = []
    for p, s in points:
        dominated = any(
            (dp <= p and ds >= s and (dp < p or ds > s))
            for dp, ds in points
        )
        if not dominated:
            out.append((p, s))
    return sorted(set(out))


def test_skyline_matches_bruteforce_random(spark):
    rng = np.random.default_rng(7)
    pts = [
        (float(rng.integers(0, 50)), int(rng.integers(0, 20)))
        for _ in range(300)
    ]
    df = spark.createDataFrame(pts, "p_retailprice double, p_size int")
    # Route through the registered builder by faking a table dir: call
    # the two-phase pipeline directly on a temp view instead.
    from myrecommendsystem_spark.plans import analytics_queries as aq

    # monkeypatch-free: rebuild the same plan inline on `df`
    import types

    def fake_t(_spark, _dir, name):
        assert name == "part"
        return df

    orig = aq._t
    aq._t = fake_t
    try:
        got = sorted(
            (float(r["price"]), int(r["size"]))
            for r in parts_skyline(spark, "ignored").collect()
        )
    finally:
        aq._t = orig
    want = [
        (round(p + 1e-7, 2), s) for p, s in _brute_skyline(set(pts))
    ]
    assert got == sorted(want)


def test_skyline_on_testdata_is_mutually_nondominated(spark, sf_dir):
    rows = [
        (float(r["price"]), int(r["size"]))
        for r in parts_skyline(spark, sf_dir).collect()
    ]
    assert rows, "skyline must be non-empty"
    for i, (p1, s1) in enumerate(rows):
        for j, (p2, s2) in enumerate(rows):
            if i != j:
                assert not (
                    p2 <= p1 and s2 >= s1 and (p2 < p1 or s2 > s1)
                )


def test_hll_overlap_tracks_exact(spark, sf_dir):
    exact = {
        (r["type_a"], r["type_b"]): r["n_common"]
        for r in events_audience_overlap(spark, sf_dir).collect()
    }
    est = {
        (r["type_a"], r["type_b"]): r["n_common_est"]
        for r in events_audience_overlap_hll(spark, sf_dir).collect()
    }
    assert set(est) == set(exact)
    for k, e in exact.items():
        # inclusion-exclusion compounds three 2% sketches; allow 15%
        # + small absolute slack for tiny intersections
        assert abs(est[k] - e) <= max(0.15 * e, 10), (k, est[k], e)


def test_pca_covariance_matches_numpy(spark):
    rng = np.random.default_rng(11)
    mat = rng.normal(size=(400, 8)) @ np.diag([5, 4, 3, 2, 1, 0.5, 0.2, 0.1])
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(mat)],
        "vec_id long, embedding array<double>",
    ).repartition(7)
    n, mean, cov = similarity.pca_covariance(df)
    assert n == 400
    np.testing.assert_allclose(mean, mat.mean(axis=0), atol=1e-9)
    np.testing.assert_allclose(cov, np.cov(mat, rowvar=False), atol=1e-9)


def test_pca_spectrum_matches_numpy_eigh(spark):
    rng = np.random.default_rng(13)
    base = rng.normal(size=(300, 6))
    base[:, 0] *= 10.0  # dominant direction → top_dim must be 0
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(base)],
        "vec_id long, embedding array<double>",
    ).repartition(5)
    got = similarity.pca_spectrum(df).orderBy("component").collect()
    evals = np.sort(np.linalg.eigvalsh(np.cov(base, rowvar=False)))[::-1]
    np.testing.assert_allclose(
        [r["eigenvalue"] for r in got], np.round(evals, 6), atol=1e-5
    )
    assert got[0]["top_dim"] == 0
    assert abs(got[-1]["cum_explained"] - 1.0) < 1e-5
    # explained ratios sorted non-increasing
    ratios = [r["explained_var"] for r in got]
    assert ratios == sorted(ratios, reverse=True)


def test_pca_project_reduces_and_centers(spark):
    rng = np.random.default_rng(17)
    mat = rng.normal(size=(200, 5))
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(mat)],
        "vec_id long, embedding array<double>",
    )
    n, mean, cov = similarity.pca_covariance(df)
    evals, evecs = np.linalg.eigh(cov)
    comps = evecs[:, np.argsort(evals)[::-1]][:, :2].T  # k×d
    out = similarity.pca_project(df, comps, mean).select(
        "vec_id", "pca"
    ).collect()
    got = np.array(
        [r["pca"] for r in sorted(out, key=lambda r: r["vec_id"])]
    )
    want = (mat - mat.mean(axis=0)) @ comps.T
    np.testing.assert_allclose(got, want, atol=1e-9)
    assert got.shape == (200, 2)
    np.testing.assert_allclose(got.mean(axis=0), 0.0, atol=1e-9)


# ---------------------------------------------------------------------------
# CUSUM change-point detection
# ---------------------------------------------------------------------------


def _ref_cusum(zs, k=0.5, h=4.0):
    s_hi = s_lo = 0.0
    out = []
    for z in zs:
        s_hi = max(0.0, s_hi + z - k)
        s_lo = max(0.0, s_lo - z - k)
        # round_stable convention (+1e-9, round 4), matching the kernel
        out.append(
            (round(s_hi + 1e-9, 4), round(s_lo + 1e-9, 4), int(s_hi > h or s_lo > h))
        )
    return out


def test_cusum_matches_reference_scan(spark):
    from myrecommendsystem_spark.operators.stats import cusum_alarms

    vals = [10.0, 10.2, 9.9, 10.1, 10.0, 13.0, 13.1, 13.2, 13.0, 13.1]
    rows = [("a", f"2026-01-{d+1:02d}", v) for d, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "event_type string, day string, avg_value double"
    )
    got = cusum_alarms(df).orderBy("day").collect()
    mu = float(np.mean(vals))
    sd = float(np.std(vals, ddof=1))
    want = _ref_cusum([(v - mu) / sd for v in vals])
    assert [(r["s_hi"], r["s_lo"], r["alarm"]) for r in got] == want


def test_cusum_step_shift_alarms_and_constant_does_not(spark):
    from myrecommendsystem_spark.operators.stats import cusum_alarms

    # constant series: z = 0 everywhere -> never alarms
    const = [("c", f"2026-02-{d+1:02d}", 5.0) for d in range(20)]
    # step shift at day 16: the long stable prefix keeps the low-side
    # sum under h while the sustained post-shift deviation (+1.69 sd,
    # +1.19/day after the k allowance) crosses h within four days
    shift = [
        ("s", f"2026-02-{d+1:02d}", 10.0 + (4.0 if d >= 15 else 0.0))
        for d in range(20)
    ]
    df = spark.createDataFrame(
        const + shift, "event_type string, day string, avg_value double"
    )
    res = cusum_alarms(df).collect()
    assert all(r["alarm"] == 0 for r in res if r["event_type"] == "c")
    s_alarms = [r["alarm"] for r in sorted(
        (r for r in res if r["event_type"] == "s"),
        key=lambda r: r["day"],
    )]
    assert sum(s_alarms) > 0 and all(a == 0 for a in s_alarms[:15])


# ---------------------------------------------------------------------------
# Model-based quality/language filter
# ---------------------------------------------------------------------------


def _auc(pos, neg):
    import bisect

    pos, neg = sorted(pos), sorted(neg)
    wins = sum(
        bisect.bisect_left(neg, p) + 0.5 * (
            bisect.bisect_right(neg, p) - bisect.bisect_left(neg, p)
        )
        for p in pos
    )
    return wins / (len(pos) * len(neg))


def test_quality_model_separates_constructed_corpus(spark):
    # Two token distributions whose weak labels (heuristic langid) are
    # correct by construction: English stopword-rich vs French
    # stopword-rich.  The model sees only the weak labels; ground truth
    # here is the generating class.
    rng = np.random.default_rng(23)
    en_vocab = "the of and to in is that it for was on are".split()
    fr_vocab = "le la de et que en un une les des est pas".split()
    rows = []
    for i in range(300):
        vocab = en_vocab if i % 2 == 0 else fr_vocab
        words = rng.choice(vocab, size=15)
        rows.append((i, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    from myrecommendsystem_spark.ml import quality

    scored = {r["doc_id"]: r["p_target"] for r in quality.score_documents(docs).collect()}
    pos = [scored[i] for i in range(0, 300, 2)]
    neg = [scored[i] for i in range(1, 300, 2)]
    auc = _auc(pos, neg)
    assert auc >= 0.95, f"AUC {auc:.3f}"


def test_quality_model_generalizes_weak_labels_on_testdata(spark, sf_dir):
    # The synthetic documents' text is uncorrelated with the `lang`
    # metadata column (all sources draw the same token distribution),
    # so the real-data check is the fastText-pattern one: the model's
    # scores must reproduce the weak labeler's decisions it was
    # trained on (en vs und here).
    from myrecommendsystem_spark.io import readers
    from myrecommendsystem_spark.ml import quality

    docs = readers.load_table(spark, sf_dir, "documents")
    rows = quality.score_documents(docs).collect()
    pos = [r["p_target"] for r in rows if r["weak_label"] == 1]
    neg = [r["p_target"] for r in rows if r["weak_label"] == 0]
    assert pos and neg
    auc = _auc(pos, neg)
    assert auc >= 0.9, f"AUC {auc:.3f}"


# ---------------------------------------------------------------------------
# Hybrid search + RAG ingest composition
# ---------------------------------------------------------------------------


def test_hashing_embedding_properties(spark):
    from myrecommendsystem_spark.functions.text import hashing_embedding

    texts = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "zzz qqq xxx www completely different content yyy"),
        (4, ""),  # empty text must not crash; zero vector allowed
    ]
    df = spark.createDataFrame(texts, "id long, text string")
    out1 = {
        r["id"]: np.array(r["e"])
        for r in df.select("id", hashing_embedding(F.col("text")).alias("e")).collect()
    }
    out2 = {
        r["id"]: np.array(r["e"])
        for r in df.select("id", hashing_embedding(F.col("text")).alias("e")).collect()
    }
    for i in out1:  # deterministic across runs
        np.testing.assert_array_equal(out1[i], out2[i])
    for i in (1, 2, 3):  # unit norm
        assert abs(np.linalg.norm(out1[i]) - 1.0) < 1e-5
    cos_near = float(out1[1] @ out1[2])
    cos_far = float(out1[1] @ out1[3])
    assert cos_near > 0.8 > cos_far  # locality: shared n-grams dominate
    assert np.linalg.norm(out1[4]) == 0.0


def test_rag_ingest_covers_every_chunk(spark, sf_dir):
    from myrecommendsystem_spark.functions import text as TXT
    from myrecommendsystem_spark.io import readers
    from myrecommendsystem_spark.plans.text_queries import rag_ingest_pipeline

    docs = readers.load_table(spark, sf_dir, "documents")
    n_chunks = TXT.content_defined_chunks(docs).count()
    total_bytes = (
        TXT.content_defined_chunks(docs)
        .agg(F.sum("n_bytes").alias("b"))
        .collect()[0]["b"]
    )
    report = rag_ingest_pipeline(spark, sf_dir).collect()
    assert sum(r["n_chunks"] for r in report) == n_chunks
    assert sum(r["bytes"] for r in report) == total_bytes
    assert all(0 <= r["cell_id"] < 8 for r in report)


# ---------------------------------------------------------------------------
# Count-min sketch laws
# ---------------------------------------------------------------------------


def test_cms_overestimates_within_bound_and_merges(spark):
    from myrecommendsystem_spark.operators import stats as ST

    rows = [(f"k{i % 37}",) for i in range(2000)] + [("hot",)] * 500
    df = spark.createDataFrame(rows, "k string").repartition(8)
    grid = ST.count_min_sketch(df, "k", depth=5, width=256)
    n_total = 2500
    truth = {"hot": 500, "k0": 55}
    est_df = spark.createDataFrame(
        [(k,) for k in truth], "k string"
    ).select("k", ST.cms_estimate_col(grid, F.col("k")).alias("est"))
    est = {r["k"]: r["est"] for r in est_df.collect()}
    for k, true in truth.items():
        assert est[k] >= true  # CMS never underestimates
        assert est[k] <= true + 2 * n_total / 256 * 5  # loose union bound
    # additive merge == sketch of the union (bit-exact)
    half_a = spark.createDataFrame(rows[:1200], "k string")
    half_b = spark.createDataFrame(rows[1200:], "k string")
    ga = ST.count_min_sketch(half_a, "k", depth=5, width=256)
    gb = ST.count_min_sketch(half_b, "k", depth=5, width=256)
    np.testing.assert_array_equal(ga + gb, grid)


def test_cms_estimate_matches_numpy_indexing(spark):
    """The JVM column lookup must hit the SAME cells as the numpy build
    path (Java long wraparound == uint64 wraparound)."""
    from myrecommendsystem_spark.operators import stats as ST

    df = spark.createDataFrame([("x",), ("x",), ("y",)], "k string")
    grid = ST.count_min_sketch(df, "k", depth=5, width=256)
    est = {
        r["k"]: r["est"]
        for r in spark.createDataFrame([("x",), ("y",), ("zz",)], "k string")
        .select("k", ST.cms_estimate_col(grid, F.col("k")).alias("est"))
        .collect()
    }
    assert est["x"] == 2 and est["y"] == 1
    assert est["zz"] <= 2  # unseen key can only collide, never underflow


def test_quantile_sketch_tracks_exact(spark, sf_dir):
    from myrecommendsystem_spark.plans.analytics_queries import (
        events_value_quantiles_sketch,
    )
    from myrecommendsystem_spark.io import readers

    est = {
        r["event_type"]: (r["p25"], r["p50"], r["p75"])
        for r in events_value_quantiles_sketch(spark, sf_dir).collect()
    }
    ev = readers.load_table(spark, sf_dir, "events").select(
        "event_type", "value"
    )
    import numpy as np

    for t, (e25, e50, e75) in est.items():
        vals = np.sort(
            np.array(
                [r["value"] for r in ev.filter(F.col("event_type") == t).collect()]
            )
        )
        for q, e in ((0.25, e25), (0.5, e50), (0.75, e75)):
            # rank error <= 1% of n (the sketch accuracy parameter),
            # plus one position of discreteness slack
            lo = vals[max(0, int((q - 0.02) * len(vals)) - 1)]
            hi = vals[min(len(vals) - 1, int((q + 0.02) * len(vals)) + 1)]
            assert lo <= e <= hi, (t, q, e, lo, hi)


def test_histsketch_quantiles_track_exact_and_merge(spark, sf_dir):
    """Replayable histogram-sketch laws (events_value_quantiles_histsketch):
    (a) every estimate sits within bucket resolution (0.01) + one rank
    of the exact quantile; (b) the sketch is lossless-mergeable —
    bucket counts built on two disjoint halves ADD to the whole-corpus
    sketch (the KMV/CMS merge-law convention for this family)."""
    import numpy as np

    from myrecommendsystem_spark.io import readers
    from myrecommendsystem_spark.plans.analytics_queries import (
        events_value_quantiles_histsketch,
    )

    est = {
        r["event_type"]: (r["p25"], r["p50"], r["p75"], r["p99"])
        for r in events_value_quantiles_histsketch(spark, sf_dir).collect()
    }
    ev = readers.load_table(spark, sf_dir, "events").select(
        "event_type", "value"
    )
    for t, es in est.items():
        vals = np.sort(
            np.array(
                [r["value"] for r in ev.filter(F.col("event_type") == t).collect()]
            )
        )
        for q, e in zip((0.25, 0.5, 0.75, 0.99), es):
            exact = vals[min(len(vals) - 1, int(np.ceil(q * len(vals))) - 1)]
            assert abs(e - exact) <= 0.011, (t, q, e, exact)
    # (b) merge law: disjoint-half sketches add cell-wise to the whole
    cells = lambda df: {  # noqa: E731
        (r.event_type, r.bucket): r.cnt
        for r in df.groupBy(
            "event_type",
            F.floor(F.col("value") * 100).cast("bigint").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .collect()
    }
    whole = ev
    h1 = ev.filter(F.crc32(F.col("value").cast("string")) % 2 == 0)
    h2 = ev.filter(F.crc32(F.col("value").cast("string")) % 2 == 1)
    c1, c2, cw = cells(h1), cells(h2), cells(whole)
    merged = dict(c1)
    for k, v in c2.items():
        merged[k] = merged.get(k, 0) + v
    assert merged == cw


def test_ann_pca_recall_vs_bruteforce(spark, sf_dir):
    from myrecommendsystem_spark.io import readers
    from myrecommendsystem_spark.operators import similarity as SIM

    emb = readers.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in SIM.brute_force_topk(emb, queries, k=5).collect()
    }
    reduced = {
        (r["query_id"], r["vec_id"])
        for r in SIM.pca_topk(
            emb, queries, k=5, n_components=32, shortlist_factor=8
        ).collect()
    }
    recall = len(exact & reduced) / len(exact)
    assert recall >= 0.9, f"recall {recall:.2f}"


# ---------------------------------------------------------------------------
# Adversarial equivalence checks for the two-phase / composed rewrites
# ---------------------------------------------------------------------------


def test_late_arrivals_matches_naive_single_partition(spark):
    """The bucketed two-phase running max must agree with the naive
    global-window computation on a dataset small enough to run it."""
    import datetime as dt

    from myrecommendsystem_spark.plans import analytics_queries as aq

    base = dt.datetime(2026, 3, 1, 12, 0, 0)
    rows = []
    # interleave on-time and late arrivals (late = ts far behind the
    # running max at its arrival position)
    ts_offsets = [0, 60, 120, -1200, 180, 240, -3600, 300, 30, 360]
    for i, off in enumerate(ts_offsets):
        rows.append(
            (i + 1, base + dt.timedelta(seconds=600 * i + off),
             "t" + str(i % 2), float(i))
        )
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    orig = aq._t
    aq._t = lambda _s, _d, name: df
    try:
        got = {
            (r["event_type"], r["n_events"], r["n_late"])
            for r in aq.events_late_arrivals(spark, "ignored").collect()
        }
    finally:
        aq._t = orig
    # naive reference: single pass in python over arrival (event_id) order
    ordered = sorted(rows, key=lambda r: r[0])
    run_max = None
    late = {"t0": 0, "t1": 0}
    tot = {"t0": 0, "t1": 0}
    for _eid, ts, typ, _v in ordered:
        wm = None if run_max is None else run_max - dt.timedelta(minutes=10)
        tot[typ] += 1
        if wm is not None and ts < wm:
            late[typ] += 1
        run_max = ts if run_max is None else max(run_max, ts)
    want = {(t, tot[t], late[t]) for t in tot}
    assert got == want
    assert sum(late.values()) > 0  # the fixture must actually have late rows


def test_entity_resolution_known_clusters(spark):
    """Hand-built variants: chained distance-1 names must merge into ONE
    cluster (transitivity), isolated names stay singletons, and the
    canonical is the min-key member's spelling."""
    from myrecommendsystem_spark.plans import analytics_queries as aq

    rows = [
        (1, "widget"),
        (2, "widgat"),   # 1 edit from widget
        (3, "widgatx"),  # 1 edit from widgat, 2 from widget -> chain
        (4, "gizmo"),    # isolated
        (5, "widget"),   # duplicate spelling collapses into nid=min key
    ]
    df = spark.createDataFrame(rows, "p_partkey long, p_name string")
    orig = aq._t
    aq._t = lambda _s, _d, name: df
    try:
        got = {
            r["cluster_id"]: (r["canonical"], r["n_variants"])
            for r in aq.parts_entity_resolution(spark, "ignored").collect()
        }
    finally:
        aq._t = orig
    # names: widget(nid 1), widgat(2), widgatx(3), gizmo(4)
    assert got == {1: ("widget", 3), 4: ("gizmo", 1)}


# ---------------------------------------------------------------------------
# Deterministic sketch twins (round 9): KMV + replayable CMS laws
# ---------------------------------------------------------------------------


def test_kmv_estimate_tracks_exact_and_merges(spark):
    """KMV laws on a constructed id set: (a) the estimate is within the
    ~1/sqrt(k) band of the true distinct count; (b) min-union merge is
    lossless — the k smallest hashes of A ∪ B equal the k smallest of
    topk(A) ∪ topk(B), so per-partition/per-day sketch states merge
    without re-reading data (the HLL-union shape)."""
    from myrecommendsystem_spark.operators import stats

    a = spark.range(0, 3000).select((F.col("id") * 3 + 7).alias("user_id"))
    b = spark.range(0, 3000).select((F.col("id") * 5 + 1).alias("user_id"))
    union = a.union(b)
    exact = union.distinct().count()
    topk = stats.kmv_smallest_hashes(union, "user_id", k=64).collect()
    kth = max(r.hv for r in topk)
    est = (len(topk) - 1) * 4294967296.0 / kth
    assert abs(est - exact) / exact < 0.35  # 2.8/sqrt(64) guard band
    # merge law: min-union of the two sketch states == sketch of union
    sa = stats.kmv_smallest_hashes(a, "user_id", k=64)
    sb = stats.kmv_smallest_hashes(b, "user_id", k=64)
    merged = sorted(
        {r.hv for r in sa.collect()} | {r.hv for r in sb.collect()}
    )[:64]
    assert merged == sorted(r.hv for r in topk)


def test_cms_replay_overestimates_and_conserves_mass(spark):
    """Replayable-CMS laws: every cell row conserves total mass (sum of
    a row's cells == number of events — the sketch drops nothing), and
    every point estimate >= the true count (collisions only ADD)."""
    from myrecommendsystem_spark.operators import stats

    ev = spark.range(0, 5000).select(
        (F.col("id") % 700).alias("user_id")  # skewed: 700 users
    )
    n = ev.count()
    cells = stats.cms_replay_cells(ev, "user_id")
    per_row = {r.j: r.total for r in cells.groupBy("j").agg(
        F.sum("cnt").alias("total")).collect()}
    assert per_row == {j: n for j, _, _ in stats.CMS_REPLAY_PARAMS}
    true = {r.user_id: r.c for r in ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("c")).collect()}
    cell_map = {(r.j, r.bucket): r.cnt for r in cells.collect()}
    for u, t in list(true.items())[:100]:
        est = min(
            cell_map[(j, (u * av + bv) % stats.CMS_REPLAY_P % stats.CMS_REPLAY_WIDTH)]
            for j, av, bv in stats.CMS_REPLAY_PARAMS
        )
        assert est >= t, (u, est, t)


def test_kmv_set_operation_estimates_track_truth(spark):
    """KMV set ops (the events_type_overlap_kmv estimator) on a
    constructed overlap: A = ids 0..4499, B = 3000..7499 → union 7500,
    intersection 1500, jaccard 0.2.  With k=64 the standard error is
    ~1/sqrt(k) ≈ 12.5% on the union and ~0.05 absolute on jaccard;
    assert inside a 3-sigma band.  Deterministic given the fixed hash."""
    from myrecommendsystem_spark.operators import stats

    k = 64
    a = spark.range(0, 4500).select(F.col("id").alias("user_id"))
    b = spark.range(3000, 7500).select(F.col("id").alias("user_id"))
    ska = {r.hv for r in stats.kmv_smallest_hashes(a, "user_id", k).collect()}
    skb = {r.hv for r in stats.kmv_smallest_hashes(b, "user_id", k).collect()}
    union_topk = sorted(ska | skb)[:k]
    hk = union_topk[-1]
    union_est = (k - 1) * 4294967296.0 / hk
    jac_est = sum(1 for h in union_topk if h in ska and h in skb) / k
    inter_est = jac_est * union_est
    assert abs(union_est - 7500) / 7500 < 0.375, union_est
    assert abs(jac_est - 0.2) < 0.15, jac_est
    assert abs(inter_est - 1500) / 1500 < 0.8, inter_est
