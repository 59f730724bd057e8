"""Scale-curve probe — opt-in (MRS_SCALE_PROBE=1).

Runs the dedup modalities on synthetic corpora at 1x/4x/16x the sf0.1
document count and asserts the runtime growth stays sub-quadratic on a
corpus with NATURAL cross-doc sharing rates (50k-vocab pseudo-random
text).  This is the executable form of SCALE.md's r6 measurement: the
operators' cost must track input (+ output) size, never pair-count
blowup on unrelated docs.

Needs a real heap (run with SPARK_DRIVER_MEMORY=48g) and ~5 min, hence
opt-in:

    MRS_SCALE_PROBE=1 SPARK_DRIVER_MEMORY=48g \
        python -m pytest tests/test_scale_curves.py -q
"""

from __future__ import annotations

import math
import os
import time

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.skipif(
    not os.environ.get("MRS_SCALE_PROBE"),
    reason="scale-curve probe is opt-in: set MRS_SCALE_PROBE=1",
)

BASE_DOCS = 5_000


def _corpus(spark, n_docs: int, words_per_doc: int = 60, vocab: int = 50_000):
    """Pseudo-random text: word at (doc, pos) is hash-derived, so
    cross-doc shingle sharing matches a natural large corpus."""
    w = F.transform(
        F.sequence(F.lit(0), F.lit(words_per_doc - 1)),
        lambda p: F.concat(
            F.lit("w"),
            (F.abs(F.xxhash64(F.col("id"), p, F.lit(42))) % vocab).cast(
                "string"
            ),
        ),
    )
    return (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"), F.array_join(w, " ").alias("text")
        )
        .localCheckpoint(eager=True)
    )


@pytest.mark.parametrize(
    "name, op, max_exponent",
    [
        # exponent measured on the 4x -> 16x leg; 1.5 allows generous
        # headroom over the observed ~0.5 while still failing hard on a
        # quadratic regression (exponent 2)
        ("minhash", lambda d: __import__(
            "myrecommendsystem_spark.operators.dedup", fromlist=["x"]
        ).minhash_near_duplicates(d, jaccard_threshold=0.5), 1.5),
        ("simhash", lambda d: __import__(
            "myrecommendsystem_spark.operators.dedup", fromlist=["x"]
        ).simhash_near_duplicates(d, max_hamming=3), 1.5),
    ],
)
def test_dedup_scales_subquadratically(spark, name, op, max_exponent):
    # MRS_SCALE_PROBE_64=1 extends the curve with a 64x point (320k
    # docs — needs the 48g heap and several more minutes) and grades
    # the exponent on the TOP doubling pair, where fixed-stage overhead
    # has amortized out of the denominator (measured: minhash/simhash
    # both ≲1 at 16x->64x, SCALE.md).
    mults = (4, 16, 64) if os.environ.get("MRS_SCALE_PROBE_64") else (4, 16)
    times = {}
    for mult in mults:  # skip 1x: first-touch JIT pollutes it
        d = _corpus(spark, BASE_DOCS * mult)
        # best-of-2 per point: the host's bursty CPU-steal windows can
        # inflate one shot 5-10x at these corpus sizes (SCALE.md r7
        # methodology note) — a single contaminated point would flip
        # the exponent and fail the probe spuriously.  Process-isolated
        # per-point runs are the gold standard for RECORDED numbers;
        # best-of-2 is enough for this pass/fail bound.
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            op(d).count()
            best = min(best, time.perf_counter() - t0)
            spark.catalog.clearCache()
        times[mult] = best
    hi, lo = mults[-1], mults[-2]
    exponent = math.log(times[hi] / times[lo]) / math.log(hi / lo)
    assert exponent < max_exponent, (
        f"{name}: {times[lo]:.1f}s @{lo}x -> {times[hi]:.1f}s @{hi}x "
        f"(exponent {exponent:.2f})"
    )


def _embedding_corpus(spark, n: int, dim: int = 64):
    """Hash-derived pseudo-random unit-cube vectors — the embedding twin
    of _corpus (deterministic, natural LSH collision structure)."""
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: (F.abs(F.xxhash64(F.col("id"), i, F.lit(7))) % 2000).cast(
            "double"
        )
        / 1000.0
        - 1.0,
    )
    return (
        spark.range(n)
        .select(F.col("id").alias("vec_id"), vec.alias("embedding"))
        .localCheckpoint(eager=True)
    )


def test_hyperplane_lsh_scales_subquadratically_when_occupancy_matched(spark):
    """r8 scale point (SCALE.md): the hyperplane-LSH family run the way
    it would be deployed at growing n — band width raised so expected
    bucket occupancy stays constant (4x at 16 bits/8-bit bands vs 16x at
    20 bits/10-bit bands, ~78 vectors/bucket both).  Measured exponent
    0.60 (recorded, process-isolated); this probe fails on >= 1.5.
    Fixed-config growth is deliberately NOT asserted sub-quadratic:
    with 2^band_bits bucket values, candidate volume is quadratic by
    LSH construction (measured 1.70) — that row exists in SCALE.md as
    the justification for the tuning rule, not as a target."""
    import time as _time

    from myrecommendsystem_spark.operators import similarity

    points = {4: dict(n_bits=16, band_bits=8), 16: dict(n_bits=20, band_bits=10)}
    times = {}
    for mult, cfg in points.items():
        d = _embedding_corpus(spark, BASE_DOCS * mult)
        best = float("inf")
        for _ in range(2):
            t0 = _time.perf_counter()
            similarity.hyperplane_lsh_pairs(d, **cfg).count()
            best = min(best, _time.perf_counter() - t0)
            spark.catalog.clearCache()
        times[mult] = best
    exponent = math.log(times[16] / times[4]) / math.log(4)
    assert exponent < 1.5, (
        f"hyperplane-lsh: {times[4]:.1f}s @4x -> {times[16]:.1f}s @16x "
        f"(exponent {exponent:.2f})"
    )


def _media_fp(name: str):
    """(synthesizer, fingerprint) pair for one media modality — the
    same composition the registered queries run."""
    from myrecommendsystem_spark.operators import multimodal

    if name == "dhash":
        return multimodal.synthesize_media, lambda media: (
            multimodal.image_dhash(media).select(
                F.col("media_id").alias("id"), F.col("dhash").alias("fp")
            )
        )
    return multimodal.synthesize_audio, lambda media: (
        multimodal.audio_fingerprint(media).select(
            F.col("media_id").alias("id"), F.col("afp").alias("fp")
        )
    )


@pytest.mark.parametrize("kernel", ["dhash", "audio"])
def test_media_fingerprint_dedup_scales_subquadratically(spark, kernel):
    """Round-9 modality twin of the text-dedup probe: the image/audio
    near-dup pipeline (synthesize -> fingerprint kernel -> shared
    banding) on the pseudo-random corpus at 4x/16x (64x for dHash with
    MRS_SCALE_PROBE_64=1 — the 320k point).
    Fingerprints are 64-bit, buckets are byte-bands, so the cost model
    is the SimHash one: one Arrow pass + one (band, value) shuffle;
    exponent must stay sub-quadratic on a corpus with no planted
    clones.  The audio kernel's synthetic fingerprints are highly
    correlated (round-9 measured 0.89, output-driven); the round-10
    exact-fingerprint pre-collapse bands only distinct fingerprints,
    so its exponent bound tightens to the shared kernel one."""
    from myrecommendsystem_spark.operators import dedup

    mults = (
        (4, 16, 64)
        if kernel == "dhash" and os.environ.get("MRS_SCALE_PROBE_64")
        else (4, 16)
    )
    synth, fp_of = _media_fp(kernel)
    times = {}
    for mult in mults:
        docs = _corpus(spark, BASE_DOCS * mult)
        media = synth(docs).localCheckpoint(eager=True)
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            dedup.fingerprint_near_duplicates(
                fp_of(media), max_hamming=8
            ).count()
            best = min(best, time.perf_counter() - t0)
            spark.catalog.clearCache()
        times[mult] = best
    for lo, hi in zip(mults, mults[1:]):
        exponent = math.log(times[hi] / times[lo]) / math.log(hi / lo)
        assert exponent < 1.5, (
            f"media {kernel}: {times[lo]:.1f}s @{lo}x -> "
            f"{times[hi]:.1f}s @{hi}x (exponent {exponent:.2f})"
        )


def test_chunk_dedup_scales_subquadratically(spark):
    """Round-10 granularity twin of the text-dedup probe: sub-document
    chunk-level dedup (CDC chunk -> digest-only winner shuffle -> local
    rebuild) on the pseudo-random corpus at 4x/16x.  The cost model is
    linear-ish: two Arrow chunking passes + two digest shuffles + one
    doc-text join; nothing in the pipeline is pair-shaped, so the
    exponent must stay sub-quadratic regardless of sharing rate."""
    from myrecommendsystem_spark.operators import dedup

    mults = (4, 16)
    times = {}
    for mult in mults:
        d = _corpus(spark, BASE_DOCS * mult)
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            dedup.chunk_dedup_docs(d).count()
            best = min(best, time.perf_counter() - t0)
            spark.catalog.clearCache()
        times[mult] = best
    exponent = math.log(times[16] / times[4]) / math.log(4)
    assert exponent < 1.5, (
        f"chunk-dedup: {times[4]:.1f}s @4x -> {times[16]:.1f}s @16x "
        f"(exponent {exponent:.2f})"
    )


def test_video_near_dup_scales_subquadratically(spark):
    """Round-10 video modality probe: per-frame signatures through the
    offset-consistent inverted index at 4x/16x.  Frame rows are slim
    (id, int, digest); the only join is signature-keyed with the
    max_bucket occupancy cap, so pseudo-random corpora (no planted
    clips) must scale with frame volume, not video pairs."""
    from myrecommendsystem_spark.operators import multimodal

    mults = (4, 16)
    times = {}
    for mult in mults:
        docs = _corpus(spark, BASE_DOCS * mult)
        media = multimodal.synthesize_media(docs).localCheckpoint(eager=True)
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            multimodal.video_near_dup_pairs(
                multimodal.frame_signatures(media)
            ).count()
            best = min(best, time.perf_counter() - t0)
            spark.catalog.clearCache()
        times[mult] = best
    exponent = math.log(times[16] / times[4]) / math.log(4)
    assert exponent < 1.5, (
        f"video-near-dup: {times[4]:.1f}s @4x -> {times[16]:.1f}s @16x "
        f"(exponent {exponent:.2f})"
    )


def test_winnowing_overlap_scales_subquadratically(spark):
    """Round-11: the full winnowing pipeline (per-doc LOCAL selection —
    no shuffle — then the winnowed inverted-index join with the
    doc-frequency cap) on the pseudo-random corpus at 4x/16x.  The
    selection is map-only by construction; the join side's candidate
    volume is Σdf² over kept fingerprints, bounded by
    max_doc_freq·Σdf, so cost must track the winnowed index size
    (≈ 2/(guarantee+1) of the hash volume), never corpus pairs."""
    from myrecommendsystem_spark.operators import dedup as _dedup

    times = {}
    for mult in (4, 16):
        d = _corpus(spark, BASE_DOCS * mult)
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            _dedup.winnowing_overlap_pairs(d).count()
            best = min(best, time.perf_counter() - t0)
            spark.catalog.clearCache()
        times[mult] = best
    exponent = math.log(times[16] / times[4]) / math.log(4)
    assert exponent < 1.5, (
        f"winnowing overlap: {times[4]:.1f}s @4x -> {times[16]:.1f}s @16x "
        f"(exponent {exponent:.2f})"
    )


def test_winnowing_cross_corpus_scales_subquadratically(spark):
    """Round-12: the cross-corpus winnowing gate (new 20% of the corpus
    probed against the held 80%) at 4x/16x.  Candidate volume is
    bounded by max_doc_freq·|new fps| — each new fp row joins at most
    max_doc_freq reference rows — so cost must track the winnowed
    index size, never |new|·|ref|."""
    from myrecommendsystem_spark.operators import dedup as _dedup

    times = {}
    for mult in (4, 16):
        d = _corpus(spark, BASE_DOCS * mult)
        new = d.filter(F.col("doc_id") % 5 == 0)
        ref = d.filter(F.col("doc_id") % 5 != 0)
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            _dedup.winnowing_cross_corpus_pairs(new, ref).count()
            best = min(best, time.perf_counter() - t0)
            spark.catalog.clearCache()
        times[mult] = best
    exponent = math.log(times[16] / times[4]) / math.log(4)
    assert exponent < 1.5, (
        f"winnowing cross-corpus: {times[4]:.1f}s @4x -> {times[16]:.1f}s "
        f"@16x (exponent {exponent:.2f})"
    )


def test_hyperplane_recall_report_scales_linearly_with_fixed_probe(spark):
    """embedding_lsh_recall_report's scale contract (the minhash recall
    probe's twin): with the probe sample FIXED (500 vectors), cost
    grows ~linearly with the corpus — signing is O(n), the truth join
    is probe-broadcast × corpus (O(n·|probe|)), and the candidate side
    is the production banding path.  Fails hard on a quadratic
    regression (probe accidentally unbounded)."""
    from myrecommendsystem_spark.operators import similarity as _sim

    times = {}
    for mult in (4, 16):
        d = _embedding_corpus(spark, BASE_DOCS * mult)
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            _sim.hyperplane_recall_report(d, probe_max_id=500).count()
            best = min(best, time.perf_counter() - t0)
            spark.catalog.clearCache()
        times[mult] = best
    exponent = math.log(times[16] / times[4]) / math.log(4)
    assert exponent < 1.5, (
        f"hp recall report: {times[4]:.1f}s @4x -> {times[16]:.1f}s @16x "
        f"(exponent {exponent:.2f})"
    )


def test_recall_report_scales_linearly_with_fixed_probe(spark):
    """dedup_lsh_recall_report's scale contract: with the probe sample
    FIXED (500 docs), cost grows ~linearly with the corpus — the
    signature pass is O(n) and the truth join touches only the probe
    docs' postings, never corpus².  Fails hard on a quadratic
    regression (probe accidentally unbounded)."""
    from myrecommendsystem_spark.operators import dedup as _dedup

    times = {}
    for mult in (4, 16):
        d = _corpus(spark, BASE_DOCS * mult)
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            _dedup.minhash_recall_report(d, probe_max_id=500).count()
            best = min(best, time.perf_counter() - t0)
            spark.catalog.clearCache()
        times[mult] = best
    exponent = math.log(times[16] / times[4]) / math.log(4)
    assert exponent < 1.5, (
        f"recall report: {times[4]:.1f}s @4x -> {times[16]:.1f}s @16x "
        f"(exponent {exponent:.2f})"
    )


def test_salted_distinct_set_scales_linearly_on_whale_corpus(spark):
    """events_salted_distinct_users' scale contract: on a corpus where
    one key carries 90% of the rows AND the distinct-value count grows
    with input, the salted set build grows ~linearly — one value-keyed
    (key, salt) partial collect_set pass plus a salt_n-bounded merge;
    no stage is quadratic in the whale's set.  Fails hard on a
    super-linear regression (e.g. the partial accidentally keyed so
    values duplicate across salts)."""
    from myrecommendsystem_spark.operators.skew import salted_distinct_set

    forced = spark.createDataFrame([(16,)], "rec_salt int")
    times = {}
    base = 1_500_000
    for mult in (4, 16):
        n = base * mult
        d = (
            spark.range(0, n, 1, 32)
            .select(
                F.when(F.col("id") % 10 < 9, 0)
                .otherwise((F.col("id") % 999) + 1)
                .alias("k"),
                F.when(F.col("id") % 10 < 9, F.col("id") % (n // 10))
                .otherwise(F.col("id") % 50)
                .alias("v"),
            )
            .localCheckpoint(eager=True)
        )
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            # size() keeps the whale array out of the driver while
            # still materializing the full set build
            salted_distinct_set(d, ["k"], "v", profile=forced).select(
                F.size("distinct_values")
            ).agg(F.sum("size(distinct_values)")).collect()
            best = min(best, time.perf_counter() - t0)
            spark.catalog.clearCache()
        times[mult] = best
        d.unpersist()
    exponent = math.log(times[16] / times[4]) / math.log(4)
    assert exponent < 1.3, (
        f"salted distinct set: {times[4]:.1f}s @4x -> {times[16]:.1f}s "
        f"@16x (exponent {exponent:.2f})"
    )
