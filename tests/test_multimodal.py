"""Multimodal plumbing tests: schema, batch shape, pruning, determinism.

The decode step is a stub (no codecs in the container) — what these tests
pin down is the REAL part: mapInPandas signatures, declared schemas,
metadata-before-decode pruning, and that the whole pipeline is
deterministic (same input → same bytes out, across runs and partitionings).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from myrecommendsystem_spark.operators import multimodal


def _docs(spark):
    rows = [(i, f"doc number {i} " + "tok " * (i % 7)) for i in range(12)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_synthesize_media_schema(spark):
    m = multimodal.synthesize_media(_docs(spark))
    assert m.schema.simpleString() == (
        "struct<media_id:bigint,kind:string,payload:binary,"
        "meta:struct<width:int,height:int,channels:int,format:string,"
        "n_frames:int>>"
    )
    rows = {r.media_id: r for r in m.collect()}
    assert rows[0].kind == "video" and rows[1].kind == "image"
    assert bytes(rows[3].payload).decode() == "doc number 3 tok tok tok "
    assert rows[4].meta.channels == 3 and rows[5].meta.channels == 1


def test_image_features_deterministic_and_shaped(spark):
    m = multimodal.synthesize_media(_docs(spark))
    f1 = {r.media_id: r for r in multimodal.image_features(m).collect()}
    f2 = {
        r.media_id: r
        for r in multimodal.image_features(m.repartition(5)).collect()
    }
    assert set(f1) == set(range(12))
    for mid in f1:
        a, b = f1[mid], f2[mid]
        assert a.mean_intensity == b.mean_intensity
        assert list(a.histogram) == list(b.histogram)
        assert len(a.histogram) == 16
        # histogram covers every pixel: sum == width*height*channels
        meta = {r.media_id: r.meta for r in m.collect()}[mid]
        assert sum(a.histogram) == meta.width * meta.height * meta.channels


def test_tiling_oracle_assumption_holds():
    """The hash gates on ``media_image_features``
    and ``media_frame_sample`` assume the decode stage IS deterministic
    byte tiling — their DuckDB oracles compute the tiled pixel sum in
    closed form (full repetitions + leading remainder slice) and the
    frame checksum as ``s_tiled + frame_idx * n_pixels`` (no mod-256
    wrap for ASCII payloads and small frame offsets).  This test pins
    that identity against the kernel directly: if it fails — e.g. a
    real codec replaced ``_decode_payload`` — REVERT BOTH ORACLES TO
    ROWS-ONLY (oracle=None in plans/multimodal_queries.py) instead of
    shipping a silently-wrong hash gate."""
    payloads = [b"", b"a", b"hello world", bytes(range(97, 123)) * 3]
    shapes = [(3, 2, 1), (5, 7, 3), (16, 16, 1)]
    for payload in payloads:
        buf = list(payload) or [0]
        for w, h, c in shapes:
            n = w * h * c
            img = multimodal._decode_payload(payload, width=w, height=h, channels=c)
            assert img.shape == (h, w, c)
            reps, rem = divmod(n, len(buf))
            s_tiled = reps * sum(buf) + sum(buf[:rem])
            assert int(img.astype(np.int64).sum()) == s_tiled
            # frame-checksum closed form: ASCII bytes <= 127 and frame
            # offsets <= 8 keep every (byte + fi) under 256 — no wrap
            for fi in (0, 2, 4, 8):
                frame = (img.astype(np.int64) + fi) % 256
                assert int(frame.sum()) == s_tiled + fi * n


def test_decode_stage_output_contracts_pinned():
    """The declared mapInPandas schemas are part of the driver contract
    (flat columns, exact names/types) — a codec swap must not drift
    them."""
    assert multimodal.FEATURE_SCHEMA == (
        "media_id bigint, n_bytes int, mean_intensity double, "
        "histogram array<bigint>"
    )
    assert multimodal.FRAME_SCHEMA == (
        "media_id bigint, frame_idx int, frame_checksum bigint"
    )


def test_decode_stub_tiles_payload():
    img = multimodal._decode_payload(b"ab", width=2, height=2, channels=1)
    assert img.shape == (2, 2, 1)
    assert img.flatten().tolist() == [97, 98, 97, 98]
    empty = multimodal._decode_payload(b"", width=2, height=1, channels=1)
    assert empty.sum() == 0


def test_resize_images(spark):
    m = multimodal.synthesize_media(_docs(spark))
    out = multimodal.resize_images(m, out_width=8, out_height=8).collect()
    assert len(out) == 12
    assert all(r.out_width == 8 and r.out_height == 8 for r in out)
    # resized checksum must be reproducible
    again = multimodal.resize_images(m, out_width=8, out_height=8).collect()
    assert {(r.media_id, r.checksum) for r in out} == {
        (r.media_id, r.checksum) for r in again
    }


def test_sample_frames_only_videos_every_k(spark):
    m = multimodal.synthesize_media(_docs(spark))
    frames = multimodal.sample_frames(m, every_k=2).collect()
    vids = {r.media_id: r.meta.n_frames for r in m.collect() if r.kind == "video"}
    got = {}
    for r in frames:
        got.setdefault(r.media_id, []).append(r.frame_idx)
    assert set(got) == set(vids)
    for mid, idxs in got.items():
        assert sorted(idxs) == list(range(0, vids[mid], 2))


def test_metadata_prune_before_decode(spark):
    """The metadata filter must reach the parquet-side scan, not run after
    the mapInPandas decode — check the optimized plan ordering."""
    m = multimodal.synthesize_media(_docs(spark)).filter(
        F.col("meta.width") >= 32
    )
    feats = multimodal.image_features(m)
    plan = feats._jdf.queryExecution().optimizedPlan().toString()
    # Filter node must appear BELOW (after, in print order) the python eval
    # node, i.e. decode consumes pre-filtered rows.
    assert "MapInPandas" in plan
    filter_pos = plan.find("width")
    map_pos = plan.find("MapInPandas")
    assert filter_pos > map_pos >= 0


def _fixture_media(spark):
    """Constructed near-dup fixture: 3 base 'images' (seeded random
    payloads, identical 32x32x1 meta) each with 2 perturbed clones
    (±1 on a handful of bytes — tiny exact intensity distance), plus
    the unrelated bases.  Ground truth: clone pairs are near-dups,
    cross-base pairs are not."""
    rng = np.random.default_rng(97)
    rows = []
    truth = set()
    mid = 0
    for base in range(3):
        payload = rng.integers(0, 256, size=500, dtype=np.uint8)
        members = []
        for clone in range(3):  # original + 2 perturbed
            p = payload.copy()
            if clone:
                idx = rng.choice(500, size=5, replace=False)
                p[idx] = np.clip(p[idx].astype(int) + clone, 0, 255)
            rows.append((mid, "image", bytes(p.tobytes()), (32, 32, 1, "rawi", 1)))
            members.append(mid)
            mid += 1
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                truth.add((members[i], members[j]))
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    return df, truth


def _exact_intensity_distance(rows_by_id, a, b):
    """Mean absolute pixel difference of the stub-decoded images — the
    exact reference the dHash pipeline approximates."""
    def img(mid):
        _, _, payload, meta = rows_by_id[mid]
        return multimodal._decode_payload(
            payload, meta[0], meta[1], meta[2]
        ).astype(np.int64)

    return float(np.abs(img(a) - img(b)).mean())


def test_media_near_dup_recall_vs_exact_intensity(spark):
    """On the fixture corpus the
    banded dHash pipeline must (a) recover every constructed near-dup
    pair — pairs whose EXACT intensity distance is tiny — and (b) admit
    no cross-base pair, whose exact distance is ~85x larger."""
    from myrecommendsystem_spark.operators import dedup

    df, truth = _fixture_media(spark)
    rows_by_id = {
        r[0]: (r[0], r[1], bytes(r[2]), r[3])
        for r in df.collect()
    }
    fp = multimodal.image_dhash(df).select(
        F.col("media_id").alias("id"), F.col("dhash").alias("fp")
    )
    found = {
        (r.id_a, r.id_b)
        for r in dedup.fingerprint_near_duplicates(fp, max_hamming=16).collect()
    }
    assert truth <= found, f"missed near-dups: {truth - found}"
    for a, b in truth:
        assert _exact_intensity_distance(rows_by_id, a, b) < 1.0
    for a, b in found - truth:
        raise AssertionError(
            f"false positive ({a},{b}): exact distance "
            f"{_exact_intensity_distance(rows_by_id, a, b):.1f}"
        )


def test_image_dhash_invariants(spark):
    """dHash semantics pinned: identical payload+meta → identical hash;
    one flipped pixel pair → small hamming; the fingerprint is a plain
    signed BIGINT (banding/bit_count compatible)."""
    df, _ = _fixture_media(spark)
    fps = {r.media_id: r.dhash for r in multimodal.image_dhash(df).collect()}
    assert all(isinstance(v, int) for v in fps.values())
    # clones of base 0 are ids 0,1,2 — hamming(0, clone) must be small
    def ham(a, b):
        return bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1")

    assert ham(0, 1) <= 16 and ham(0, 2) <= 16
    # cross-base images are far apart
    assert ham(0, 3) > 16 and ham(0, 6) > 16


# ---------------------------------------------------------------------------
# Audio fingerprint (round 9)
# ---------------------------------------------------------------------------


def _audio_df(spark, rows):
    """rows: list of (media_id, payload_bytes, n_samples)."""
    return spark.createDataFrame(
        [(mid, bytearray(p), (8000, n, "rawa")) for mid, p, n in rows],
        multimodal.AUDIO_SCHEMA,
    )


def _afp_reference(payload: bytes, n: int) -> int:
    """Independent in-test reimplementation of the HK fingerprint over
    the stubbed tiled decode — catches a kernel bug even if the DuckDB
    oracle shared it."""
    buf = np.frombuffer(payload or b"\x00", dtype=np.uint8)
    wave = np.tile(buf, -(-n // buf.size))[:n].astype(np.int64)
    starts = (np.arange(10) * n) // 9
    e = np.zeros((9, 9), dtype=np.int64)
    for f in range(9):
        flen = starts[f + 1] - starts[f]
        for b in range(9):
            lo = starts[f] + (b * flen) // 9
            hi = starts[f + 1] if b == 8 else starts[f] + ((b + 1) * flen) // 9
            e[f, b] = wave[lo:hi].sum()
    d = e[:, :8] - e[:, 1:9]
    fp = 0
    for bit in (d[1:, :] > d[:-1, :]).reshape(-1):
        fp = (fp << 1) | int(bit)
    return fp - (1 << 64) if fp >= 1 << 63 else fp


def test_audio_fingerprint_matches_reference(spark):
    rows = [
        (0, bytes((i * 37 + 11) % 256 for i in range(128)), 96),
        (1, b"hello world, this is a clip payload for testing", 47),
        (2, b"", 32),
    ]
    fps = {
        r.media_id: r.afp
        for r in multimodal.audio_fingerprint(_audio_df(spark, rows)).collect()
    }
    for mid, payload, n in rows:
        assert fps[mid] == _afp_reference(payload, n), mid
    assert fps[2] == 0  # silence: all band differences equal -> no bits


def test_audio_fingerprint_locality(spark):
    """One perturbed sample lands in exactly one (frame, band) slice, so
    it can flip at most 4 bits — D(f,b) and D(f,b-1) each feed the bit
    pair comparing frames (f-1,f) and (f,f+1).  Identical clips hash
    identically; a different clip is far away."""
    base = bytes((i * 37 + 11) % 256 for i in range(128))
    perturbed = bytearray(base)
    perturbed[50] = (perturbed[50] + 90) % 256  # one sample (n=96 < 128)
    other = bytes((i * 91 + 3) % 256 for i in range(128))
    rows = [
        (0, base, 96),
        (1, bytes(base), 96),
        (2, bytes(perturbed), 96),
        (3, other, 96),
    ]
    fps = {
        r.media_id: r.afp
        for r in multimodal.audio_fingerprint(_audio_df(spark, rows)).collect()
    }

    def ham(a, b):
        return bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1")

    assert fps[0] == fps[1]
    assert 0 < ham(0, 2) <= 4
    assert ham(0, 3) > 16


def test_audio_near_dup_pairs_via_banding(spark):
    """Clips sharing their decoded window pair at hamming 0 through the
    shared banding pipeline; unrelated clips don't pair."""
    from myrecommendsystem_spark.operators import dedup

    base = bytes((i * 37 + 11) % 256 for i in range(160))
    tail_variant = base[:96] + bytes(reversed(base[96:]))  # same first 96
    other = bytes((i * 91 + 3) % 256 for i in range(160))
    rows = [(0, base, 96), (1, tail_variant, 96), (2, other, 96)]
    fp = multimodal.audio_fingerprint(_audio_df(spark, rows)).select(
        F.col("media_id").alias("id"), F.col("afp").alias("fp")
    )
    pairs = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.fingerprint_near_duplicates(fp, max_hamming=16).collect()
    }
    assert (0, 1, 0) in pairs
    assert not any({a, b} == {0, 2} or {a, b} == {1, 2} for a, b, _ in pairs)


# ---------------------------------------------------------------------------
# video near-dup (round 10): frame_signatures + video_near_dup_pairs
# ---------------------------------------------------------------------------


def _video_docs(spark, rows):
    # doc_id % 3 == 0 rows become videos under synthesize_media
    return multimodal.synthesize_media(
        spark.createDataFrame(rows, "doc_id long, text string")
    )


def test_frame_signatures_shape_and_determinism(spark):
    media = _video_docs(
        spark, [(0, "alpha beta gamma " * 8), (1, "image row"), (3, "x" * 100)]
    )
    out = multimodal.frame_signatures(media, every_k=2).collect()
    # only videos (0 and 3) emit; n_frames = id % 8 + 2 → 2 and 5 frames
    by_id = {}
    for r in out:
        by_id.setdefault(r.media_id, []).append((r.frame_idx, r.fsig))
    assert set(by_id) == {0, 3}
    assert [i for i, _ in sorted(by_id[0])] == [0]  # range(0, 2, 2)
    assert [i for i, _ in sorted(by_id[3])] == [0, 2, 4]  # range(0, 5, 2)
    assert all(len(s) == 32 for _, s in by_id[3])
    again = multimodal.frame_signatures(media, every_k=2).collect()
    assert sorted((r.media_id, r.frame_idx, r.fsig) for r in out) == sorted(
        (r.media_id, r.frame_idx, r.fsig) for r in again
    )


def test_video_near_dup_matches_shared_prefix(spark):
    # ids 6 and 12: both videos, same text → same canonical strip →
    # equal signatures at equal frame indices (offset 0).
    shared = "shared video payload content " * 5
    media = _video_docs(
        spark,
        [(6, shared), (12, shared), (9, "totally different clip " * 6)],
    )
    frames = multimodal.frame_signatures(media, every_k=2)
    pairs = {
        (r.id_a, r.id_b): r
        for r in multimodal.video_near_dup_pairs(frames).collect()
    }
    assert (6, 12) in pairs
    p = pairs[(6, 12)]
    # n_frames: id6 → 6%8+2 = 8 → 4 sampled; id12 → 12%8+2 = 6 → 3 sampled
    assert (p.n_a, p.n_b) == (4, 3)
    assert p.best_offset == 0
    assert p.offset_matched == 3  # overlap of sampled indices {0,2,4,6}∩{0,2,4}
    assert p.n_matched == 3
    assert not any(9 in k for k in pairs)


def test_video_near_dup_bucket_cap_drops_degenerate_signature(spark):
    # five videos with identical payloads → every frame-0 signature equal;
    # cap below the occupancy removes all candidates
    rows = [(3 * i, "constant pattern " * 4) for i in range(1, 6)]
    media = _video_docs(spark, rows)
    frames = multimodal.frame_signatures(media, every_k=2)
    assert multimodal.video_near_dup_pairs(frames, max_bucket=1).count() == 0
    assert multimodal.video_near_dup_pairs(frames, max_bucket=64).count() > 0


def test_pack_bits64_matches_shift_or_fold():
    """r14 kernel vectorization: the MSB-first weighted sum replaces the
    64-iteration ``fp = (fp << 1) | bit`` Python fold in image_dhash /
    audio_fingerprint — must be bit-identical incl. the two's-complement
    wrap (all-ones, leading-one patterns)."""
    import numpy as np

    from myrecommendsystem_spark.operators.multimodal import _pack_bits64

    def old_pack(bits):
        fp = 0
        for bit in bits:
            fp = (fp << 1) | int(bit)
        return fp - (1 << 64) if fp >= 1 << 63 else fp

    rng = np.random.RandomState(7)
    cases = [
        np.zeros(64, dtype=bool),
        np.ones(64, dtype=bool),
        np.eye(64, dtype=bool)[0],   # MSB only → sign wrap
        np.eye(64, dtype=bool)[63],  # LSB only → 1
    ] + [rng.rand(64) < p for p in (0.1, 0.5, 0.9) for _ in range(200)]
    for bits in cases:
        assert _pack_bits64(bits) == old_pack(bits)
