"""Multimodal columns: binary payloads + typed metadata, Arrow-batched ops.

LLM-data-pipeline extension.  Media lives in a
DataFrame as an opaque ``binary`` column plus a typed metadata struct —
the Spark-native layout for 100 TB of images/audio/video:

- payloads stay byte-for-byte opaque to Catalyst (no decode on scan);
- metadata (width/height/channels/format/n_frames) is a plain struct, so
  filters like ``meta.width >= 64`` prune *before* any decode work;
- decode / feature-extract / resize / frame-sample run as
  ``mapInPandas`` stages: Arrow ships the binary batches to numpy with
  zero row-at-a-time overhead, and each stage declares its output schema
  so downstream stays fully relational.

The actual image/audio codecs are NOT in this container, so the decode
step is STUBBED (``_decode_payload``): a clearly-marked deterministic
fake that derives a ``height × width × channels`` uint8 array from the
payload bytes.  Every other part — schema, partitioning, UDF signature,
batch shape, metadata pruning — is the real Spark plumbing and is tested.
Swap ``_decode_payload`` for PIL/libav and nothing else changes.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from myrecommendsystem_spark.operators.dedup import bucket_pairs, cap_buckets

MEDIA_SCHEMA = (
    "media_id bigint, kind string, payload binary, "
    "meta struct<width:int, height:int, channels:int, format:string, n_frames:int>"
)

FEATURE_SCHEMA = (
    "media_id bigint, n_bytes int, mean_intensity double, histogram array<bigint>"
)

RESIZE_SCHEMA = (
    "media_id bigint, out_width int, out_height int, checksum bigint"
)

FRAME_SCHEMA = "media_id bigint, frame_idx int, frame_checksum bigint"

DHASH_SCHEMA = "media_id bigint, dhash bigint"

AUDIO_SCHEMA = (
    "media_id bigint, payload binary, "
    "meta struct<sample_rate:int, n_samples:int, format:string>"
)

AFP_SCHEMA = "media_id bigint, afp bigint"

_HIST_BINS = 16


def synthesize_media(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic fake media table from the documents corpus.

    Stands in for a real ingest (S3 of JPEGs → binary column): payload is
    the utf-8 text bytes, metadata is arithmetic on the id — all Catalyst
    expressions, so the oracle can reproduce every field.  Every third
    row is a 'video' with a frame count; the rest are single-frame
    images.
    """
    doc_id = F.col(id_col).cast("bigint")
    return docs.select(
        doc_id.alias("media_id"),
        F.when(doc_id % 3 == 0, F.lit("video")).otherwise(F.lit("image")).alias(
            "kind"
        ),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.struct(
            (F.pmod(doc_id, 48) + 16).cast("int").alias("width"),
            (F.pmod(doc_id * 7, 48) + 16).cast("int").alias("height"),
            F.when(doc_id % 2 == 0, 3).otherwise(1).cast("int").alias("channels"),
            F.when(doc_id % 3 == 0, F.lit("rawv")).otherwise(F.lit("rawi")).alias(
                "format"
            ),
            F.when(doc_id % 3 == 0, (F.pmod(doc_id, 8) + 2))
            .otherwise(F.lit(1))
            .cast("int")
            .alias("n_frames"),
        ).alias("meta"),
    )


def _decode_payload(payload: bytes, width: int, height: int, channels: int) -> np.ndarray:
    """STUB decode — deterministic fake in place of a real codec.

    A real implementation would be ``PIL.Image.open(io.BytesIO(payload))``
    / ``av.open`` here; this container has no image/audio libraries, so we
    tile the payload bytes into the declared (height, width, channels)
    shape.  Deterministic: same payload + meta → same array.
    """
    n = height * width * channels
    buf = np.frombuffer(payload, dtype=np.uint8)
    if buf.size == 0:
        buf = np.zeros(1, dtype=np.uint8)
    reps = -(-n // buf.size)  # ceil
    return np.tile(buf, reps)[:n].reshape(height, width, channels)


def image_features(media: DataFrame, bins: int = _HIST_BINS) -> DataFrame:
    """Decode + feature-extract: byte count, mean intensity, histogram.

    ``mapInPandas`` over (media_id, payload, meta): each Arrow batch is
    decoded and reduced in numpy; output schema is declared so the result
    is a normal relational table.  Metadata-only filters should be applied
    *before* this stage — decode is the expensive step at scale.
    """
    schema = FEATURE_SCHEMA

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": pdf["media_id"],
                "n_bytes": pdf["payload"].map(len).astype("int32"),
                "mean_intensity": np.zeros(len(pdf)),
                "histogram": [None] * len(pdf),
            }
            hists = []
            means = np.zeros(len(pdf))
            for i, (payload, meta) in enumerate(zip(pdf["payload"], pdf["meta"])):
                img = _decode_payload(
                    payload, meta["width"], meta["height"], meta["channels"]
                )
                means[i] = float(img.mean())
                hist, _ = np.histogram(img, bins=bins, range=(0, 256))
                hists.append(hist.astype(np.int64))
            # round-stable convention (functions.compat): +eps before
            # rounding so engine tie-break modes can never diverge
            out["mean_intensity"] = np.round(means + 1e-9, 4)
            out["histogram"] = hists
            yield pd.DataFrame(out)

    return media.select("media_id", "payload", "meta").mapInPandas(compute, schema)


# MSB-first weights for packing a 64-bool vector into one uint64 word:
# bit i carries 2^(63-i), exactly the ``fp = (fp << 1) | bit`` fold the
# per-bit Python loop used to run (64 interpreted ops per row — the
# dominant per-row cost of the fingerprint kernels at bench scale).
_BIT64_WEIGHTS = (1 << np.arange(63, -1, -1, dtype=np.uint64)).astype(
    np.uint64
)


def _pack_bits64(bits: np.ndarray) -> int:
    """Pack a length-64 boolean vector into one SIGNED 64-bit int,
    MSB first — bit-identical to the shift-or fold it replaces
    (``Σ bit_i · 2^(63-i)``, then two's complement)."""
    fp = int((bits.astype(np.uint64) * _BIT64_WEIGHTS).sum(dtype=np.uint64))
    return fp - (1 << 64) if fp >= 1 << 63 else fp


def image_dhash(media: DataFrame) -> DataFrame:
    """Perceptual difference-hash (dHash) per image → (media_id, dhash).

    The standard near-dup fingerprint for images (pHash family): decode,
    grayscale, nearest-neighbor resize to 9×8, then one bit per adjacent
    horizontal pixel pair — bit(r, j) = gray(r, j) < gray(r, j+1) — packed
    into ONE signed 64-bit integer, most-significant bit first.  Crops,
    re-encodes, and brightness shifts barely move the bits, so hamming
    distance ≤ t finds near-duplicate images the way SimHash finds
    near-duplicate text — and the downstream banding/verify pipeline IS
    the SimHash one (dedup.fingerprint_near_duplicates).

    Two determinism choices keep this DuckDB-replayable on the stubbed
    decode (the media_image_features precedent):

    - grayscale is the integer CHANNEL SUM, not the float mean — the
      compared pixels share a channel count, so the bit is identical,
      and integer sums are exact in both engines;
    - the resize grid is the same ``(i·in)//out`` nearest-neighbor rule
      as :func:`resize_images`.

    One Arrow pass, no shuffle; a real codec swap changes only
    ``_decode_payload``."""

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fps = [], []
            for mid, payload, meta in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                h, w = int(meta["height"]), int(meta["width"])
                img = _decode_payload(payload, w, h, meta["channels"])
                g = img.astype(np.int64).sum(axis=2)
                gg = g[(np.arange(8) * h) // 8][:, (np.arange(9) * w) // 9]
                bits = (gg[:, :8] < gg[:, 1:9]).reshape(-1)
                ids.append(mid)
                fps.append(_pack_bits64(bits))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "dhash": pd.Series(fps, dtype="int64"),
                }
            )

    return media.select("media_id", "payload", "meta").mapInPandas(
        compute, DHASH_SCHEMA
    )


def synthesize_audio(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic fake audio table from the documents corpus.

    The audio twin of :func:`synthesize_media`: payload is the utf-8 text
    bytes (an opaque compressed stream to Catalyst), metadata is
    arithmetic on the id so the oracle reproduces every field.  Sample
    counts are deliberately stub-small (32..127) to keep the DuckDB twin
    cheap — a real ingest swaps ``_decode_payload`` for libav/soundfile
    and the counts come from the container header instead.
    """
    doc_id = F.col(id_col).cast("bigint")
    return docs.select(
        doc_id.alias("media_id"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.struct(
            (8000 + F.pmod(doc_id, 4) * 4000).cast("int").alias("sample_rate"),
            (F.pmod(doc_id, 96) + 32).cast("int").alias("n_samples"),
            F.lit("rawa").alias("format"),
        ).alias("meta"),
    )


_AFP_FRAMES = 9  # frames 0..8; bits compare consecutive frames → 8 rows
_AFP_BANDS = 9  # band energies 0..8; bits compare adjacent bands → 8 cols


def audio_fingerprint(media: DataFrame) -> DataFrame:
    """Acoustic fingerprint per clip → (media_id, afp) — one signed BIGINT.

    The Haitsma–Kalker shape (the classic robust-audio-hash / Shazam-family
    fingerprint, and what Chromaprint computes per frame): split the clip
    into 9 frames, reduce each frame to 9 band energies, difference
    adjacent bands, and take one bit per (frame, band) from whether that
    difference GREW vs the previous frame:

        bit(f, b) = [E(f,b) - E(f,b+1)] > [E(f-1,b) - E(f-1,b+1)]

    f ∈ 1..8 × b ∈ 0..7 → 64 bits packed MSB-first into one signed
    BIGINT, so the downstream near-dup machinery is EXACTLY the SimHash /
    dHash banding pipeline (``dedup.fingerprint_near_duplicates``).

    Determinism choices (the image_dhash precedent) keep this
    DuckDB-replayable on the stubbed decode:

    - band "energy" is the INTEGER SUM of decoded samples over the band's
      time slice (the spectral transform is part of the stubbed decode
      step — a real implementation FFTs the frame first; bit layout and
      everything downstream are unchanged);
    - frame/band boundaries use the same ``(i*n)//k`` grid as
      :func:`resize_images`, so both engines cut identical slices.

    One Arrow pass, no shuffle; only 8-byte fingerprints move afterwards.
    """

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fps = [], []
            for mid, payload, meta in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                n = int(meta["n_samples"])
                wave = _decode_payload(payload, n, 1, 1).reshape(-1).astype(
                    np.int64
                )
                # boundary k = f*9 + b (f=0..9, b=0..8): frame starts at
                # (f*n)//9, band b splits the frame by the same rule —
                # one broadcasted integer grid, identical arithmetic to
                # the former 81-iteration Python loop
                starts = (np.arange(_AFP_FRAMES + 1) * n) // _AFP_FRAMES
                flens = starts[1:] - starts[:-1]  # (9,)
                bounds = np.empty(_AFP_FRAMES * _AFP_BANDS + 1, dtype=np.int64)
                bounds[:-1] = (
                    starts[:-1, None]
                    + (np.arange(_AFP_BANDS)[None, :] * flens[:, None])
                    // _AFP_BANDS
                ).reshape(-1)
                bounds[-1] = n
                pref = np.concatenate(([0], np.cumsum(wave)))
                seg = pref[bounds[1:]] - pref[bounds[:-1]]  # E flat: f*9+b
                e = seg.reshape(_AFP_FRAMES, _AFP_BANDS)
                d = e[:, :8] - e[:, 1:9]  # D(f, b), 9x8
                bits = (d[1:, :] > d[:-1, :]).reshape(-1)  # f=1..8 × b=0..7
                ids.append(mid)
                fps.append(_pack_bits64(bits))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "afp": pd.Series(fps, dtype="int64"),
                }
            )

    return media.select("media_id", "payload", "meta").mapInPandas(
        compute, AFP_SCHEMA
    )


def resize_images(media: DataFrame, out_width: int, out_height: int) -> DataFrame:
    """Nearest-neighbor resize of every (fake-)decoded image.

    Returns a checksum of the resized pixels rather than re-encoded bytes
    (no encoder in this container) — the batch shape, schema declaration,
    and per-row numpy work are the real pipeline.
    """
    schema = RESIZE_SCHEMA

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sums = [], []
            for payload, meta in zip(pdf["payload"], pdf["meta"]):
                img = _decode_payload(
                    payload, meta["width"], meta["height"], meta["channels"]
                )
                ys = (np.arange(out_height) * meta["height"]) // out_height
                xs = (np.arange(out_width) * meta["width"]) // out_width
                resized = img[ys][:, xs]
                sums.append(int(resized.astype(np.int64).sum()))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "out_width": np.int32(out_width),
                    "out_height": np.int32(out_height),
                    "checksum": pd.Series(sums, dtype="int64"),
                }
            )

    return media.select("media_id", "payload", "meta").mapInPandas(compute, schema)


def sample_frames(media: DataFrame, every_k: int = 2) -> DataFrame:
    """Frame sampling for video rows: every k-th frame index + checksum.

    The fake 'video' is the payload re-decoded per frame with a frame
    offset; a real implementation seeks the container stream instead.
    One output row per sampled frame — the exploded shape a downstream
    caption/embed stage consumes.
    """
    schema = FRAME_SCHEMA

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mids, idxs, sums = [], [], []
            for mid, payload, meta in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                img = _decode_payload(
                    payload, meta["width"], meta["height"], meta["channels"]
                )
                for fi in range(0, int(meta["n_frames"]), every_k):
                    frame = (img.astype(np.int64) + fi) % 256
                    mids.append(mid)
                    idxs.append(fi)
                    sums.append(int(frame.sum()))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(mids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_checksum": pd.Series(sums, dtype="int64"),
                }
            )

    return (
        media.filter(F.col("kind") == "video")
        .select("media_id", "payload", "meta")
        .mapInPandas(compute, schema)
    )


FSIG_SCHEMA = "media_id bigint, frame_idx int, fsig string"

_FSIG_CANON = 64  # canonical per-frame pixel count before signing


def frame_signatures(
    media: DataFrame, every_k: int = 2, canon: int = _FSIG_CANON
) -> DataFrame:
    """Per-frame perceptual signatures for video rows — the frame-level
    half of video near-dup.

    Each sampled frame (every ``every_k``-th index) is normalized to a
    ``canon``-pixel canonical strip (geometry-invariant, like the 8x8
    resize under a real pHash) and signed with md5 over the decimal pixel
    stream.  STUB decode discipline (module docstring): the canonical
    strip is the payload tiled to ``canon`` bytes shifted by the frame
    index — a real implementation seeks/decodes/resizes each frame and
    signs the downsampled luma grid; swapping that in returns the gated
    query to rows-only.  One Arrow pass; payloads never shuffle — only
    (media_id, frame_idx, 32-char signature) rows leave the scan.
    """
    import hashlib

    # decimal byte-string table: vals are bytes (0..255), so the
    # comma-joined decimal stream md5 signs is a table lookup + join —
    # same bytes as the former per-value str(int(v)) loop, no per-pixel
    # Python conversions (guide §4.2 constant-factor on the kernel)
    dec = np.array([str(i).encode() for i in range(256)], dtype=object)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mids, idxs, sigs = [], [], []
            for mid, payload, meta in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                buf = np.frombuffer(payload, dtype=np.uint8)
                if buf.size == 0:
                    buf = np.zeros(1, dtype=np.uint8)
                strip = buf[np.arange(canon) % buf.size].astype(np.int64)
                for fi in range(0, int(meta["n_frames"]), every_k):
                    vals = (strip + fi) % 256
                    sig = hashlib.md5(b",".join(dec[vals])).hexdigest()
                    mids.append(mid)
                    idxs.append(fi)
                    sigs.append(sig)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(mids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "fsig": pd.Series(sigs, dtype="object"),
                }
            )

    return (
        media.filter(F.col("kind") == "video")
        .select("media_id", "payload", "meta")
        .mapInPandas(compute, FSIG_SCHEMA)
    )


def video_near_dup_pairs(
    frames: DataFrame, min_matched: int = 1, max_bucket: int = 64
) -> DataFrame:
    """Video near-dup pairs from per-frame signatures — frame-level
    inverted-index matching with offset consistency.

    The production video-dedup shape: videos are near-duplicates when
    they share frame signatures, and a CLIP relationship (one video
    containing the other, or a shifted re-encode) shows up as matches
    concentrated at one frame-index offset.  Input is
    :func:`frame_signatures` output; returns one row per candidate pair::

        (id_a, id_b, n_matched, best_offset, offset_matched, n_a, n_b)

    ``n_matched`` counts all signature matches, ``best_offset`` is the
    offset (frame_idx_a - frame_idx_b) with the most matches
    (smallest offset on ties), ``offset_matched`` its count; ``n_a`` /
    ``n_b`` are each side's sampled-frame totals so callers threshold on
    coverage (e.g. offset_matched / least(n_a, n_b)).

    Scale shape: one shuffle on the 16-byte signature builds the
    inverted index; a ``max_bucket`` occupancy cap drops degenerate
    signatures (black frames / test patterns) before the self-join can
    go quadratic — the same skew discipline as every banded-dedup
    pipeline here.  Frame rows are slim (id, int, digest); payloads
    never enter.
    """
    from myrecommendsystem_spark.functions.caching import eager_release

    # three consumers (counts, both join sides) — one Arrow kernel pass,
    # not three decode passes over the payloads
    frames = frames.persist()
    counts = frames.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_frames_sampled")
    )
    rows = frames.withColumnRenamed("media_id", "id")
    per_offset = (
        bucket_pairs(cap_buckets(rows, ["fsig"], max_bucket), ["fsig"])
        .groupBy(
            "id_a",
            "id_b",
            (F.col("frame_idx_a") - F.col("frame_idx_b")).alias("offset"),
        )
        .agg(F.count(F.lit(1)).cast("int").alias("cnt"))
    )
    pairs = (
        per_offset.groupBy("id_a", "id_b")
        .agg(
            F.sum("cnt").cast("int").alias("n_matched"),
            F.max(
                F.struct(
                    F.col("cnt"), (-F.col("offset")).alias("noff")
                )
            ).alias("m"),
        )
        .filter(F.col("n_matched") >= min_matched)
        .select(
            "id_a",
            "id_b",
            "n_matched",
            (-F.col("m.noff")).cast("int").alias("best_offset"),
            F.col("m.cnt").cast("int").alias("offset_matched"),
        )
    )
    result = (
        pairs.join(
            counts.select(
                F.col("media_id").alias("id_a"),
                F.col("n_frames_sampled").alias("n_a"),
            ),
            "id_a",
        )
        .join(
            counts.select(
                F.col("media_id").alias("id_b"),
                F.col("n_frames_sampled").alias("n_b"),
            ),
            "id_b",
        )
        .select(
            F.col("id_a").cast("bigint"),
            F.col("id_b").cast("bigint"),
            "n_matched",
            "best_offset",
            "offset_matched",
            "n_a",
            "n_b",
        )
    )
    return eager_release(result, frames)
