"""Multimodal-column queries — binary payloads + typed metadata.

The media table is synthesized deterministically from ``documents``
(``operators.multimodal.synthesize_media``), so the metadata/pruning
surface is fully oracle-backed — and because the STUB decode is
deterministic byte tiling, the decode-dependent stages (features, frame
sampling) are hash-gated too, in closed form.  Swapping the stub for a
real codec (PIL/libav) returns those two to rows-only; the stub is also
property-tested in tests/test_multimodal.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from myrecommendsystem_spark.functions.compat import sql_round_stable
from myrecommendsystem_spark.io import readers
from myrecommendsystem_spark.operators import multimodal
from myrecommendsystem_spark.plans.registry import register


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.synthesize_media(
        readers.load_table(spark, sf_dir, "documents")
    )


@register(
    "media_metadata",
    """
SELECT CAST(doc_id AS BIGINT) AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'video' ELSE 'image' END AS kind,
       CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
       CAST(doc_id % 48 + 16 AS INTEGER) AS width,
       CAST((doc_id * 7) % 48 + 16 AS INTEGER) AS height,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS INTEGER) AS channels,
       CASE WHEN doc_id % 3 = 0 THEN 'rawv' ELSE 'rawi' END AS format,
       CAST(CASE WHEN doc_id % 3 = 0 THEN doc_id % 8 + 2 ELSE 1 END AS INTEGER)
           AS n_frames
FROM documents
""",
    doc="multimodal metadata surface: binary payload length + typed meta "
    "struct, fully relational — the layer scan-time pruning runs on",
)
def media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _media(spark, sf_dir)
    return m.select(
        "media_id",
        "kind",
        F.octet_length("payload").alias("n_bytes"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.channels").alias("channels"),
        F.col("meta.format").alias("format"),
        F.col("meta.n_frames").alias("n_frames"),
    )


@register(
    "media_image_features",
    f"""
WITH m AS (
    -- image rows passing the width >= 32 metadata prune, with the
    -- payload's byte codes (ASCII corpus: chars == bytes)
    SELECT doc_id, length(text) AS L,
           CASE WHEN length(text) = 0 THEN [0]
                ELSE [ord(ch) for ch in regexp_split_to_array(text, '')]
           END AS codes,
           (doc_id % 48 + 16)
             * ((doc_id * 7) % 48 + 16)
             * (CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END) AS n
    FROM documents
    WHERE doc_id % 3 != 0 AND (doc_id % 48 + 16) >= 32
),
vals AS (
    -- the stub decode tiles the payload to n pixels: closed form over
    -- full repetitions + the leading remainder slice
    SELECT doc_id, L, n,
           (n // greatest(len(codes), 1)) * list_sum(codes)
             + COALESCE(list_sum(codes[1:(n % greatest(len(codes), 1))]), 0)
               AS s_tiled,
           (n // greatest(len(codes), 1))
               * len(list_filter(codes, x -> x < 16))
             + len(list_filter(codes[1:(n % greatest(len(codes), 1))],
                               x -> x < 16)) AS c_bin0
    FROM m
)
SELECT CAST(doc_id AS BIGINT) AS media_id,
       CAST(L AS INTEGER) AS n_bytes,
       {sql_round_stable('CAST(s_tiled AS DOUBLE) / n', 4)} AS mean_intensity,
       CAST(c_bin0 AS BIGINT) AS hist_bin0,
       CAST(n AS BIGINT) AS hist_total
FROM vals
""",
    doc="decode + feature-extract via mapInPandas (Arrow batches → numpy): "
    "mean intensity + 16-bin histogram; metadata filter (width >= 32) "
    "prunes BEFORE the decode stage.  Upgraded rows-only → hash-gated: "
    "the stub decode is deterministic byte tiling, so the oracle "
    "computes the tiled sum / bin-0 count in closed form (full "
    "repetitions + remainder slice); hist_total == pixel count by "
    "construction.  Swapping the stub for a real codec returns this "
    "query to rows-only — the plumbing contract is what's pinned",
)
def media_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _media(spark, sf_dir).filter(
        (F.col("kind") == "image") & (F.col("meta.width") >= 32)
    )
    feats = multimodal.image_features(m)
    return feats.select(
        "media_id",
        "n_bytes",
        "mean_intensity",
        F.element_at("histogram", 1).alias("hist_bin0"),
        F.aggregate(
            "histogram", F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("hist_total"),
    )


@register(
    "media_frame_sample",
    """
WITH v AS (
    SELECT doc_id, length(text) AS L,
           CASE WHEN length(text) = 0 THEN [0]
                ELSE [ord(ch) for ch in regexp_split_to_array(text, '')]
           END AS codes,
           (doc_id % 48 + 16)
             * ((doc_id * 7) % 48 + 16)
             * (CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END) AS n,
           (doc_id % 8 + 2) AS n_frames
    FROM documents
    WHERE doc_id % 3 = 0
),
s AS (
    SELECT doc_id, n, n_frames,
           (n // greatest(len(codes), 1)) * list_sum(codes)
             + COALESCE(list_sum(codes[1:(n % greatest(len(codes), 1))]), 0)
               AS s_tiled
    FROM v
)
SELECT CAST(doc_id AS BIGINT) AS media_id,
       CAST(fi AS INTEGER) AS frame_idx,
       CAST(s_tiled + fi * n AS BIGINT) AS frame_checksum
FROM s, unnest(range(0, n_frames, 2)) AS t(fi)
""",
    doc="video frame sampling via mapInPandas: every 2nd frame index + "
    "per-frame checksum, exploded one-row-per-frame.  Upgraded "
    "rows-only → hash-gated: the fake per-frame decode is "
    "(tiled + frame_idx) mod 256 — ASCII payload bytes are <= 127 and "
    "frame offsets <= 8, so the mod never wraps and the checksum is "
    "the closed form tiled_sum + frame_idx * n_pixels (documented "
    "corpus assumption, same ASCII family as the RK oracles)",
)
def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.sample_frames(_media(spark, sf_dir), every_k=2)


@register(
    "media_dedup_exact",
    """
SELECT md5(text) AS fp,  -- payload IS the utf-8 text bytes; VARCHAR md5 hashes the same bytes
       CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS dup_cnt,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes
FROM documents
GROUP BY fp
ORDER BY fp
""",
    doc="binary-payload exact dedup: md5 over the raw media BYTES "
    "(never a decode) grouped to clone sets — keep_id = min media_id "
    "survivor, plus the reclaimable byte volume per group.  The same "
    "one-hash-groupBy discipline as dedup_exact_groups applied to the "
    "multimodal column: at 100 TB only 16-byte digests shuffle, the "
    "payloads never move",
    defer=True,
)
def media_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _media(spark, sf_dir)
    return (
        media.groupBy(F.md5("payload").alias("fp"))
        .agg(
            F.min("media_id").cast("bigint").alias("keep_id"),
            F.count(F.lit(1)).cast("bigint").alias("dup_cnt"),
            F.sum(F.octet_length("payload")).cast("bigint").alias(
                "total_bytes"
            ),
        )
        .orderBy("fp")
    )


# ---------------------------------------------------------------------------
# Media NEAR-dup: perceptual dHash, banded like SimHash
# ---------------------------------------------------------------------------

_P2 = "[" + ",".join(f"{1 << b}::HUGEINT" for b in range(64)) + "]"
_P8 = "[" + ",".join(f"{1 << (8 * b)}::HUGEINT" for b in range(8)) + "]"

# Fingerprint banding + hamming verify, shared by every 64-bit
# perceptual-fingerprint modality (image dHash, audio HK): takes a
# ``fps(doc_id, fp_u HUGEINT)`` CTE and yields ``npairs(id_a, id_b,
# hamming)`` — 8 byte-bands, max_bucket skew cap, bit_count(xor) <= 16
# verify, mirroring dedup.fingerprint_near_duplicates.
_FP_BANDING_CTES = f"""
banded AS (
    SELECT doc_id, band_idx,
           CAST((fp_u // ({_P8})[band_idx+1]) % 256 AS BIGINT) AS band_val,
           fp_u
    FROM fps CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS band_idx)
),
ok AS (
    SELECT band_idx, band_val, doc_id, fp_u FROM banded
    QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_val) <= 1000
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           a.fp_u AS ua, b.fp_u AS ub
    FROM ok a JOIN ok b ON a.band_idx = b.band_idx
                       AND a.band_val = b.band_val AND a.doc_id < b.doc_id
),
signed AS (
    SELECT id_a, id_b,
           CASE WHEN ua >= 9223372036854775808::HUGEINT
                THEN CAST(ua - 18446744073709551616::HUGEINT AS BIGINT)
                ELSE CAST(ua AS BIGINT) END AS sa,
           CASE WHEN ub >= 9223372036854775808::HUGEINT
                THEN CAST(ub - 18446744073709551616::HUGEINT AS BIGINT)
                ELSE CAST(ub AS BIGINT) END AS sb
    FROM cand
),
npairs AS MATERIALIZED (
    SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
    FROM signed WHERE bit_count(xor(sa, sb)) <= 16
)
""".strip()

# dHash twin in closed form over the stub decode (the
# media_image_features technique): tiled pixel (y, x, ch) is
# codes[((y*w + x)*c + ch) % L]; grayscale is the integer channel SUM
# (exact in both engines — the compared pixels share c); the 8x9
# nearest-neighbor grid is (i*in)//out; bit b (row r=b//8, col j=b%8)
# compares columns j and j+1 and contributes 2^(63-b).
_DHASH_CTES = f"""
m AS MATERIALIZED (
    SELECT doc_id,
           doc_id % 48 + 16 AS w,
           (doc_id * 7) % 48 + 16 AS h,
           CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS c,
           CASE WHEN length(text) = 0 THEN [0]
                ELSE [ord(ch) for ch in regexp_split_to_array(text, '')]
           END AS codes
    FROM documents
),
fps AS MATERIALIZED (
    SELECT doc_id,
           list_sum([
             CASE WHEN
               list_sum([ codes[(((((b//8)*h)//8)*w + (((b%8)*w)//9)) * c + ch)
                                % len(codes) + 1]
                          for ch in generate_series(0, c-1) ])
               <
               list_sum([ codes[(((((b//8)*h)//8)*w + ((((b%8)+1)*w)//9)) * c + ch)
                                % len(codes) + 1]
                          for ch in generate_series(0, c-1) ])
             THEN ({_P2})[64 - b] ELSE 0::HUGEINT END
             for b in generate_series(0, 63) ]) AS fp_u
    FROM m
),
{_FP_BANDING_CTES}""".strip()


@register(
    "media_near_dup_pairs",
    f"""
WITH {_DHASH_CTES}
SELECT id_a, id_b, hamming FROM npairs
ORDER BY id_a, id_b
""",
    doc="image NEAR-dup pairs: perceptual difference-hash per image "
    "(operators/multimodal.image_dhash — decode, integer-gray, 9x8 "
    "nearest resize, adjacent-pixel bits packed to one signed BIGINT) "
    "through the SimHash banding pipeline "
    "(dedup.fingerprint_near_duplicates: 8 byte-bands, max_bucket skew "
    "cap, bit_count(xor) <= 16 verify).  The missing modality in the "
    "dedup story (text MinHash/SimHash + embedding LSH existed; media "
    "did not): at 100 TB only 8-byte fingerprints shuffle, payloads "
    "never move after the one decode pass.  Oracle recomputes the "
    "dHash in closed form over the stubbed tiled decode "
    "(media_image_features precedent) and replays banding + verify "
    "(dedup_simhash_pairs precedent); a real codec swap returns this "
    "to rows-only",
    defer=True,
    since=9,
)
def media_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators import dedup

    fp = multimodal.image_dhash(_media(spark, sf_dir)).select(
        F.col("media_id").alias("id"), F.col("dhash").alias("fp")
    )
    return dedup.fingerprint_near_duplicates(fp, max_hamming=16).orderBy(
        "id_a", "id_b"
    )


@register(
    "media_dedup_survivors",
    f"""
WITH RECURSIVE {_DHASH_CTES},
edges2 AS (
    SELECT id_a AS src, id_b AS dst FROM npairs
    UNION SELECT id_b, id_a FROM npairs
),
reach AS (
        SELECT src AS a, src AS b FROM edges2
    UNION
        SELECT src, dst FROM edges2
    UNION
        SELECT r2.a, ed.dst FROM reach r2 JOIN edges2 ed ON ed.src = r2.b
),
comp AS (SELECT a AS id, MIN(b) AS comp FROM reach GROUP BY a),
csize AS (
    SELECT comp, CAST(COUNT(*) AS INTEGER) AS cluster_size
    FROM comp GROUP BY comp
)
SELECT CAST(c.id AS BIGINT) AS media_id, s.cluster_size
FROM comp c JOIN csize s ON c.comp = s.comp
WHERE c.id = c.comp
UNION ALL
SELECT CAST(doc_id AS BIGINT) AS media_id, CAST(1 AS INTEGER) AS cluster_size
FROM documents WHERE doc_id NOT IN (SELECT id FROM comp)
ORDER BY media_id
""",
    doc="media dedup keep-list: dHash near-dup pairs -> connected "
    "components (dedup.connected_components min-label propagation) -> "
    "one min-id survivor per perceptual cluster with its cluster size, "
    "singletons riding along at size 1 — the "
    "hyperplane_semantic_survivors shape applied to the image "
    "modality.  Oracle: the shared closed-form dHash CTEs + the "
    "RECURSIVE reachability closure (embedding_semantic_survivors "
    "precedent, MATERIALIZED hints on the recursion-feeding CTEs)",
    defer=True,
    since=9,
)
def media_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators import dedup

    media = _media(spark, sf_dir)
    fp = multimodal.image_dhash(media).select(
        F.col("media_id").alias("id"), F.col("dhash").alias("fp")
    )
    pairs = dedup.fingerprint_near_duplicates(fp, max_hamming=16)
    return dedup.min_id_keep_list(pairs, media.select("media_id"), "media_id")


# ---------------------------------------------------------------------------
# Audio near-dup: Haitsma–Kalker fingerprint, same banding
# ---------------------------------------------------------------------------

# Closed-form twin of operators/multimodal.audio_fingerprint over the stub
# decode: the waveform is the payload tiled to n = doc_id % 96 + 32
# samples; boundary k (0..81, f=k//9, b=k%9) is start(f) + (b*flen)//9
# with start(f) = (f*n)//9; E[j] (1-based, j = f*9+b+1) is the integer
# sample sum of slice j; bit i (f=i//8+1, b=i%8) tests whether the
# adjacent-band difference D(f,b) = E(f,b)-E(f,b+1) grew vs frame f-1.
_AFP_CTES = f"""
am AS MATERIALIZED (
    SELECT doc_id,
           doc_id % 96 + 32 AS n,
           CASE WHEN length(text) = 0 THEN [0]
                ELSE [ord(ch) for ch in regexp_split_to_array(text, '')]
           END AS codes
    FROM documents
),
aw AS MATERIALIZED (
    SELECT doc_id, n,
           [ codes[(i % len(codes)) + 1] for i in generate_series(0, n - 1) ]
               AS w
    FROM am
),
ab AS (
    SELECT doc_id, n, w,
           [ ((k//9)*n)//9
             + ((k%9) * ((((k//9)+1)*n)//9 - ((k//9)*n)//9)) // 9
             for k in generate_series(0, 81) ] AS bnd
    FROM aw
),
ae AS MATERIALIZED (
    SELECT doc_id,
           [ COALESCE(list_sum(w[bnd[j] + 1 : bnd[j + 1]]), 0)
             for j in generate_series(1, 81) ] AS e
    FROM ab
),
fps AS MATERIALIZED (
    SELECT doc_id,
           list_sum([
             CASE WHEN (e[(i//8+1)*9 + (i%8) + 1] - e[(i//8+1)*9 + (i%8) + 2])
                     > (e[(i//8)*9 + (i%8) + 1] - e[(i//8)*9 + (i%8) + 2])
                  THEN ({_P2})[64 - i] ELSE 0::HUGEINT END
             for i in generate_series(0, 63) ]) AS fp_u
    FROM ae
),
{_FP_BANDING_CTES}""".strip()


@register(
    "audio_near_dup_pairs",
    f"""
WITH {_AFP_CTES}
SELECT id_a, id_b, hamming FROM npairs
ORDER BY id_a, id_b
""",
    doc="audio NEAR-dup pairs: Haitsma-Kalker acoustic fingerprint per "
    "clip (operators/multimodal.audio_fingerprint — decode, 9 frames x "
    "9 band energies on the (i*n)//k grid, bit(f,b) = adjacent-band "
    "difference grew vs previous frame, 64 bits packed to one signed "
    "BIGINT) through the SAME banding pipeline as image dHash and text "
    "SimHash (dedup.fingerprint_near_duplicates: 8 byte-bands, "
    "max_bucket cap, bit_count(xor) <= 16 verify).  Completes the "
    "modality matrix: text, embedding, image, and now audio all dedup "
    "through one shuffle-on-(band, value) discipline — at 100 TB only "
    "8-byte fingerprints move, payloads are read once.  Oracle "
    "recomputes the fingerprint in closed form over the stubbed tiled "
    "decode (prefix-free slice sums over the materialized sample list; "
    "stub-small n = doc_id % 96 + 32 keeps the twin cheap) and replays "
    "the shared banding CTEs; a real codec swap (FFT band energies) "
    "returns this to rows-only",
    defer=True,
    since=9,
)
def audio_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators import dedup

    audio = multimodal.synthesize_audio(
        readers.load_table(spark, sf_dir, "documents")
    )
    fp = multimodal.audio_fingerprint(audio).select(
        F.col("media_id").alias("id"), F.col("afp").alias("fp")
    )
    return dedup.fingerprint_near_duplicates(fp, max_hamming=16).orderBy(
        "id_a", "id_b"
    )


# Closed-form twin of operators/multimodal.frame_signatures over the stub
# decode: the canonical 64-pixel strip is the payload tiled (codes[(i %
# L) + 1]); frame fi's signature is md5 over the ','-joined decimal
# values of (strip + fi) % 256.  ASCII corpus bytes are <= 127 and frame
# offsets <= 8, so the mod never wraps (media_frame_sample precedent).
_VSIG_CTES = """vm AS (
    SELECT doc_id, doc_id % 8 + 2 AS n_frames,
           CASE WHEN length(text) = 0 THEN [0]
                ELSE [ord(ch) for ch in regexp_split_to_array(text, '')]
           END AS codes
    FROM documents
    WHERE doc_id % 3 = 0
),
vc AS (
    SELECT doc_id, n_frames,
           [ codes[(i % len(codes)) + 1]
             for i in generate_series(0, 63) ] AS canon
    FROM vm
),
vf AS MATERIALIZED (
    SELECT doc_id, fi,
           md5(array_to_string([ (c + fi) % 256 for c in canon ], ','))
               AS fsig
    FROM vc, unnest(range(0, n_frames, 2)) AS t(fi)
),
vn AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS nf FROM vf GROUP BY doc_id),
occ AS (SELECT fsig FROM vf GROUP BY fsig HAVING COUNT(*) <= 64),
vfc AS (SELECT vf.* FROM vf JOIN occ USING (fsig)),
po AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           a.fi - b.fi AS off, CAST(COUNT(*) AS INTEGER) AS cnt
    FROM vfc a JOIN vfc b ON a.fsig = b.fsig AND a.doc_id < b.doc_id
    GROUP BY 1, 2, 3
),
pr AS (
    SELECT id_a, id_b,
           CAST(SUM(cnt) OVER (PARTITION BY id_a, id_b) AS INTEGER)
               AS n_matched,
           off, cnt,
           ROW_NUMBER() OVER (
               PARTITION BY id_a, id_b ORDER BY cnt DESC, off ASC
           ) AS rn
    FROM po
)""".strip()


@register(
    "video_near_dup_pairs",
    f"""
WITH {_VSIG_CTES}
SELECT CAST(pr.id_a AS BIGINT) AS id_a,
       CAST(pr.id_b AS BIGINT) AS id_b,
       pr.n_matched,
       CAST(pr.off AS INTEGER) AS best_offset,
       pr.cnt AS offset_matched,
       na.nf AS n_a, nb.nf AS n_b
FROM pr
JOIN vn na ON na.doc_id = pr.id_a
JOIN vn nb ON nb.doc_id = pr.id_b
WHERE pr.rn = 1
ORDER BY id_a, id_b
""",
    doc="video NEAR-dup pairs: per-frame perceptual signatures "
    "(operators/multimodal.frame_signatures — decode, canonical-strip "
    "normalize, md5 per sampled frame) matched through a frame-level "
    "inverted index with offset consistency "
    "(multimodal.video_near_dup_pairs): matches concentrated at one "
    "frame-index offset are the clip/shifted-re-encode signal.  "
    "Completes the near-dup modality matrix at the VIDEO level (image "
    "dHash, audio Haitsma-Kalker, text MinHash/SimHash, embedding LSH "
    "existed; multi-frame video did not).  At 100 TB only (id, int, "
    "16-byte digest) frame rows shuffle — one signature-keyed exchange "
    "with the standard max_bucket occupancy cap before the self-join, "
    "payloads read once.  Oracle recomputes the stub signatures in "
    "closed form (tiled canonical strip, media_frame_sample precedent) "
    "and replays the inverted-index/offset aggregation; a real codec "
    "swap returns this to rows-only",
    defer=True,
    since=10,
)
def video_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = multimodal.frame_signatures(_media(spark, sf_dir), every_k=2)
    return multimodal.video_near_dup_pairs(frames).orderBy("id_a", "id_b")
