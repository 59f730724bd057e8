"""Text analysis functions — tokenize, quality, language-ID, fingerprints.

LLM-data-pipeline extensions beyond the reference's surface.  Tokenizing,
scoring, shingling, PII scrubbing and the relational operators are
Catalyst expressions (split / zip_with / aggregate / regexp) that run
JVM-side under codegen.  The byte- and hash-level kernels (MinHash,
Rabin-Karp rolling and winnowed fingerprints, SimHash votes, content-
defined chunking, hashing embeddings, compression ratio) are Arrow-batched
pandas UDFs over numpy, one kernel per fingerprint decision.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.column import Column
from pyspark.sql.functions import pandas_udf

# Tiny per-language stopword lists for the n-gram/stopword language
# heuristic.  Deliberately small: the point is the operator shape
# (array_intersect scoring per language), not lexicographic completeness.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es": ("el", "la", "de", "y", "que", "en", "un", "una", "los", "las"),
    "fr": ("le", "la", "de", "et", "que", "en", "un", "une", "les", "des"),
    "de": ("der", "die", "das", "und", "zu", "in", "ein", "eine", "ist", "nicht"),
}

PUNCT_CLASS = r"[.,!?;:'\"()\[\]{}<>/\\|@#$%^&*+=~`-]"

# BPE-ish word/number/punct splitter: letters runs, digit runs, single
# punctuation marks — the usual pre-tokenization regex family.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text: Column) -> Column:
    """Whitespace tokens of lowercased, trimmed text."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def token_count(text: Column) -> Column:
    """Whitespace token count (empty text → 0)."""
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(tokens(text))
    )


def bpe_ish_tokens(text: Column) -> Column:
    """Sub-word-ish tokens: letter runs / digit runs / single punct marks.

    ``regexp_extract_all`` keeps this JVM-side; a real BPE vocabulary would
    be a broadcast-joined merge table, out of scope for parity.
    """
    return F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0)


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are punctuation."""
    stripped = F.regexp_replace(text, PUNCT_CLASS, "")
    return F.when(F.length(text) == 0, F.lit(0.0)).otherwise(
        (F.length(text) - F.length(stripped)) / F.length(text).cast("double")
    )


def mean_token_len(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        total / F.size(toks).cast("double")
    )


def quality_score(text: Column) -> Column:
    """Heuristic document quality in [0,1]: length + structure signals.

    Mirrors the usual pretraining-corpus filters (Gopher/C4-style rules):
    penalize very short docs, punctuation-heavy docs, and token-length
    pathologies.  Weights are illustrative; the operator shape (pure
    column expression, filterable/pushable) is the point.
    """
    n_tok = token_count(text).cast("double")
    len_score = F.least(n_tok / 100.0, F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(text) * 4.0)
    mtl = mean_token_len(text)
    shape_score = F.when((mtl >= 3.0) & (mtl <= 10.0), 1.0).otherwise(0.5)
    return len_score * 0.5 + punct_pen * 0.25 + shape_score * 0.25


def _membership(words: tuple[str, ...]):
    """Single-arg lambda factory (PySpark lambdas must have arity 1 or 2 —
    a default-arg capture would be mistaken for the index parameter)."""
    arr = F.array(*[F.lit(w) for w in words])
    return lambda t: F.array_contains(arr, t)


def lang_scores(text: Column) -> Column:
    """Per-language stopword-hit counts as array<struct<lang, hits>>."""
    toks = tokens(text)
    pairs = [
        F.struct(
            F.lit(lang).alias("lang"),
            F.size(F.filter(toks, _membership(tuple(words)))).alias("hits"),
        )
        for lang, words in LANG_STOPWORDS.items()
    ]
    return F.array(*pairs)


def predicted_lang(text: Column) -> Column:
    """argmax language by stopword hits; 'und' (undetermined) when no hits.

    array_max on struct(hits, lang) picks highest hits with a
    deterministic tie-break to the lexicographically GREATEST language
    — note this is the OPPOSITE of :func:`language_id_table` (and of
    the doc_lang_id oracle convention), which break ties to the FIRST
    language.  On NULL text the hits are NULL, every struct ties on the
    NULL field, and the ``<= 0`` guard is NULL (not true) — so this
    form returns the greatest language name outright ('fr' with the
    current lexicon) where the relational form returns 'und'.
    Oracle-gated paths (the quality model's ``label_documents``,
    ``doc_langid_confusion``) therefore use the relational form; this
    per-row expression remains for ad-hoc projections where a join is
    unwarranted.  Tie/NULL divergence pinned in
    tests/test_text_dedup.py::test_language_id_tie_and_null_semantics.
    """
    scored = F.transform(
        lang_scores(text),
        lambda s: F.struct(s.getField("hits").alias("hits"), s.getField("lang").alias("lang")),
    )
    best = F.array_max(scored)
    return F.when(best.getField("hits") <= 0, F.lit("und")).otherwise(
        best.getField("lang")
    )


def language_id_table(
    docs, id_col: str = "doc_id", text_col: str = "text"
):
    """Relational language-ID: (id, predicted_lang) for a documents table.

    The set-oriented form of :func:`predicted_lang`: explode tokens,
    broadcast-join the stopword lexicon, count hits per (doc, lang),
    window-argmax.  Every stage is codegen (the per-row
    ``filter(array_contains)`` expression version evaluates interpreted
    per token×language — measured ~4.5 s vs ~1 s at sf0.1).  Ties break
    to the lexicographically first language; zero hits → 'und'.
    """
    from pyspark.sql import Window

    spark = docs.sparkSession
    lex = spark.createDataFrame(
        [(lang, w) for lang, words in LANG_STOPWORDS.items() for w in words],
        "lang string, tok string",
    )
    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    hits = toks.join(F.broadcast(lex), "tok").groupBy(id_col, "lang").count()
    w = Window.partitionBy(id_col).orderBy(F.col("count").desc(), F.col("lang"))
    best = (
        hits.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select(id_col, "lang")
    )
    return (
        docs.select(id_col)
        .join(best, id_col, "left")
        .select(
            id_col, F.coalesce(F.col("lang"), F.lit("und")).alias("predicted_lang")
        )
    )


def exact_fingerprint(text: Column) -> Column:
    """Normalization-stable exact-dup fingerprint (md5 of squashed text).

    md5 (not xxhash64) so the DuckDB oracle can reproduce it bit-for-bit.
    """
    normalized = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.md5(normalized)


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles; short docs fall back to whole text.

    Built as an n-way zip-fold over shifted slices — NOT
    ``transform(sequence, i -> slice(toks, i, n))``: an expression
    referenced inside a HOF lambda body is re-evaluated per element
    (no common-subexpression elimination there), so the slice form
    re-tokenizes the whole document PER GRAM — O(W²) per doc, the same
    defect class as a per-element char pass in a HOF.  Here ``toks``
    appears only as a zip_with/slice ARGUMENT (n evaluations per row)
    and the lambdas touch only their own variables.  Output-identical:
    zip_with pads the shorter slice with NULL and concat_ws skips
    NULLs, which reproduces the short-doc whole-text fallback.

    NULL text has no grams: slice/zip_with propagate the NULL, so
    ``explode`` emits no row for it — the DuckDB twin's rule
    (``plans/text_queries._SHINGLES_CTE``).  Empty or all-blank text
    is the single empty gram ``['']``.  The one relational shingler:
    n-gram Jaccard, decontamination and the boilerplate listing all
    explode it."""
    toks = tokens(text)
    length = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    grams = F.slice(toks, 1, length)
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, 1 + j, length),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.array_distinct(grams)


_MINHASH_SEED = 0x5EED
# LCG constants of the band fold: band j of a signature is the LCG mix of
# its rows j·r .. j·r+r-1, so a band key is one int64.
_MIX_A = np.int64(6364136223846793005)
_MIX_B = np.int64(1442695040888963407)


def _affine_params(k: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = (rng.randint(1, 1 << 62, size=k, dtype=np.int64) << 1) | 1  # odd
    b = rng.randint(0, 1 << 62, size=k, dtype=np.int64)
    return a, b


def _gram_list_py(text: str, n: int) -> list[str]:
    """Distinct word n-grams of one doc, sorted (lowercase, whole-text
    fallback for docs of ≤ n tokens; empty text → the single empty gram).

    Tokenizes with ``str.split()``, the MinHash oracle's
    ``list_filter(... x != '')`` twin — not :func:`shingles`'
    ``split(trim(t), '\\s+')``, which keeps a leading empty token when
    text starts with a tab or newline.  Each gram list matches its own
    DuckDB twin, so the two stay apart."""
    toks = text.lower().split()
    if len(toks) > n:
        return sorted({" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)})
    return [" ".join(toks)]


_RK_BASE = 257
_RK_MOD = (1 << 31) - 1

# Grams hashed per padded-matrix segment: bounds the Horner pass's
# temporary (segment × max-gram-width uint8 matrix + int64 index
# vectors) to a few MB regardless of Arrow batch size — the same
# bounded-segment discipline as rolling_fingerprints.
_GRAM_SEG = 1 << 15


def _hash_grams_flat(grams: list[str]) -> np.ndarray:
    """Rabin-Karp 31-bit hash of every gram string → int64 array.

    Horner over UTF-8 bytes, base 257 mod 2³¹−1 — the SAME deterministic
    modular family as :func:`rolling_fingerprints`, chosen so a DuckDB
    oracle can recompute shingle hashes exactly (``list_reduce`` Horner)
    and hash-gate the MinHash pipeline end-to-end; pandas' keyed siphash
    (the previous hash) is not reproducible in SQL.  31-bit range costs
    ~|grams|²/2³² collisions per corpus — immaterial next to the LSH
    approximation itself.  Vectorized: each segment left-zero-pads its
    grams into one uint8 matrix (leading zeros don't change a Horner
    value) and runs max-width fused column steps at C speed.
    """
    out = np.empty(len(grams), dtype=np.int64)
    for s in range(0, len(grams), _GRAM_SEG):
        bufs = [g.encode("utf-8") for g in grams[s : s + _GRAM_SEG]]
        k = len(bufs)
        lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=k)
        m = int(lens.max()) if k else 0
        if m == 0:
            out[s : s + k] = 0
            continue
        flat = np.frombuffer(b"".join(bufs), dtype=np.uint8)
        row_ids = np.repeat(np.arange(k, dtype=np.int64), lens)
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        within = np.arange(flat.size, dtype=np.int64) - np.repeat(starts, lens)
        arr = np.zeros(k * m, dtype=np.uint8)
        arr[row_ids * m + (m - lens[row_ids]) + within] = flat
        arr = arr.reshape(k, m)
        acc = np.zeros(k, dtype=np.int64)
        if m < (1 << 24):
            # power-weighted lanes with ONE trailing modulo — each
            # term is ≤ 255·(2³¹−2) < 2³⁹, so int64 holds the full sum
            # through m ≈ 2²⁴ columns; one ``%`` replaces m of them
            # (identical residue, see _rk_hash_span).  Column-major
            # walk unchanged.
            for j in range(m):
                acc += arr[:, j].astype(np.int64) * pow(
                    _RK_BASE, m - 1 - j, _RK_MOD
                )
            acc %= _RK_MOD
        else:  # pathological multi-MB gram: the per-step-mod Horner fold
            for j in range(m):
                acc = (acc * _RK_BASE + arr[:, j]) % _RK_MOD
        out[s : s + k] = acc
    return out


def _shingle_hash_lists(texts: pd.Series, n: int) -> list[np.ndarray]:
    """Per-doc shingle-hash arrays for a whole Arrow batch: ONE fused
    gram build + ONE segmented Horner pass, then per-doc views.  NULL
    text has no grams (an empty array); every other text has ≥ 1."""
    gram_lists = [[] if t is None else _gram_list_py(t, n) for t in texts]
    counts = [len(g) for g in gram_lists]
    flat = _hash_grams_flat([g for gs in gram_lists for g in gs])
    offs = np.concatenate(([0], np.cumsum(counts)))
    return [flat[offs[i] : offs[i + 1]] for i in range(len(gram_lists))]


def _minhash_band_keys(
    hv: np.ndarray, a: np.ndarray, b: np.ndarray, band_ids: np.ndarray
) -> np.ndarray:
    """Banded MinHash keys of one doc's (non-empty) shingle hashes.

    The signature is the k min-permutations ``min(h·a_s + b_s)`` (odd
    ``a_s`` ⇒ a bijection on Z/2⁶⁴) as one dense numpy broadcast; band
    ``j`` folds signature rows ``j·r .. j·r+r-1`` with the LCG mix and
    then its own index, so different bands never share a bucket.  With
    one row per band (``band_ids.size == k``) each key is a bijective
    image of one signature row, so key agreement is signature agreement.
    """
    sig = (hv[None, :] * a[:, None] + b[:, None]).min(axis=1)
    rows = sig.reshape(band_ids.size, -1)
    acc = np.full(band_ids.size, _MIX_B, dtype=np.int64)
    for j in range(rows.shape[1]):
        acc = acc * _MIX_A + rows[:, j] + _MIX_B
    return acc * _MIX_A + band_ids


def minhash_bands_and_shingles(
    text: Column, k: int = 64, n: int = 3, bands: int = 16
) -> Column:
    """``struct<bands: array<long>, sh: array<long>>`` in ONE Arrow pass —
    the MinHash kernel.

    The near-dup pipeline needs both the banded LSH keys (candidate
    generation) and the raw shingle hashes (exact-Jaccard verify); one
    pass shares the shingle-hash array between both outputs, so each
    doc is tokenized and hashed once (see :func:`_hash_grams_flat` for
    the SQL-reproducible hash family).  Python, not a Catalyst
    ``transform``: interpreted higher-order lambdas per element were the
    measured bottleneck of the whole dedup pipeline.  NULL text has no
    grams, so both arrays are empty and the doc joins no bucket — the
    ``dedup_minhash_pairs`` oracle's rule.
    """
    assert k % bands == 0
    a, b = _affine_params(k, _MINHASH_SEED)
    band_ids = np.arange(bands, dtype=np.int64)

    @pandas_udf("struct<bands: array<long>, sh: array<long>>")
    def _both(texts: pd.Series) -> pd.DataFrame:
        out_b, out_s = [], []
        for hv in _shingle_hash_lists(texts, n):
            # empty hv ⇔ NULL text: no grams, so no bands either
            out_b.append(
                _minhash_band_keys(hv, a, b, band_ids) if hv.size else hv
            )
            out_s.append(hv)
        return pd.DataFrame({"bands": out_b, "sh": out_s})

    return _both(text)


def _rk_powers(window: int) -> np.ndarray:
    """RK-31 Horner weights ``257^(window-1-j) mod 2³¹−1``; the last
    ``n`` entries are the weights of an ``n``-byte window."""
    return np.array(
        [pow(_RK_BASE, window - 1 - j, _RK_MOD) for j in range(window)],
        dtype=np.int64,
    )


def _rk_hash_span(
    data: np.ndarray, powers: np.ndarray, window: int, s: int, e: int
) -> np.ndarray:
    """RK window hashes for positions ``[s, e)`` of a uint8 buffer —
    per-lane accumulation with ONE trailing modulo.  Each lane term is ≤ 255·(2³¹−2) < 2³⁹ and there are
    ``window`` of them, so the int64 accumulator stays < 2³⁹·window —
    no overflow through window ≈ 2²⁴ — and one final ``%`` replaces the
    ``window``-per-position modulos of the old matmul form (integer
    division was the dominant op; measured ~2× on the segment pass).
    Values are bit-identical: both forms reduce the same integer mod M.
    """
    L = e - s
    acc = np.zeros(L, dtype=np.int64)
    for j in range(window):
        acc += data[s + j : s + j + L].astype(np.int64) * int(powers[j])
    acc %= _RK_MOD
    return acc


_RK_SEG = 1 << 17  # window positions hashed per segment of the fused buffer


def _rk_window_hashes(texts: pd.Series, window: int) -> list[np.ndarray]:
    """Each doc's RK window hashes for a whole Arrow batch.

    All docs concatenate into one byte buffer, the segmented
    :func:`_rk_hash_span` pass hashes every window of it, and each doc
    slices its own span back out (views, no copies) — per-doc numpy
    dispatch dominated a doc-at-a-time loop on ~300-byte docs (measured
    ~2× on the sf0.1 corpus).  Cross-doc windows are never emitted (each
    slice stops ``window−1`` short of its doc's end); a doc shorter than
    ``window`` gets one hash of its whole text.  NULL text hashes as ''.

    The pass walks the buffer in segments of ``_RK_SEG`` positions so
    peak temporary memory is ~50 MB per task regardless of total batch
    bytes — a single whole-buffer expansion costs ~384 temp bytes per
    input byte, which at 10k multi-KB docs per Arrow batch is multi-GB
    and an executor OOM risk.
    """
    powers = _rk_powers(window)
    bufs = [(t or "").encode("utf-8") for t in texts]
    lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=len(bufs))
    data = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    hashes = np.empty(max(data.size - window + 1, 0), dtype=np.int64)
    for s in range(0, hashes.size, _RK_SEG):
        e = min(s + _RK_SEG, hashes.size)
        hashes[s:e] = _rk_hash_span(data, powers, window, s, e)
    offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
    out = []
    for off, n in zip(offs, lens):
        if n < window:  # rare path: one hash of the whole (short) text
            out.append(_rk_hash_span(data, powers[window - n :], n, off, off + 1))
        else:
            out.append(hashes[off : off + n - window + 1])
    return out


def rolling_fingerprints(text: Column, window: int = 16) -> Column:
    """Rabin-Karp rolling-hash fingerprints: one hash per byte window.

    The substring-level fingerprint family (vs. the document-level md5 and
    the token-level MinHash): two documents sharing any ``window``-byte
    run share a hash, which is the primitive for plagiarism-style overlap
    detection and content-defined chunking.  One Arrow-batched pass of
    :func:`_rk_window_hashes`; docs shorter than ``window`` (and NULL
    text) get one hash of the whole text.
    """

    @pandas_udf("array<long>")
    def _fp(texts: pd.Series) -> pd.Series:
        return pd.Series(_rk_window_hashes(texts, window))

    return _fp(text)


# A winnowing selection packs (hash, pos) into one BIGINT
# h·WINNOW_SHIFT + (WINNOW_MAXP − pos): RK-31 hashes are < 2³¹, so it
# fits in 62 bits and one int64 ``min`` picks min hash, then max pos.
WINNOW_SHIFT = 1 << 31
WINNOW_MAXP = (1 << 31) - 1


def winnowed_fingerprints(
    text: Column, window: int = 16, guarantee: int = 8
) -> Column:
    """Packed MOSS winnowing selections per document (array<long>):
    from the RK rolling hashes, the minimum of every run of
    ``guarantee`` consecutive window hashes, rightmost on ties —
    encoded h·2³¹ + (2³¹−1−pos) (``WINNOW_SHIFT`` / ``WINNOW_MAXP``) so
    one int64 ``min`` decides both the hash comparison and the
    tie-break.  Duplicates across overlapping runs are RETAINED — dedupe
    with ``array_distinct`` downstream (JVM-side, cheap) rather than
    per-doc ``np.unique`` here.

    Runs on the :func:`rolling_fingerprints` batch pass
    (:func:`_rk_window_hashes`) because the expression-level
    formulation — nested transforms slicing a lambda variable —
    evaluates HOFs interpreted per window: measured ~8 s at sf0.1 vs
    ~2 s end-to-end with this kernel, on identical output.  The
    winnowing itself is one ``sliding_window_view(...).min(axis=1)``
    per document.  Docs shorter than ``window`` (including empty
    STRINGS) select their single whole-text hash at pos 0; NULL text
    selects NOTHING — an empty array, so explode() consumers emit no
    rows for NULL docs, exactly like the SQL oracle's shingle expansion
    (a None→"" coercion would emit the empty-text hash for NULL, a row
    the oracle never produces).
    """

    @pandas_udf("array<long>")
    def _wfp(texts: pd.Series) -> pd.Series:
        out = []
        hashes = _rk_window_hashes(texts, window)
        for hv, isnull in zip(hashes, texts.isna().to_numpy()):
            if isnull:  # NULL text: no fingerprints (oracle parity)
                out.append(np.empty(0, dtype=np.int64))
                continue
            enc = hv * WINNOW_SHIFT + (
                WINNOW_MAXP - np.arange(hv.size, dtype=np.int64)
            )
            if hv.size < guarantee:  # one whole-sequence window
                out.append(enc.min(keepdims=True))
            else:
                out.append(
                    np.lib.stride_tricks.sliding_window_view(
                        enc, guarantee
                    ).min(axis=1)
                )
        return pd.Series(out)

    return _wfp(text)


def md5_hash64(col: Column) -> Column:
    """First 64 bits of md5 as a signed BIGINT — pure codegen.

    md5 (not xxhash64) for the same reason as :func:`exact_fingerprint`:
    DuckDB reproduces it bit-for-bit (fold the 16 hex chars), so every
    operator built on this hash is oracle-gateable.  conv() yields the
    unsigned decimal string; the DECIMAL(20,0) compare-and-subtract maps
    it to two's-complement int64.
    """
    u = F.conv(F.substring(F.md5(col), 1, 16), 16, 10).cast("decimal(20,0)")
    return (
        F.when(
            u >= F.lit("9223372036854775808").cast("decimal(20,0)"),
            u - F.lit("18446744073709551616").cast("decimal(21,0)"),
        )
        .otherwise(u)
        .cast("long")
    )


def simhash64(text: Column) -> Column:
    """64-bit SimHash fingerprint packed into ONE BIGINT.

    Tokens are hashed JVM-side (one :func:`md5_hash64` pass — md5 so
    the DuckDB oracle reproduces the fingerprint bit-for-bit); the
    per-bit ±1 vote tally runs as an Arrow-batched numpy
    ``unpackbits``/``packbits`` — same reasoning as
    :func:`minhash_bands_and_shingles`.  Packing into a single long (instead of
    an array<int> bit vector) is the scale move: banding becomes byte
    extraction (``shiftright & 0xFF``) and hamming distance becomes
    ``bit_count(a XOR b)`` — both whole-stage-codegen expressions, no
    per-element interpretation anywhere downstream.

    NULL text fingerprints to 0, like text with no tokens; pipelines
    that pair fingerprints drop NULL text first (no fingerprint row, as
    in the ``dedup_simhash_pairs`` oracle), or every NULL doc would pair
    with every other at hamming 0.
    """

    @pandas_udf("long")
    def _fp(hashes: pd.Series) -> pd.Series:
        out = np.zeros(len(hashes), dtype=np.int64)
        for i, h in enumerate(hashes):
            if h is None:  # NULL text → tokens() → NULL; fingerprint 0
                continue
            hv = np.asarray(h, dtype=np.int64)
            if hv.size == 0:
                continue
            bits = np.unpackbits(
                hv.astype(np.uint64).view(np.uint8).reshape(-1, 8),
                axis=1,
                bitorder="little",
            )
            votes = bits.astype(np.int32).sum(axis=0) * 2 - hv.size
            packed = np.packbits((votes >= 0).astype(np.uint8), bitorder="little")
            out[i] = packed.view(np.int64)[0]
        return pd.Series(out)

    return _fp(F.transform(tokens(text), lambda t: md5_hash64(t)))


def hamming64(fp_a: Column, fp_b: Column) -> Column:
    """Hamming distance between two packed 64-bit fingerprints."""
    return F.bit_count(fp_a.bitwiseXOR(fp_b))


def tfidf_top_terms(
    docs, k: int = 5, id_col: str = "doc_id", text_col: str = "text"
):
    """Top-k TF-IDF terms per document — the relational form.

    SURVEY.md §7.6 names TF-IDF as a text-analysis extension; the
    ``pyspark.ml.feature`` HashingTF/IDF pair buries terms behind feature
    hashing, so this uses the transparent relational pipeline instead:
    explode tokens → term frequency per (doc, term) → document frequency
    per term (one reusable aggregate) → smooth idf ``ln((N+1)/(df+1))+1``
    → window top-k.  Every stage is codegen; the doc-count N rides a
    1-row broadcast cross join, never a driver collect.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    ).filter(F.length("term") > 0)
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(
        F.count(F.lit(1)).cast("double").alias("__n_docs")
    )
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf")
            * (F.log((F.col("__n_docs") + 1) / (F.col("df") + 1)) + 1),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    from myrecommendsystem_spark.functions.compat import round_stable

    return (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .select(
            id_col,
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            round_stable(F.col("tfidf"), 4).alias("tfidf"),
            F.col("__r").cast("int").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# Cleaning / PII scrubbing — pure regexp expressions, JVM-side.
#
# Patterns deliberately use only syntax with identical semantics in Java
# regex (Spark) and RE2 (DuckDB oracle): character classes, bounded
# repetition, \b word boundaries, alternation.  No lookaround (RE2 has
# none), no backreferences.  Scrub ORDER matters (a URL contains dots an
# IP pattern could claim, and may embed an email-shaped userinfo) — both
# engines must apply: URL → EMAIL → IP → PHONE.
# ---------------------------------------------------------------------------

URL_PATTERN = r"https?://[^\s]+"
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_PATTERN = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PHONE_PATTERN = r"\+?[0-9][0-9() -]{6,}[0-9]"

_SCRUB_ORDER: tuple[tuple[str, str], ...] = (
    (URL_PATTERN, "<URL>"),
    (EMAIL_PATTERN, "<EMAIL>"),
    (IPV4_PATTERN, "<IP>"),
    (PHONE_PATTERN, "<PHONE>"),
)


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-category PII match counts (url/email/ip/phone) as int columns.

    Counted BEFORE scrubbing, each pattern independently on the raw text —
    counting after a prior substitution would undercount categories that
    overlap (an email inside a URL)."""
    return {
        "n_urls": F.size(F.regexp_extract_all(text, F.lit(URL_PATTERN), 0)),
        "n_emails": F.size(F.regexp_extract_all(text, F.lit(EMAIL_PATTERN), 0)),
        "n_ips": F.size(F.regexp_extract_all(text, F.lit(IPV4_PATTERN), 0)),
        "n_phones": F.size(F.regexp_extract_all(text, F.lit(PHONE_PATTERN), 0)),
    }


def scrub_pii(text: Column) -> Column:
    """Replace URLs, emails, IPv4s, and phone-shaped digit runs with typed
    placeholder tokens, in the fixed documented order."""
    out = text
    for pattern, token in _SCRUB_ORDER:
        out = F.regexp_replace(out, pattern, token)
    return out


def normalize_whitespace(text: Column) -> Column:
    """Collapse all whitespace runs (incl. control chars matched by \\s)
    to single spaces and trim the ends."""
    return F.trim(F.regexp_replace(text, r"\s+", " "))


def clean_text(text: Column) -> Column:
    """The standard pre-training scrub: PII placeholders, then whitespace
    normalization.  Pure Catalyst expression chain — codegen end-to-end,
    pushable through projections, zero Python."""
    return normalize_whitespace(scrub_pii(text))


def tfidf_cosine_pairs(
    docs,
    threshold: float = 0.3,
    max_df: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Sparse TF-IDF cosine near-dup pairs: (id_a, id_b, cos ≥ threshold).

    The SPARSE-vector member of the near-dup family (MinHash/SimHash/
    Jaccard/embedding-cosine are the others): docs are TF-IDF vectors
    over the capped vocabulary and pairs are scored by an
    inverted-index self-join on shared terms — the classic sparse
    similarity-search shape.  Fully relational, so the DuckDB oracle
    reproduces it exactly.

    Scale: a term occurring in D docs contributes D² candidate pairs, so
    the vocabulary keeps only terms with df ≤ ``max_df`` (the same
    stop-shingle guard ngram_jaccard_dedup_pairs uses — ubiquitous terms
    carry no discriminative weight AND blow up the join).  Cosine is
    computed over that capped vocabulary consistently: weights, norms,
    and dots all exclude high-df terms.  Doc count N rides a 1-row
    broadcast; every stage is codegen.
    """
    from myrecommendsystem_spark.functions.compat import round_stable

    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    ).filter(F.length("term") > 0)
    # tf feeds the df aggregate AND the weight join; w feeds norms AND both
    # self-join sides.  Persist both so the token explode runs once, not
    # once per consumer (the uncached plan re-exploded 6×).
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf")).persist()
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    vocab = df_.filter(F.col("df") <= max_df)
    n_docs = docs.select(F.count(F.lit(1)).cast("double").alias("__n"))
    w = (
        tf.join(vocab, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            (
                F.col("tf")
                * (F.log((F.col("__n") + 1) / (F.col("df") + 1)) + 1)
            ).alias("w"),
        )
        .persist()
    )
    norms = w.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(b, "term")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
    )
    na = norms.withColumnsRenamed({id_col: "id_a", "nrm": "na"})
    nb = norms.withColumnsRenamed({id_col: "id_b", "nrm": "nb"})
    out = (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            round_stable(
                F.col("dot") / (F.col("na") * F.col("nb")), 4
            ).alias("cos"),
        )
    )
    from myrecommendsystem_spark.functions.caching import eager_release

    return eager_release(out.filter(F.col("cos") >= threshold), tf, w)


def bm25_search(
    docs,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """BM25 keyword retrieval: top-``k`` docs for a bag of query terms —
    (doc_id, score, rnk).

    The lexical-retrieval complement to the dense (ANN) and sparse
    (TF-IDF cosine) paths: Robertson-style idf
    ``ln((N - df + ½)/(df + ½) + 1)`` with tf saturation ``k1`` and
    length normalization ``b``.  Query terms ride a broadcast join (a
    query is a handful of terms; the corpus posting lists never
    shuffle for it); N and avgdl ride a 1-row broadcast; the global
    top-k lowers to TakeOrderedAndProject, never a full sort.
    """
    from myrecommendsystem_spark.functions.compat import round_stable

    spark = docs.sparkSession
    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    ).filter(F.length("term") > 0)
    # doc length and avgdl DERIVE from tf (dl = Σ tf) instead of
    # re-exploding the corpus.  tf itself is NOT persisted: its consumers
    # are all cheap aggregates of an already-aggregated relation, and the
    # cache write was measured costlier than the recompute (1.2 s → 2.2 s
    # at sf0.1) — unlike tfidf_cosine_pairs, where the persisted relations
    # feed a self-join that would otherwise re-explode the corpus 6×.
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy(id_col).agg(F.sum("tf").cast("double").alias("dl"))
    stats = docs.select(F.count(F.lit(1)).cast("double").alias("__n")).crossJoin(
        dl.agg(F.avg("dl").alias("__avgdl"))
    )
    # explicit schema: createDataFrame([], [...]) cannot infer types, so
    # an empty query list must still build a valid (empty) term relation.
    # Each term appears once: a repeated query term must neither double
    # its df nor add its tf contribution twice.
    q = spark.createDataFrame(
        [(t,) for t in dict.fromkeys(query_terms)], "term string"
    )
    # document frequency of the QUERY terms only: the score consumes df
    # for terms surviving the tf⋈q broadcast join, so aggregating df over
    # the full vocabulary would shuffle every term's posting count to
    # compute a handful of values.  The result is |query| rows, so it
    # rides a broadcast into the score join instead of a sort-merge join
    # against tf.
    df_ = (
        tf.join(F.broadcast(q), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    scored = (
        tf.join(F.broadcast(q), "term")
        .join(F.broadcast(df_), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            (
                F.log(
                    (F.col("__n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                    + 1.0
                )
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1
                    * (1.0 - b + b * F.col("dl") / F.col("__avgdl"))
                )
            ).alias("s"),
        )
    )
    top = (
        scored.groupBy(id_col)
        .agg(round_stable(F.sum("s"), 4).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("score").desc(), F.col(id_col))
    return top.withColumn("rnk", F.row_number().over(w).cast("int"))


def cdc_cut_points(
    data: bytes, divisor: int = 64, window: int = 16, max_size: int = 256
) -> list[int]:
    """Final CDC cut positions ``[0, ..., len(data)]`` for one document —
    the pure per-doc kernel shared by :func:`content_defined_chunks`'
    Arrow pass and the oracle generator (plans/ann_oracles.py trains the
    RAG pipeline's quantizer on locally-recomputed chunks, so both paths
    MUST cut identically)."""
    arr = np.frombuffer(data, dtype=np.uint8)
    cuts = [0]
    if arr.size >= window:
        hs = _rk_hash_span(
            arr, _rk_powers(window), window, 0, arr.size - window + 1
        )
        # hs[i] covers bytes [i, i+window); boundary AFTER that
        bpos = np.nonzero(hs % divisor == divisor - 1)[0] + window
        last = 0
        for p in bpos:
            if p - last >= window:  # min chunk = one window
                cuts.append(int(p))
                last = int(p)

    def snap(p: int) -> int:
        # snap a cut BACK to a UTF-8 character start; applied at
        # cut-GENERATION time so chunk i's end and chunk i+1's start are
        # the SAME snapped position — no rune duplicated across chunks,
        # max_size never exceeded
        while p and (data[p] & 0xC0) == 0x80:
            p -= 1
        return p

    # max_size forced splits, then the tail; every appended cut is
    # pre-snapped and gaps are re-measured from the snapped point, so
    # the size cap holds by construction
    final, prev = [0], 0
    for p in cuts[1:] + [len(data)]:
        while p - prev > max_size:
            nxt = snap(prev + max_size)
            if nxt <= prev:  # pathological all-continuation run
                break
            prev = nxt
            final.append(prev)
        p = snap(p) if p != len(data) else p
        if p > prev and p != len(data):
            final.append(p)
            prev = p
    if len(data) and (not final or final[-1] != len(data)):
        final.append(len(data))
    return final


def content_defined_chunks(
    docs,
    divisor: int = 64,
    window: int = 16,
    max_size: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Content-defined chunking: (id, chunk_idx, chunk, n_bytes) — split
    each document where the Rabin-Karp rolling hash of the trailing
    ``window`` bytes hits the boundary pattern (``h % divisor ==
    divisor−1``), with a ``max_size`` forced split.

    THE property fixed-size splitting lacks: boundaries are functions of
    local CONTENT, so editing a document's head re-chunks only until the
    next surviving boundary and every later chunk is byte-identical —
    which is what makes chunk-level dedup/caching across crawl snapshots
    work (expected chunk size ≈ ``divisor`` bytes past each window).
    Arrow-batched kernel, one pass, no shuffle; emitted chunks are
    UTF-8-safe (boundaries snap back to character starts).
    """
    import pandas as _pd
    from pyspark.sql.functions import col as _col

    def _kernel(batches):
        for pdf in batches:
            ids, idxs, chunks, sizes = [], [], [], []
            for did, t in zip(pdf["id"], pdf["text"]):
                data = (t or "").encode("utf-8")
                final = cdc_cut_points(data, divisor, window, max_size)
                for ci in range(len(final) - 1):
                    a, b = final[ci], final[ci + 1]
                    ids.append(did)
                    idxs.append(ci)
                    chunks.append(data[a:b].decode("utf-8", errors="ignore"))
                    sizes.append(b - a)
            yield _pd.DataFrame(
                {"id": ids, "chunk_idx": idxs, "chunk": chunks, "n_bytes": sizes}
            )

    raw = docs.select(_col(id_col).alias("id"), _col(text_col).alias("text"))
    return raw.mapInPandas(
        _kernel, "id long, chunk_idx int, chunk string, n_bytes int"
    )


def hashing_embedding(
    text_col, dim: int = 64, n: int = 3, seed: int = 7
):
    """Deterministic feature-hashing "embedding": character n-grams
    hashed into a ``dim``-dimensional L2-normalized vector (signed
    hashing trick, Weinberger 2009).

    This is a STAND-IN for a learned text encoder — the container ships
    no embedding model — but unlike a random fake it is real math with
    the properties downstream operators need: deterministic, locality-
    preserving for shared n-grams (near-dup texts get high cosine), and
    cheap.  The Spark-side plumbing (Arrow batching, schema, the
    IVF/PQ index build it feeds) is exactly what a real encoder would
    use; swap the kernel body for a model call in production.
    """
    @pandas_udf("array<float>")
    def _embed(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [hash_embed_one(t, dim, n, seed) for t in texts]
        )

    return _embed(text_col)


def hash_embed_one(
    t: str | None, dim: int = 64, n: int = 3, seed: int = 7
) -> list[float]:
    """One document's feature-hash embedding — the pure kernel shared by
    :func:`hashing_embedding`'s Arrow pass and the oracle generator
    (plans/ann_oracles.py), so both paths embed bit-identically.
    Vectorized polynomial rolling hash over the utf-8 byte
    stream: the whole doc stays in numpy (a per-n-gram Python hash loop
    measured ~8x slower on 300-char docs).  Logic unchanged."""
    powers = np.array(
        [int(pow(1000003, n - 1 - j, 2**64)) for j in range(n)],
        dtype=np.uint64,
    )
    b = (t or "").lower().encode("utf-8")
    if len(b) < n:
        return [0.0] * dim
    arr = np.frombuffer(b, dtype=np.uint8).astype(np.uint64)
    h = np.zeros(len(arr) - n + 1, dtype=np.uint64)
    for j in range(n):  # n=3 summands, each vectorized
        h += (arr[j : len(arr) - n + 1 + j] + np.uint64(seed)) * powers[j]
    v = np.zeros(dim, dtype=np.float64)
    signs = np.where((h >> np.uint64(31)) & np.uint64(1) == 0, 1.0, -1.0)
    np.add.at(v, (h % np.uint64(dim)).astype(np.int64), signs)
    nrm = np.linalg.norm(v)
    return (v / nrm if nrm > 0 else v).astype(np.float32).tolist()


def compression_ratio(text_col, level: int = 6):
    """zlib bytes-out/bytes-in per document — the compressibility quality
    signal (highly compressible text is boilerplate/templated/repetitive;
    near-incompressible text is often binary junk or high-entropy spam).
    Used alongside the Gopher repetition signals: compression catches
    LONG-range redundancy the n-gram ratios miss.

    Arrow-batched kernel (zlib is C speed; the batch loop is negligible
    next to deflate itself).  Empty docs -> ratio 0.0.
    """
    import zlib

    @pandas_udf("double")
    def _ratio(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            b = (t or "").encode("utf-8")
            if not b:
                out.append(0.0)
                continue
            out.append(round(len(zlib.compress(b, level)) / len(b), 4))
        return pd.Series(out)

    return _ratio(text_col)
