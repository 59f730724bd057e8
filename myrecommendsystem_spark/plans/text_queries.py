"""Text-analysis / dedup / similarity-search queries (LLM-data-pipeline
extensions, graded alongside SURVEY.md §2).

Oracle-matched where ANSI-SQL can express the semantics (token counts,
quality scoring, exact-dup groups, brute-force ANN, embedding near-dups);
rows-only where the operator is hash-family-dependent (MinHash/SimHash use
Spark's xxhash64; DuckDB cannot reproduce it) — those are covered by
property tests in tests/test_text_dedup.py instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from myrecommendsystem_spark.functions import text as TXT
from myrecommendsystem_spark.functions.compat import round_stable, sql_round_stable
from myrecommendsystem_spark.io import readers
from myrecommendsystem_spark.operators import corpus_quality, dedup, similarity
from myrecommendsystem_spark.plans import ann_oracles
from myrecommendsystem_spark.plans.registry import register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return readers.load_table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return readers.load_table(spark, sf_dir, "embeddings")


# ---------------------------------------------------------------------------
# Token counting / quality
# ---------------------------------------------------------------------------


@register(
    "doc_token_counts",
    rf"""
SELECT doc_id,
       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE length(regexp_split_to_array(trim(text), '\s+'))
            END AS INTEGER) AS n_tokens,
       CAST(length(regexp_extract_all(text, '{TXT.BPE_ISH_PATTERN}', 0)) AS INTEGER)
           AS n_bpe_tokens
FROM documents
""",
    doc="token counting: whitespace + BPE-ish regex tokenizers, all "
    "JVM-side regexp expressions",
)
def doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id",
        TXT.token_count(F.col("text")).cast("int").alias("n_tokens"),
        F.size(TXT.bpe_ish_tokens(F.col("text"))).cast("int").alias("n_bpe_tokens"),
    )


_PUNCT_SQL = TXT.PUNCT_CLASS.replace("'", "''")

# DuckDB twin of functions.text.quality_score, shared by the diagnostic
# view (doc_quality_scores) and the composed gate (doc_quality_top_half)
# so the formula can never drift between them.
_QUALITY_CTE = rf"""
t AS (
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE length(regexp_split_to_array(trim(text), '\s+'))
                END AS n_tok,
           length(text) AS n_char,
           length(text) - length(regexp_replace(text, '{_PUNCT_SQL}', '', 'g'))
               AS n_punct,
           length(regexp_replace(lower(trim(text)), '\s+', '', 'g')) AS tok_chars
    FROM documents
),
m AS (
    SELECT doc_id,
           LEAST(n_tok / 100.0, 1.0) AS len_score,
           CASE WHEN n_char = 0 THEN 1.0
                ELSE GREATEST(0.0, 1.0 - (n_punct / CAST(n_char AS DOUBLE)) * 4.0)
                END AS punct_pen,
           CASE WHEN tok_chars / CAST(n_tok AS DOUBLE) BETWEEN 3.0 AND 10.0
                THEN 1.0 ELSE 0.5 END AS shape_score
    FROM t
),
q AS (
    SELECT doc_id,
           {sql_round_stable('len_score * 0.5 + punct_pen * 0.25 + shape_score * 0.25', 4)}
               AS quality
    FROM m
)
""".strip()


@register(
    "doc_quality_scores",
    f"""
WITH {_QUALITY_CTE}
SELECT doc_id, quality FROM q
""",
    doc="quality scoring: length/punctuation/token-shape heuristics as one "
    "pure column expression (Gopher/C4-style filter shape)",
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id",
        round_stable(TXT.quality_score(F.col("text")), 4).alias("quality"),
    )


_LEX_VALUES = ", ".join(
    f"('{lang}', '{w}')"
    for lang, words in TXT.LANG_STOPWORDS.items()
    for w in words
)


@register(
    "doc_lang_id",
    rf"""
WITH lex(lang, tok) AS (VALUES {_LEX_VALUES}),
toks AS (
    SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
    FROM documents
),
hits AS (
    SELECT doc_id, lang, COUNT(*) AS cnt
    FROM toks JOIN lex USING (tok)
    GROUP BY doc_id, lang
),
best AS (
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, lang) AS r
    FROM hits
)
SELECT d.doc_id, COALESCE(b.lang, 'und') AS predicted_lang
FROM documents d
LEFT JOIN (SELECT doc_id, lang FROM best WHERE r = 1) b USING (doc_id)
""",
    doc="language-ID: stopword-hit argmax (explode tokens → broadcast "
    "lexicon join → count per (doc, lang) → window argmax, ties to first "
    "lang, no hits → 'und'); oracle embeds the same lexicon as VALUES",
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TXT.language_id_table(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_groups",
    r"""
SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
       CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS dup_cnt
FROM documents
GROUP BY fp
""",
    doc="exact dedup: md5-fingerprint hash-groupBy; keep_id = min doc_id "
    "survivor",
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicates(_docs(spark, sf_dir))


# The 64 MinHash permutation constants (s, a, b) as a VALUES literal —
# same RandomState(0x5EED) stream the Arrow kernel draws
# (functions/text.py:_affine_params), inlined so the oracle is
# self-contained SQL.
_MINHASH_PERMS_SQL = ", ".join(
    f"({s}, {int(a)}::HUGEINT, {int(b)}::HUGEINT)"
    for s, (a, b) in enumerate(zip(*TXT._affine_params(64, TXT._MINHASH_SEED)))
)


# Shared CTE block: the full MinHash candidate pipeline (perms ->
# shingle hashes -> signatures -> band buckets -> cap -> candidate
# pairs -> intersection counts), used by the pairs oracle and the
# transitive-survivors oracle.
_MINHASH_PAIRS_CTES = r"""perms(s, pa, pb) AS (VALUES {PERMS}),
toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\s+'),
                       x -> x != '') AS tk
    FROM documents
),
grams AS (
    SELECT doc_id,
           CASE WHEN len(tk) > 3
                THEN list_distinct([array_to_string(tk[i:i+2], ' ')
                                    for i in generate_series(1, len(tk)-2)])
                ELSE [array_to_string(tk, ' ')]
           END AS gs
    FROM toks
),
hv AS (
    -- RK-31 Horner per distinct shingle: the kernel's exact hash family
    SELECT DISTINCT doc_id,
           CASE WHEN g = '' THEN 0
                ELSE list_reduce(
                        [CAST(ord(ch) AS BIGINT)
                         for ch in regexp_split_to_array(g, '')],
                        (x, y) -> (x * 257 + y) % 2147483647) END AS h
    FROM (SELECT doc_id, unnest(gs) AS g FROM grams)
),
sig AS (
    -- min over signed((h*a+b) mod 2^64) per permutation: HUGEINT mod
    -- 2^64 then two's-complement mapping = numpy int64 wraparound
    SELECT doc_id, s,
           MIN(CASE WHEN v >= 9223372036854775808::HUGEINT
                    THEN CAST(v - 18446744073709551616::HUGEINT AS BIGINT)
                    ELSE CAST(v AS BIGINT) END) AS mn
    FROM (
        SELECT doc_id, s,
               (CAST(h AS HUGEINT) * pa + pb)
                   % 18446744073709551616::HUGEINT AS v
        FROM hv CROSS JOIN perms
    )
    GROUP BY doc_id, s
),
bandkeys AS (
    -- band j = signature rows 4j..4j+3; the bucket key is the r-tuple
    -- itself, where the kernel folds it to one int64 (equal sets modulo
    -- ~2^-64 fold collisions; bucket occupancy identical likewise)
    SELECT doc_id, s // 4 AS band_idx,
           array_to_string(list(mn ORDER BY s), ',') AS key
    FROM sig GROUP BY doc_id, band_idx
),
ok AS (
    SELECT band_idx, key, doc_id FROM bandkeys
    QUALIFY COUNT(*) OVER (PARTITION BY band_idx, key) <= 1000
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM ok a JOIN ok b ON a.band_idx = b.band_idx AND a.key = b.key
                        AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM hv GROUP BY doc_id),
inter AS (
    SELECT c.id_a, c.id_b, COUNT(*) AS i
    FROM cand c
    JOIN hv x ON x.doc_id = c.id_a
    JOIN hv y ON y.doc_id = c.id_b AND y.h = x.h
    GROUP BY c.id_a, c.id_b
)""".replace("{PERMS}", _MINHASH_PERMS_SQL)


@register(
    "dedup_minhash_pairs",
    f"""
WITH {_MINHASH_PAIRS_CTES}
SELECT i.id_a, i.id_b,
       ROUND(CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 4) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE ROUND(CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 4) >= 0.5
""",
    doc="MinHash-LSH near-dup pairs: shingle→64-hash signature→16 banded "
    "buckets→within-bucket join→exact-Jaccard verify ≥ 0.5.  Upgraded "
    "rows-only → hash-gated: the shingle hash "
    "is now the SAME Rabin-Karp 31-bit modular family as "
    "rolling_fingerprints (functions/text.py:_hash_grams_flat — "
    "replacing pandas' SQL-irreproducible keyed siphash), so the oracle "
    "recomputes every stage relationally: list_reduce Horner per "
    "shingle, the 64 affine permutations in HUGEINT-mod-2^64 signed "
    "arithmetic, band r-tuples as bucket keys (the kernel's int64 fold "
    "collides at ~2^-64 — occupancy and candidate sets identical on "
    "real data), the max_bucket<=1000 cap, and the exact-Jaccard "
    "verify over distinct hash sets",
)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_near_duplicates(
        _docs(spark, sf_dir), jaccard_threshold=0.5
    )


@register(
    "dedup_lsh_recall_report",
    f"""
WITH {_MINHASH_PAIRS_CTES},
pe AS (SELECT doc_id AS pid, h FROM hv WHERE doc_id < 100),
tp AS (
    SELECT least(pe.pid, a.doc_id) AS id_a,
           greatest(pe.pid, a.doc_id) AS id_b,
           COUNT(*) AS i
    FROM pe JOIN hv a ON a.h = pe.h AND a.doc_id != pe.pid
    WHERE a.doc_id >= 100 OR a.doc_id > pe.pid
    GROUP BY 1, 2
),
truth AS (
    SELECT t.id_a, t.id_b,
           CAST((10 * t.i) // (sa.n + sb.n - t.i) AS INTEGER) AS jband
    FROM tp t
    JOIN sizes sa ON sa.doc_id = t.id_a
    JOIN sizes sb ON sb.doc_id = t.id_b
)
SELECT jband, n_true, n_caught,
       {sql_round_stable('CAST(n_caught AS DOUBLE) / n_true')} AS recall
FROM (
    SELECT t.jband,
           COUNT(*) AS n_true,
           CAST(COALESCE(SUM(CASE WHEN c.id_a IS NOT NULL THEN 1 END), 0)
                AS BIGINT) AS n_caught
    FROM truth t
    -- probe-slice of the candidates, in lockstep with the kernel's
    -- cands.filter(id_a < probe_max_id): every truth pair's id_a is a
    -- probe doc, so this is output-identical
    LEFT JOIN (SELECT id_a, id_b FROM cand WHERE id_a < 100) c
           ON c.id_a = t.id_a AND c.id_b = t.id_b
    GROUP BY t.jband
)
""",
    doc="LSH banding S-curve measurement, the ann_recall_report "
    "discipline applied to the near-dup family: per exact-Jaccard decile "
    "band (jband = (10·|∩|) div |∪| in INTEGER arithmetic — immune to "
    "the 0.3×10=2.999… float-bucketize trap; band 0 is the rejection "
    "side, where n_caught ≈ 0 proves the banding doesn't flood the "
    "verify stage), n_true pairs vs n_caught "
    "by the banded candidate stage (b=16, r=4, max_bucket=1000).  Exact "
    "ground truth is the quadratic term, so it is bounded to a probe "
    "sample (doc_id < 100) via a probe-side inverted-index join while "
    "the candidate side runs the production banding path over the full "
    "corpus unchanged.  The oracle replays every stage relationally off "
    "the shared _MINHASH_PAIRS_CTES block (RK-31 shingle hashes, the 64 "
    "affine permutations, band r-tuple buckets with the occupancy cap); "
    "the measured curve sits on the analytic 1−(1−J^r)^b and is the "
    "acceptance gate run before trusting a banding config on a new "
    "corpus (operators/dedup.py:minhash_recall_report)",
    defer=True,
    since=10,
)
def dedup_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    rep = dedup.minhash_recall_report(_docs(spark, sf_dir), probe_max_id=100)
    return rep.withColumn(
        "recall", round_stable(F.col("n_caught") / F.col("n_true"))
    ).orderBy("jband")


# DuckDB twin of functions.text.shingles (3-gram, short-doc fallback;
# NULL text has no grams): sh(doc_id, g).  The n-gram Jaccard,
# decontamination and boilerplate oracles all build on it.
_SHINGLES_CTE = r"""
toks AS (
    SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
    FROM documents
),
sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(t[i:i+2], ' ')
                          for i in generate_series(1, greatest(len(t)-2, 1))])
               AS g
    FROM toks
)
""".strip()


@register(
    "dedup_ngram_jaccard",
    f"""
WITH {_SHINGLES_CTE},
ex AS (SELECT doc_id, unnest(g) AS s FROM sh),
rare AS (SELECT s FROM ex GROUP BY s HAVING COUNT(*) <= 50),
shf AS (SELECT ex.doc_id, ex.s FROM ex JOIN rare USING (s)),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS n_sh FROM shf GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS DOUBLE) AS inter
    FROM shf a JOIN shf b USING (s)
    WHERE a.doc_id < b.doc_id
    GROUP BY id_a, id_b
)
SELECT id_a, id_b,
       {sql_round_stable('inter / (sa.n_sh + sb.n_sh - inter)', 4)} AS jaccard
FROM inter
JOIN sizes sa ON inter.id_a = sa.doc_id
JOIN sizes sb ON inter.id_b = sb.doc_id
WHERE {sql_round_stable('inter / (sa.n_sh + sb.n_sh - inter)', 4)} >= 0.5
""",
    doc="n-gram Jaccard dedup, EXACT and fully relational (the "
    "driver-green representative of the near-dup family): 3-gram shingle "
    "explode → document-frequency cap 50 (stop-shingle scale guard — a "
    "shingle in D docs makes D² join pairs) → inverted-index self-join → "
    "grouped intersection count → Jaccard ≥ 0.5 over the capped sets",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_dedup_pairs(
        _docs(spark, sf_dir), max_df=50, threshold=0.5
    )


@register(
    "dedup_simhash_pairs",
    r"""
WITH tokh AS (
    -- md5-derived 64-bit token hash (functions/text.py:md5_hash64):
    -- fold the 16 hex chars to an unsigned HUGEINT
    SELECT doc_id,
           list_reduce([CAST(strpos('0123456789abcdef', ch) - 1 AS HUGEINT)
                        for ch in regexp_split_to_array(substr(md5(t), 1, 16), '')],
                       (x, y) -> x * 16 + y) AS h_u
    FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        FROM documents
    )
),
votes AS (
    -- per-bit +/-1 vote over token INSTANCES (duplicates weighted)
    SELECT doc_id, b,
           SUM(CASE WHEN (h_u // ({P2})[b+1]) % 2 = 1 THEN 1 ELSE -1 END)
               AS vote
    FROM tokh CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b)
    GROUP BY doc_id, b
),
fp AS (
    SELECT doc_id,
           SUM(CASE WHEN vote >= 0 THEN ({P2})[b+1] ELSE 0::HUGEINT END)
               AS fp_u
    FROM votes GROUP BY doc_id
),
banded AS (
    SELECT doc_id, band_idx,
           CAST((fp_u // ({P8})[band_idx+1]) % 256 AS BIGINT) AS band_val,
           fp_u
    FROM fp CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS band_idx)
),
ok AS (
    SELECT band_idx, band_val, doc_id, fp_u FROM banded
    QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_val) <= 1000
),
pairs AS (
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
    FROM pairs
)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
FROM signed WHERE bit_count(xor(sa, sb)) <= 3
""".replace("{P2}", "[" + ",".join(f"{1 << b}::HUGEINT" for b in range(64)) + "]")
    .replace("{P8}", "[" + ",".join(f"{1 << (8 * b)}::HUGEINT" for b in range(8)) + "]"),
    doc="SimHash near-dup pairs: 64-bit fingerprint, 8 banded buckets, "
    "hamming ≤ 3 verify.  Upgraded rows-only → hash-gated: the token "
    "hash moved from Spark xxhash64 (SQL-irreproducible) to the first "
    "64 md5 bits (functions/text.py:md5_hash64 — the exact_fingerprint "
    "precedent), so the oracle recomputes fingerprints bit-for-bit: "
    "hex fold per token, per-bit vote aggregate, power-of-two repack, "
    "byte banding by HUGEINT division (= arithmetic shiftright+mask on "
    "the signed value), the max_bucket cap, and bit_count(xor) verify",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_near_duplicates(_docs(spark, sf_dir), max_hamming=3)


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

_EMB_CTE = """
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < 10)
""".strip()


@register(
    "ann_topk_bruteforce",
    f"""
WITH {_EMB_CTE},
scored AS (
    SELECT q.query_id, c.vec_id,
           {sql_round_stable('list_cosine_similarity(c.v, q.v)', 4)} AS cos
    FROM c CROSS JOIN q
    WHERE c.vec_id != q.query_id
),
ranked AS (
    SELECT query_id, vec_id, cos,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cos DESC, vec_id
           ) AS INTEGER) AS rnk
    FROM scored
)
SELECT query_id, vec_id, cos, rnk FROM ranked WHERE rnk <= 5
""",
    doc="similarity search baseline: exact cosine top-5 per query "
    "(10 query vectors broadcast against the corpus; window top-k)",
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.brute_force_topk(emb, queries, k=5)


@register(
    "ann_topk_ivf",
    ann_oracles.ivf_topk_oracle,
    doc="similarity search scale path: IVF (KMeans coarse quantizer, "
    "nprobe=4 of 16 cells) top-5 — hash-gated "
    "(plans/ann_oracles.ivf_topk_oracle: assignment, probing, and the "
    "round-stable cosine ranking replay in SQL against the inlined "
    "centroids); recall vs brute force additionally asserted in tests",
)
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf_topk(emb, queries, n_cells=16, nprobe=4, k=5)


@register(
    "ann_recall_report",
    ann_oracles.ann_recall_oracle,
    doc="ANN index-quality evaluation: per-query recall@5 of the IVF "
    "index (n_cells=16, nprobe=4) against the exact brute-force top-5 "
    "ground truth — the acceptance gate an embedding pipeline runs "
    "before trusting an index for retrieval/mining.  At scale the "
    "ground-truth side is the quadratic term, so recall is always "
    "measured on a bounded probe SAMPLE (the 10 query vectors here) "
    "while the candidate side exercises the production index path "
    "unchanged; the join is on id sets, never on scores, so equivalent "
    "cosine spellings cannot diverge the metric",
    defer=True,
    since=10,
)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    truth = similarity.brute_force_topk(emb, queries, k=5).select(
        "query_id", "vec_id"
    )
    got = similarity.ivf_topk(
        emb, queries, n_cells=16, nprobe=4, k=5
    ).select("query_id", "vec_id", F.lit(1).alias("m"))
    # both sides are ≤ |probe sample| * k rows by contract — broadcast
    # the index side so the recall join never shuffles either result
    return (
        truth.join(F.broadcast(got), ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.coalesce(F.sum("m"), F.lit(0)).cast("int").alias("hits")
        )
        .withColumn("recall", round_stable(F.col("hits") / F.lit(5.0)))
        .orderBy("query_id")
    )


@register(
    "embedding_near_dup_pairs",
    f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {sql_round_stable('list_cosine_similarity(a.v, b.v)', 4)} AS cos
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE {sql_round_stable('list_cosine_similarity(a.v, b.v)', 4)} >= 0.35
""",
    doc="embedding-cosine near-dup: thresholded pairwise cosine "
    "(threshold 0.35 — testdata max pairwise cosine is ~0.51)",
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.near_duplicate_pairs(_emb(spark, sf_dir), threshold=0.35)


# 257^(15-j) mod 2^31-1 — the probe-side power table, duplicated into the
# oracle as a literal so both engines share the exact modular arithmetic.
_RK_POWERS_SQL = "[" + ",".join(
    str(pow(257, 15 - j, (1 << 31) - 1)) for j in range(16)
) + "]"


@register(
    "doc_rolling_fingerprints",
    f"""
WITH c AS (
    SELECT doc_id, [ord(ch) for ch in regexp_split_to_array(text, '')] AS cs
    FROM documents
),
fp AS (
    SELECT doc_id,
           [ list_sum([CAST(cs[i+j-1] AS HUGEINT) * ({_RK_POWERS_SQL})[j]
                       for j in generate_series(1,16)]) % 2147483647
             for i in generate_series(1, len(cs)-15) ] AS fps
    FROM c
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(fps) AS INTEGER) AS n_windows,
       CAST(list_min(fps) AS BIGINT) AS min_fp,
       CAST(list_max(fps) AS BIGINT) AS max_fp
FROM fp
ORDER BY doc_id
""",
    doc="document fingerprinting: Rabin-Karp rolling hashes over 16-byte "
    "windows (substring-overlap primitive).  Upgraded rows-only → "
    "hash-gated: the oracle recomputes every window hash with the same "
    "modular arithmetic (power table inlined; HUGEINT keeps the "
    "sum exact) via DuckDB list comprehensions, so the Arrow "
    "sliding-window matmul kernel is checked value-for-value.  The "
    "oracle assumes ASCII docs ≥ 16 bytes — true of the corpus at "
    "every SF; the kernel's short-doc and non-ASCII byte paths stay "
    "pinned by tests/test_text_dedup.py",
)
def doc_rolling_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    fps = TXT.rolling_fingerprints(F.col("text"), window=16)
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.size(fps).alias("n_windows"),
            F.array_min(fps).alias("min_fp"),
            F.array_max(fps).alias("max_fp"),
        )
        .orderBy("doc_id")
    )


# Shared winnowing CTEs: RK-31 rolling hashes (the doc_rolling_
# fingerprints arithmetic verbatim) → (hash, position) packed into one
# BIGINT (h·2³¹ + (2³¹−1−pos), so MIN = min hash then RIGHTMOST pos) →
# per-window list_min over runs of 8 → distinct selected values.
# DuckDB list slices are 1-based inclusive (ea[i : i+7] is 8 elements,
# clamped at the end exactly like Spark's F.slice), and the
# GREATEST(len−7, 1) lower bound keeps the one whole-sequence window
# for short hash streams — both mirroring operators/dedup.
# winnowing_fingerprints expression for expression.
_WINNOW_CTES = f"""c AS (
    SELECT doc_id, [ord(ch) for ch in regexp_split_to_array(text, '')] AS cs
    FROM documents
),
fp AS (
    SELECT doc_id,
           [ list_sum([CAST(cs[i+j-1] AS HUGEINT) * ({_RK_POWERS_SQL})[j]
                       for j in generate_series(1,16)]) % 2147483647
             for i in generate_series(1, len(cs)-15) ] AS fps
    FROM c
),
enc AS (
    SELECT doc_id,
           [ CAST(fps[i] AS BIGINT) * 2147483648 + (2147483647 - (i - 1))
             for i in generate_series(1, len(fps)) ] AS ea
    FROM fp
),
sel AS (
    SELECT doc_id,
           [ list_min(ea[i : i + 7])
             for i in generate_series(1, GREATEST(len(ea) - 7, 1)) ] AS sels
    FROM enc
),
u AS (
    SELECT DISTINCT doc_id, v
    FROM (SELECT doc_id, unnest(sels) AS v FROM sel)
    WHERE v IS NOT NULL
)"""


@register(
    "doc_winnowing_fingerprints",
    f"""
WITH {_WINNOW_CTES}
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(2147483647 - (v % 2147483648) AS INTEGER) AS pos,
       CAST(v // 2147483648 AS BIGINT) AS fp
FROM u
ORDER BY doc_id, pos
""",
    doc="MOSS winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03): from "
    "the RK-31 rolling hashes keep, in every run of 8 consecutive "
    "window hashes, the minimum (rightmost on ties) — expected density "
    "2/9 of the full rolling index with the guarantee that any "
    "substring match ≥ 16+8−1 bytes shares a selected fingerprint "
    "(operators/dedup.winnowing_fingerprints).  Selection is per-doc "
    "LOCAL — no shuffle, no window function — and FUSED into the "
    "rolling-hash Arrow kernel (one vectorized sliding-min per doc; "
    "the expression-level nested-transform form evaluated HOFs "
    "interpreted per window, ~4× slower on identical output).  The "
    "rightmost-min tie-break packs (hash, pos) into one BIGINT so a "
    "single int64 min decides it in integer arithmetic both engines "
    "replay exactly.  Oracle reuses the doc_rolling_fingerprints "
    "arithmetic verbatim and replays packing, window minima, and "
    "decode; same ASCII ≥ 16-byte corpus assumption, short/odd docs "
    "pinned in tests",
    defer=True,
    since=11,
)
def doc_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.winnowing_fingerprints(_docs(spark, sf_dir)).orderBy(
        "doc_id", "pos"
    )


@register(
    "doc_winnowing_overlap",
    f"""
WITH {_WINNOW_CTES},
uf AS (SELECT DISTINCT doc_id, v // 2147483648 AS fpv FROM u),
freq AS (SELECT fpv, CAST(COUNT(*) AS BIGINT) AS df FROM uf GROUP BY fpv),
kept AS (
    SELECT uf.doc_id, uf.fpv FROM uf JOIN freq USING (fpv) WHERE df <= 100
)
SELECT CAST(a.doc_id AS BIGINT) AS id_a, CAST(b.doc_id AS BIGINT) AS id_b,
       CAST(COUNT(*) AS INTEGER) AS n_shared
FROM kept a JOIN kept b ON a.fpv = b.fpv AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 2
ORDER BY id_a, id_b
""",
    doc="substring-overlap pairs from winnowed fingerprints "
    "(operators/dedup.winnowing_overlap_pairs): docs sharing ≥ 2 "
    "selected fingerprint VALUES (position-independent — a moved "
    "paragraph still matches), the MOSS overlap measure.  The "
    "inverted-index join runs over the winnowed set (≈ 2/9 of the "
    "full rolling index) and fingerprints in > 100 docs are dropped "
    "first — the boilerplate/skew cap bounding Σdf² by 100·Σdf.  "
    "Shuffles: one on fp, one on the pair key; never an all-pairs "
    "product.  Oracle replays selection + frequency cap + pair count",
    defer=True,
    since=11,
)
def doc_winnowing_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.winnowing_overlap_pairs(_docs(spark, sf_dir)).orderBy(
        "id_a", "id_b"
    )


# Source-carrying variant of _WINNOW_CTES for the cross-corpus query —
# kept separate so the two committed winnowing oracles' SQL text stays
# byte-identical while they earn their first driver rows.
_WINNOW_X_CTES = f"""c AS (
    SELECT doc_id, source,
           [ord(ch) for ch in regexp_split_to_array(text, '')] AS cs
    FROM documents
),
fp AS (
    SELECT doc_id, source,
           [ list_sum([CAST(cs[i+j-1] AS HUGEINT) * ({_RK_POWERS_SQL})[j]
                       for j in generate_series(1,16)]) % 2147483647
             for i in generate_series(1, len(cs)-15) ] AS fps
    FROM c
),
enc AS (
    SELECT doc_id, source,
           [ CAST(fps[i] AS BIGINT) * 2147483648 + (2147483647 - (i - 1))
             for i in generate_series(1, len(fps)) ] AS ea
    FROM fp
),
sel AS (
    SELECT doc_id, source,
           [ list_min(ea[i : i + 7])
             for i in generate_series(1, GREATEST(len(ea) - 7, 1)) ] AS sels
    FROM enc
),
uf AS (
    SELECT DISTINCT doc_id, source, v // 2147483648 AS fpv
    FROM (SELECT doc_id, source, unnest(sels) AS v FROM sel)
    WHERE v IS NOT NULL
),
refkept AS (
    SELECT doc_id AS ref_id, fpv FROM uf WHERE source = 'src0'
    QUALIFY COUNT(*) OVER (PARTITION BY fpv) <= 100
),
newf AS (SELECT doc_id AS new_id, fpv FROM uf WHERE source != 'src0')"""


@register(
    "doc_winnowing_cross_corpus",
    f"""
WITH {_WINNOW_X_CTES}
SELECT CAST(new_id AS BIGINT) AS new_id,
       CAST(ref_id AS BIGINT) AS ref_id,
       CAST(COUNT(*) AS INTEGER) AS n_shared
FROM newf JOIN refkept USING (fpv)
GROUP BY 1, 2
HAVING COUNT(*) >= 2
ORDER BY new_id, ref_id
""",
    doc="cross-corpus winnowing overlap (the "
    "new-vs-reference convention every other dedup family already "
    "has, cf. dedup_cross_corpus_near): new docs (source != src0) "
    "sharing >= 2 winnowed fingerprint VALUES with the held corpus "
    "(src0), via operators/dedup.winnowing_cross_corpus_pairs.  The "
    "inverted-index join keys NEW against REF on fp — never a "
    "union self-join — and the max_doc_freq <= 100 boilerplate cap "
    "applies to the REFERENCE side only (the held corpus carries the "
    "boilerplate; each new fp row then joins <= 100 ref rows, "
    "bounding candidates by 100·|new fps|).  Oracle replays the "
    "RK-31 winnowing arithmetic of doc_winnowing_fingerprints plus "
    "the ref-side QUALIFY cap and the pair count, integer-exact.  "
    "Corpus assumption: every doc is >= the 16-byte "
    "window — the kernel emits a whole-text fingerprint for "
    "sub-window docs while the oracle's generate_series produces no "
    "rows, so sub-window docs could pair in Spark but never in "
    "DuckDB (cf. the winnowing fuzz test's corpus caveat)",
    defer=True,
    since=12,
)
def doc_winnowing_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    new = docs.filter(F.col("source") != "src0")
    ref = docs.filter(F.col("source") == "src0")
    return dedup.winnowing_cross_corpus_pairs(new, ref).orderBy(
        "new_id", "ref_id"
    )


@register(
    "doc_winnowing_cross_corpus_survivors",
    f"""
WITH {_WINNOW_X_CTES},
matched AS (
    SELECT DISTINCT new_id
    FROM (SELECT new_id, ref_id FROM newf JOIN refkept USING (fpv)
          GROUP BY new_id, ref_id HAVING COUNT(*) >= 2)
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(length(text) AS INTEGER) AS n_bytes
FROM documents d
WHERE source != 'src0'
  AND NOT EXISTS (SELECT 1 FROM matched m WHERE m.new_id = d.doc_id)
ORDER BY doc_id
""",
    doc="the ingest-gate composition of doc_winnowing_cross_corpus "
    "(operators/dedup.winnowing_cross_corpus_pairs + anti join): new "
    "docs (source != src0) with NO >= 2-fingerprint winnowing overlap "
    "in the held corpus survive — the keep list an ingest pipeline "
    "actually consumes, completing the survivors convention every "
    "other cross-corpus family has (cross_corpus_near_survivors, "
    "cross_corpus_dedup).  Scale shape: the pair query plus one anti "
    "join against the (output-sized) matched-id set.  n_bytes rides "
    "along so the gate verifies the surviving ROWS, not just ids "
    "(ASCII corpus: char length == byte length in both engines).  "
    "Same >= 16-byte-docs corpus assumption as "
    "doc_winnowing_cross_corpus: a sub-window doc "
    "fingerprints in Spark but not in the oracle, so it could be "
    "culled here yet survive there",
    defer=True,
    since=12,
)
def doc_winnowing_cross_corpus_survivors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = _docs(spark, sf_dir)
    new = docs.filter(F.col("source") != "src0")
    ref = docs.filter(F.col("source") == "src0")
    surv = dedup.winnowing_cross_corpus_survivors(new, ref)
    return surv.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.length("text").cast("int").alias("n_bytes"),
    ).orderBy("doc_id")


@register(
    "dedup_minhash_survivors",
    f"""
WITH RECURSIVE {_MINHASH_PAIRS_CTES},
verified AS (
    SELECT i.id_a, i.id_b
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE ROUND(CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 4) >= 0.5
),
edges2 AS (
    SELECT id_a AS src, id_b AS dst FROM verified
    UNION SELECT id_b, id_a FROM verified
),
reach AS (
        SELECT src AS a, src AS b FROM edges2
    UNION
        SELECT src, dst FROM edges2
    UNION
        SELECT r2.a, ed.dst FROM reach r2 JOIN edges2 ed ON ed.src = r2.b
)
SELECT d.doc_id, d.lang, CAST(length(d.text) AS INTEGER) AS text_len
FROM documents d
WHERE d.doc_id NOT IN (
    SELECT a FROM reach GROUP BY a HAVING a <> MIN(b)
)
""",
    doc="transitive near-dedup: MinHash pairs -> connected components "
    "(min-label propagation) -> one min-id survivor per cluster.  "
    "Upgraded rows-only → hash-gated: the shared MinHash pair CTEs "
    "(RK-31 family) feed a RECURSIVE reachability closure + MIN-label "
    "aggregation — the embedding_dedup_survivors template — so the "
    "iterative Spark component propagation and the anti-join survivor "
    "contract are checked end-to-end; transitive-closure semantics "
    "also asserted in tests",
)
def dedup_minhash_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_near_survivors(
        _docs(spark, sf_dir), jaccard_threshold=0.5
    ).select("doc_id", "lang", F.length("text").alias("text_len"))


@register(
    "embedding_near_dup_ivf",
    ann_oracles.ivf_near_dup_oracle,
    doc="embedding near-dup scale path: multi-probe IVF bucketed self-join "
    "(nprobe=2 of 16 KMeans cells) — hash-gated "
    "(plans/ann_oracles.ivf_near_dup_oracle: top-2 probing, shared-cell "
    "pairing with DISTINCT collapse, the kernel's round-stable cosine); "
    "recall vs the exact join additionally asserted in tests",
)
def embedding_near_dup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.near_duplicate_pairs_ivf(
        _emb(spark, sf_dir), threshold=0.35, n_cells=16, nprobe=2
    )


# Sign-bit LSH oracle scaffolding: the ±1 hyperplane matrix is a
# build-time constant (md5 parity per (bit, dim) — similarity.py) inlined
# into BOTH the Catalyst expression and this generated SQL, and every
# per-bit dot is the same strict left-assoc ±element chain on doubles, so
# the sign bits agree bitwise across engines.  Dim pinned to the corpus's
# 64 (true at every SF; a dim change regenerates both sides together).
_HP_SIGNS = similarity.hyperplane_signs(16, 64)


def _hp_dot_sql(j: int) -> str:
    return " + ".join(
        (f"v[{d + 1}]" if s > 0 else f"- v[{d + 1}]")
        for d, s in enumerate(_HP_SIGNS[j])
    )


_HP_DOTS_SQL = ", ".join(f"({_hp_dot_sql(j)}) AS dj{j}" for j in range(16))
_HP_BANDS_SQL = ", ".join(
    " + ".join(
        f"CASE WHEN dj{b * 8 + i} >= 0 THEN {1 << i} ELSE 0 END"
        for i in range(8)
    )
    + f" AS band{b}"
    for b in range(2)
)


# Shared sign-bit LSH CTE chain: eligible vectors → per-bit dots →
# byte bands → capped buckets → candidates → exact-cosine-verified
# pairs (``hp_pairs``).  Used by embedding_hyperplane_lsh_pairs (the
# pair list) and embedding_semantic_survivors (components + keep list).
_HP_CTES = f"""e AS (
    -- zero-norm vectors excluded on both engines: cosine would be NaN,
    -- whose comparison semantics differ per engine (kernel twin filters
    -- dot(v,v) > 0)
    SELECT vec_id, v FROM (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ) WHERE list_sum(list_transform(v, x -> x * x)) > 0
),
dots AS (SELECT vec_id, v, {_HP_DOTS_SQL} FROM e),
sig AS (SELECT vec_id, {_HP_BANDS_SQL} FROM dots),
bands AS (
    SELECT vec_id, 0 AS band_idx, band0 AS band_val FROM sig
    UNION ALL
    SELECT vec_id, 1 AS band_idx, band1 AS band_val FROM sig
),
ok AS (
    SELECT * FROM bands
    QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_val) <= 1000
),
cand AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(COUNT(*) AS INTEGER) AS n_bands
    FROM ok a
    JOIN ok b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.vec_id < b.vec_id
    GROUP BY 1, 2
),
hp_pairs AS (
    SELECT c.id_a, c.id_b, c.n_bands,
           {sql_round_stable('list_cosine_similarity(x.v, y.v)', 4)} AS cos
    FROM cand c
    JOIN e x ON x.vec_id = c.id_a
    JOIN e y ON y.vec_id = c.id_b
    WHERE {sql_round_stable('list_cosine_similarity(x.v, y.v)', 4)} >= 0.35
)"""


@register(
    "embedding_hyperplane_lsh_pairs",
    f"""
WITH {_HP_CTES}
SELECT id_a, id_b, n_bands, cos FROM hp_pairs
ORDER BY id_a, id_b
""",
    doc="sign-bit (random-hyperplane, Charikar 2002) LSH near-dup pairs "
    "— the HASH-GATED scale path for embedding near-dup, complementing "
    "the rows-only IVF path: ±1 Rademacher hyperplanes inlined as "
    "literals, 16 sign bits packed into two 8-bit bands, ONE shuffle on "
    "(band_idx, band_val), oversized buckets dropped at the MinHash "
    "max_bucket=1000 cap, then exact-cosine verification at the same "
    "0.35 / 4-digit round-stable convention as embedding_near_dup_pairs "
    "— so the "
    "output is a deterministic subset of the exact query (pinned in "
    "tests).  DuckDB replays the entire pipeline: bit derivation, "
    "banding, cap, pairing, verify",
    defer=True,
    since=7,
)
def embedding_hyperplane_lsh_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return similarity.hyperplane_lsh_pairs(
        _emb(spark, sf_dir), threshold=0.35, n_bits=16, band_bits=8
    )


@register(
    "embedding_lsh_recall_report",
    f"""
WITH {_HP_CTES},
pe AS (SELECT vec_id, v FROM e WHERE vec_id < 20),
truth AS (
    SELECT pe.vec_id AS id_a, a.vec_id AS id_b,
           CAST(FLOOR(
               {sql_round_stable('list_cosine_similarity(pe.v, a.v)', 4)}
               * 10) AS INTEGER) AS cosband
    FROM pe JOIN e a ON a.vec_id > pe.vec_id
)
SELECT cosband, n_true, n_caught,
       {sql_round_stable('CAST(n_caught AS DOUBLE) / n_true')} AS recall
FROM (
    SELECT t.cosband,
           CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(COALESCE(SUM(CASE WHEN c.id_a IS NOT NULL THEN 1 END), 0)
                AS BIGINT) AS n_caught
    FROM truth t
    -- probe-slice of the candidates, in lockstep with the kernel's
    -- cand.filter(id_a < probe_max_id): every truth pair's id_a is a
    -- probe vector, so this is output-identical
    LEFT JOIN (SELECT id_a, id_b FROM cand WHERE id_a < 20) c
           ON c.id_a = t.id_a AND c.id_b = t.id_b
    GROUP BY t.cosband
)
ORDER BY cosband
""",
    doc="sign-bit LSH S-curve measurement ("
    "the hyperplane family was the one near-dup path without an "
    "acceptance gate, while MinHash had dedup_lsh_recall_report and "
    "IVF had ann_recall_report): per exact-cosine decile band "
    "(cosband = floor(10·round(cos,4)) — both engines compute the "
    "identical IEEE op sequence; no integer-ratio banding exists for "
    "a cosine), n_true probe pairs vs n_caught by the capped 16-bit/"
    "2-band candidate stage (operators/similarity."
    "hyperplane_recall_report).  Ground truth is the quadratic term, "
    "so it is bounded to a 20-vector probe sample broadcast into one "
    "linear corpus pass, while the candidate side runs the production "
    "signing/banding/cap path over the full corpus unchanged.  The "
    "measured curve sits on the analytic 1−(1−(1−θ/π)⁸)²; low bands "
    "must show n_caught ≈ 0.  Oracle replays signing, banding, cap, "
    "candidate slice, exact-cosine banding, and the recall division",
    defer=True,
    since=12,
)
def embedding_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    rep = similarity.hyperplane_recall_report(
        _emb(spark, sf_dir), probe_max_id=20, n_bits=16, band_bits=8
    )
    return rep.withColumn(
        "recall", round_stable(F.col("n_caught") / F.col("n_true"))
    ).orderBy("cosband")


def _hp_band_chain(suffix: str, where: str) -> str:
    """One population's CTE chain (eligible → dots → sig → bands) for
    the cross-corpus oracle — same generated expressions as _HP_CTES,
    parameterized by a population filter."""
    return f"""e{suffix} AS (
    SELECT vec_id, v FROM (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings {where}
    ) WHERE list_sum(list_transform(v, x -> x * x)) > 0
),
dots{suffix} AS (SELECT vec_id, v, {_HP_DOTS_SQL} FROM e{suffix}),
sig{suffix} AS (SELECT vec_id, {_HP_BANDS_SQL} FROM dots{suffix}),
bands{suffix} AS (
    SELECT vec_id, 0 AS band_idx, band0 AS band_val FROM sig{suffix}
    UNION ALL
    SELECT vec_id, 1 AS band_idx, band1 AS band_val FROM sig{suffix}
)"""


@register(
    "embedding_cross_corpus_near",
    f"""
WITH {_hp_band_chain('_n', 'WHERE vec_id % 5 = 0')},
{_hp_band_chain('_r', 'WHERE vec_id % 5 != 0')},
ok_r AS (
    SELECT * FROM bands_r
    QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_val) <= 1000
),
cand AS (
    SELECT a.vec_id AS new_id, b.vec_id AS ref_id,
           CAST(COUNT(*) AS INTEGER) AS n_bands
    FROM bands_n a
    JOIN ok_r b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
    GROUP BY 1, 2
)
SELECT c.new_id, c.ref_id, c.n_bands,
       {sql_round_stable('list_cosine_similarity(x.v, y.v)', 4)} AS cos
FROM cand c
JOIN e_n x ON x.vec_id = c.new_id
JOIN e_r y ON y.vec_id = c.ref_id
WHERE {sql_round_stable('list_cosine_similarity(x.v, y.v)', 4)} >= 0.35
ORDER BY new_id, ref_id
""",
    doc="cross-corpus SEMANTIC dedup at ingest: an incoming embedding "
    "batch (vec_id % 5 = 0 as the simulated ingest) probed against the "
    "reference corpus through shared sign-bit LSH buckets — the "
    "embedding twin of dedup_cross_corpus_near.  New-bands join "
    "ref-bands on (band_idx, band_val), never a union self-join; the "
    "max_bucket cap applies to the REFERENCE side only (text "
    "cross-corpus convention: drop a pathological reference bucket, "
    "never silently filter the ingest batch); exact-cosine verify at "
    "the 0.35 / 4-digit round-stable convention.  Fully oracle-gated "
    "end to end",
    defer=True,
    since=7,
)
def embedding_cross_corpus_near(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # Both populations come from ONE corpus, so the signature pass runs
    # ONCE over the full relation (checkpointed bands) and splits by the
    # ingest predicate — signatures are per-vector, so the split-after
    # and sign-per-side forms are value-identical, but signing each
    # side ran the 16x64 sign fold twice (measured 4.0 -> 2.8 s at
    # sf0.1).  The streaming ingest path (streaming/semantic_dedup)
    # signs the batch alone: there the survivors' bands are stored.
    emb = _emb(spark, sf_dir)
    prep = similarity._hp_prepare(emb, 16, 8, "vec_id", "embedding", "hp")
    if prep is None:
        return spark.createDataFrame(
            [], "new_id bigint, ref_id bigint, n_bands int, cos double"
        )
    base, bands = prep
    bands = bands.localCheckpoint(eager=True)
    is_new = F.col("id") % 5 == 0
    out = similarity.hp_cross_pairs_from_prepared(
        base.filter(is_new),
        bands.filter(is_new),
        base.filter(~is_new),
        bands.filter(~is_new),
        threshold=0.35,
        max_bucket=1000,
    ).localCheckpoint(eager=True)
    # the (small, thresholded) result is materialized — release the
    # corpus-sized signature checkpoint instead of pinning it for the
    # session (eager_release discipline)
    from myrecommendsystem_spark.functions.caching import release_checkpoint

    release_checkpoint(bands)
    return out


@register(
    "embedding_semantic_survivors",
    f"""
WITH RECURSIVE {_HP_CTES},
edges2 AS (
    SELECT id_a AS src, id_b AS dst FROM hp_pairs
    UNION SELECT id_b, id_a FROM hp_pairs
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
SELECT c.id AS vec_id, s.cluster_size
FROM comp c JOIN csize s ON c.comp = s.comp
WHERE c.id = c.comp
UNION ALL
SELECT e.vec_id, 1 AS cluster_size
FROM e WHERE e.vec_id NOT IN (SELECT id FROM comp)
ORDER BY vec_id
""",
    doc="semantic dedup keep-list (SemDeDup-shaped): sign-bit LSH pairs "
    "-> connected components (min-label propagation) -> one min-id "
    "survivor per cosine-cluster, each with its cluster size "
    "(singletons ride along at size 1).  The full scale path is "
    "oracle-gated end to end: the shared hyperplane CTEs feed a "
    "RECURSIVE reachability closure + MIN-label aggregation — the "
    "dedup_minhash_survivors template over the embedding modality.  "
    "Population = LSH-eligible vectors (zero-norm excluded on both "
    "engines, as in the pair query)",
    defer=True,
    since=7,
)
def embedding_semantic_survivors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return similarity.hyperplane_semantic_survivors(
        _emb(spark, sf_dir), threshold=0.35, n_bits=16, band_bits=8
    )


def _hp_fold_oracle(n_batches: int = 3) -> str:
    """Sequential-fold oracle for embedding_incremental_survivors: K
    ingest batches (vec_id %% K), each gated against the accumulated
    survivor set through shared LSH buckets, then self-deduped by the
    RECURSIVE min-id closure.  Bands per vector are computed ONCE per
    batch (they are a pure function of the vector) and filtered to the
    fresh/survivor populations — the same values the Spark fold
    recomputes per step.  Caps mirror the kernels: gate caps the
    REFERENCE side's buckets; self-dedup caps the fresh population's."""
    cos = sql_round_stable("list_cosine_similarity(x.v, y.v)", 4)
    parts = [
        f"""elig AS MATERIALIZED (
    SELECT vec_id, v FROM (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ) WHERE list_sum(list_transform(v, x -> x * x)) > 0
)"""
    ]
    keeps = []
    for b in range(n_batches):
        parts.append(
            f"b{b} AS MATERIALIZED (SELECT vec_id, v FROM elig WHERE vec_id % {n_batches} = {b})"
        )
        parts.append(f"dots{b} AS (SELECT vec_id, v, {_HP_DOTS_SQL} FROM b{b})")
        parts.append(f"sig{b} AS (SELECT vec_id, {_HP_BANDS_SQL} FROM dots{b})")
        parts.append(
            f"""bands{b} AS MATERIALIZED (
    SELECT vec_id, 0 AS band_idx, band0 AS band_val FROM sig{b}
    UNION ALL
    SELECT vec_id, 1 AS band_idx, band1 AS band_val FROM sig{b}
)"""
        )
        if b == 0:
            fresh = "b0"
        else:
            surv_bands = " UNION ALL ".join(
                f"SELECT t.* FROM bands{p} t JOIN keep{p} USING (vec_id)"
                for p in range(b)
            )
            parts.append(f"sbands{b} AS MATERIALIZED ({surv_bands})")
            parts.append(
                f"""oks{b} AS MATERIALIZED (
    SELECT * FROM sbands{b}
    QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_val) <= 1000
)"""
            )
            parts.append(
                f"""m{b} AS MATERIALIZED (
    SELECT DISTINCT c.new_id AS vec_id
    FROM (SELECT a.vec_id AS new_id, r.vec_id AS ref_id
          FROM bands{b} a
          JOIN oks{b} r ON a.band_idx = r.band_idx
                       AND a.band_val = r.band_val
          GROUP BY 1, 2) c
    JOIN elig x ON x.vec_id = c.new_id
    JOIN elig y ON y.vec_id = c.ref_id
    WHERE {cos} >= 0.35
)"""
            )
            parts.append(
                f"f{b} AS MATERIALIZED (SELECT vec_id FROM b{b} "
                f"WHERE vec_id NOT IN (SELECT vec_id FROM m{b}))"
            )
            fresh = f"f{b}"
        parts.append(
            f"""ok{b} AS MATERIALIZED (
    SELECT * FROM (SELECT t.* FROM bands{b} t JOIN {fresh} USING (vec_id))
    QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_val) <= 1000
)"""
        )
        parts.append(
            f"""pairs{b} AS MATERIALIZED (
    SELECT c.id_a, c.id_b
    FROM (SELECT a.vec_id AS id_a, p.vec_id AS id_b
          FROM ok{b} a
          JOIN ok{b} p ON a.band_idx = p.band_idx
                      AND a.band_val = p.band_val
                      AND a.vec_id < p.vec_id
          GROUP BY 1, 2) c
    JOIN elig x ON x.vec_id = c.id_a
    JOIN elig y ON y.vec_id = c.id_b
    WHERE {cos} >= 0.35
)"""
        )
        parts.append(
            f"""edges{b} AS MATERIALIZED (
    SELECT id_a AS src, id_b AS dst FROM pairs{b}
    UNION SELECT id_b, id_a FROM pairs{b}
)"""
        )
        parts.append(
            f"""reach{b} AS (
        SELECT src AS a, src AS b FROM edges{b}
    UNION
        SELECT src, dst FROM edges{b}
    UNION
        SELECT r2.a, ed.dst FROM reach{b} r2 JOIN edges{b} ed ON ed.src = r2.b
)"""
        )
        parts.append(
            f"""keep{b} AS MATERIALIZED (
    SELECT vec_id FROM {fresh}
    WHERE vec_id NOT IN (
        SELECT a FROM reach{b} GROUP BY a HAVING a <> MIN(b)
    )
)"""
        )
        keeps.append(
            f"SELECT vec_id, {b} AS arrived_batch FROM keep{b}"
        )
    final = "\nUNION ALL\n".join(keeps)
    return (
        "WITH RECURSIVE\n"
        + ",\n".join(parts)
        + f"\nSELECT vec_id, CAST(arrived_batch AS INTEGER) AS arrived_batch"
        f" FROM ({final})\nORDER BY vec_id"
    )


@register(
    "embedding_incremental_survivors",
    _hp_fold_oracle(3),
    doc="INCREMENTAL maintenance of the semantic-dedup keep-list (the "
    "streaming twin of embedding_semantic_survivors): three ingest "
    "batches (vec_id % 3 as arrival order) fold "
    "through streaming/semantic_dedup.incremental_semantic_survivors — "
    "each batch is gated against the ACCUMULATED survivor set via "
    "shared sign-bit LSH buckets (ref-side cap), the fresh remainder "
    "self-dedups through the min-id component closure, and survivors "
    "accumulate (localCheckpointed per step, the materialized-view "
    "shape).  The oracle replays the whole fold as sequential CTEs: "
    "per-batch band derivation computed once, gate joins, capped "
    "self-pair closures (three RECURSIVE reaches), min-id keeps.  The "
    "foreachBatch wiring persists the same accumulation in batch-id "
    "logs via upsert_by_key (e2e-tested in "
    "tests/test_streaming_semantic_dedup)",
    defer=True,
    since=8,
)
def embedding_incremental_survivors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from myrecommendsystem_spark.streaming.semantic_dedup import (
        incremental_semantic_survivors,
    )

    emb = _emb(spark, sf_dir)
    batches = [emb.filter(F.col("vec_id") % 3 == b) for b in range(3)]
    return incremental_semantic_survivors(batches)


@register(
    "doc_tfidf_top_terms",
    rf"""
WITH toks AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
    FROM documents
),
tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM toks WHERE length(term) > 0
    GROUP BY doc_id, term
),
df AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.term, tf.tf, df.df,
           {sql_round_stable('tf.tf * (ln((n.n_docs + 1) / (df.df + 1)) + 1)', 4)}
               AS tfidf
    FROM tf JOIN df USING (term), n
)
SELECT doc_id, term, tf, df, tfidf, CAST(rnk AS INTEGER) AS rnk FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term
    ) AS rnk FROM scored
) WHERE rnk <= 5
""",
    doc="TF-IDF top-5 terms per document (SURVEY.md §7.6 text-analysis "
    "extension): relational explode→tf→df→smooth-idf→window top-k; "
    "doc-count N is a 1-row broadcast, never a driver collect",
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TXT.tfidf_top_terms(_docs(spark, sf_dir), k=5)


# Rebalance the corpus: downsample dominant English, keep the rest at 90%,
# drop zh entirely (absent stratum = dropped).  Keep in sync with the
# oracle VALUES below, which are generated from the same dict.
_STRATA_FRACTIONS = {"en": 0.3, "de": 0.9, "es": 0.9, "fr": 0.9}


def _strata_values() -> str:
    from myrecommendsystem_spark.operators.sampling import _hex_cut

    return ", ".join(
        f"('{s}', '{_hex_cut(f)}')" for s, f in _STRATA_FRACTIONS.items()
    )


@register(
    "sample_docs_stratified",
    f"""
WITH frac(lang, cut) AS (VALUES {_strata_values()})
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents JOIN frac USING (lang)
WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < cut
GROUP BY lang
""",
    doc="stratified deterministic sampling (engine extension): per-language "
    "keep fractions rebalance the corpus (en downsampled to 30%, zh "
    "dropped as an unlisted stratum); membership is md5(doc_id) — same "
    "subset on every run and engine; fraction table broadcast, filter "
    "stays codegen at the scan",
)
def sample_docs_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators.sampling import sample_stratified

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return (
        sample_stratified(docs, "doc_id", "lang", _STRATA_FRACTIONS)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Cleaning / PII scrub + sequence packing (deferred tier)
# ---------------------------------------------------------------------------

_CLEAN_ORACLE = r"""
SELECT doc_id,
       CAST(length(regexp_extract_all(text, '<<URL>>')) AS INTEGER) AS n_urls,
       CAST(length(regexp_extract_all(text, '<<EMAIL>>')) AS INTEGER) AS n_emails,
       CAST(length(regexp_extract_all(text, '<<IP>>')) AS INTEGER) AS n_ips,
       CAST(length(regexp_extract_all(text, '<<PHONE>>')) AS INTEGER) AS n_phones,
       trim(regexp_replace(
           regexp_replace(
               regexp_replace(
                   regexp_replace(
                       regexp_replace(text, '<<URL>>', '<URL>', 'g'),
                       '<<EMAIL>>', '<EMAIL>', 'g'),
                   '<<IP>>', '<IP>', 'g'),
               '<<PHONE>>', '<PHONE>', 'g'),
           '\s+', ' ', 'g')) AS cleaned,
       CAST(length(trim(regexp_replace(
           regexp_replace(
               regexp_replace(
                   regexp_replace(
                       regexp_replace(text, '<<URL>>', '<URL>', 'g'),
                       '<<EMAIL>>', '<EMAIL>', 'g'),
                   '<<IP>>', '<IP>', 'g'),
               '<<PHONE>>', '<PHONE>', 'g'),
           '\s+', ' ', 'g'))) AS INTEGER) AS clean_chars
FROM documents
""" \
    .replace("<<URL>>", TXT.URL_PATTERN) \
    .replace("<<EMAIL>>", TXT.EMAIL_PATTERN) \
    .replace("<<IP>>", TXT.IPV4_PATTERN) \
    .replace("<<PHONE>>", TXT.PHONE_PATTERN)


@register(
    "doc_clean_scrub",
    _CLEAN_ORACLE,
    doc="pre-training text scrub: PII placeholder substitution (URL → "
    "EMAIL → IP → PHONE, order-sensitive) + whitespace normalization, "
    "with per-category match counts.  Pure regexp expression chain — "
    "codegen end-to-end; the oracle reproduces it in RE2, pinning the "
    "patterns to the Java∩RE2 common syntax subset",
    defer=True,
)
def doc_clean_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    counts = TXT.pii_counts(F.col("text"))
    cleaned = TXT.clean_text(F.col("text"))
    return docs.select(
        "doc_id",
        counts["n_urls"].cast("int").alias("n_urls"),
        counts["n_emails"].cast("int").alias("n_emails"),
        counts["n_ips"].cast("int").alias("n_ips"),
        counts["n_phones"].cast("int").alias("n_phones"),
        cleaned.alias("cleaned"),
        F.length(cleaned).cast("int").alias("clean_chars"),
    )


@register(
    "doc_pack_bins",
    r"""
WITH t AS (
    SELECT doc_id, source,
           CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE length(regexp_split_to_array(trim(text), '\s+'))
                END AS BIGINT) AS n_tokens
    FROM documents
), c AS (
    SELECT doc_id, source, n_tokens,
           SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS end_offset
    FROM t
)
SELECT doc_id, source, n_tokens,
       CAST(end_offset AS BIGINT) AS end_offset,
       CAST(FLOOR((end_offset - n_tokens) / 256.0) AS INTEGER) AS bin_id
FROM c
ORDER BY source, doc_id
""",
    doc="sequence packing: start-offset chunking into 256-token bins per "
    "source (operators/packing.py).  One shuffle on source, one "
    "streaming ROWS-frame window — the distributed-friendly packing "
    "formulation; greedy first-fit is a sequential recurrence that "
    "cannot window",
    defer=True,
)
def doc_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators import packing

    return packing.pack_by_token_budget(
        _docs(spark, sf_dir), budget=256
    ).orderBy("source", "doc_id")


# ---------------------------------------------------------------------------
# Embedding vector aggregation (deferred tier)
# ---------------------------------------------------------------------------


@register(
    "embedding_label_centroids",
    f"""
SELECT label, pos, {sql_round_stable('AVG(v)', 6)} AS c,
       CAST(COUNT(*) AS BIGINT) AS n
FROM (
    SELECT label, unnest(embedding) AS v,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
)
GROUP BY label, pos
ORDER BY label, pos
""",
    doc="per-label mean embedding (class centroids), exploded to scalar "
    "(label, pos, value) rows — arrays never appear in gated outputs "
    "(driver canon sorts pandas columns; lists are unhashable).  Shape: "
    "posexplode → narrow (label, pos) partial/final agg — fully "
    "distributed, no vector ever assembled on one node; the 100 TB form "
    "of 'average the embeddings'.  1-based pos matches SQL subscripts",
    defer=True,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _emb(spark, sf_dir)
        .select("label", F.posexplode("embedding").alias("p", "v"))
        .groupBy("label", (F.col("p") + 1).cast("int").alias("pos"))
        .agg(
            round_stable(F.avg("v"), 6).alias("c"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("label", "pos")
    )


@register(
    "embedding_vector_stats",
    f"""
SELECT vec_id,
       CAST(len(embedding) AS INTEGER) AS dim,
       {sql_round_stable(
           'sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))', 6
       )} AS l2,
       {sql_round_stable('list_sum(list_transform(embedding, x -> x::DOUBLE)) / len(embedding)', 6)} AS mean_v,
       {sql_round_stable("list_aggregate(list_transform(embedding, x -> abs(x::DOUBLE)), 'max')", 6)} AS max_abs
FROM embeddings
ORDER BY vec_id
""",
    doc="per-vector moments: dim, L2 norm, component mean, max |x|.  "
    "Higher-order array fns (aggregate/transform) — interpreted, not "
    "codegen, but O(dim) per row with zero shuffle; elements cast to "
    "double BEFORE squaring on both engines so float32 accumulation "
    "can't diverge",
    defer=True,
)
def embedding_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    sq_sum = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda a, x: a + x.cast("double") * x.cast("double"),
    )
    v_sum = F.aggregate(
        F.col("embedding"), F.lit(0.0), lambda a, x: a + x.cast("double")
    )
    return (
        _emb(spark, sf_dir)
        .select(
            "vec_id",
            F.size("embedding").cast("int").alias("dim"),
            round_stable(F.sqrt(sq_sum), 6).alias("l2"),
            round_stable(v_sum / F.size("embedding"), 6).alias("mean_v"),
            round_stable(
                F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))),
                6,
            ).alias("max_abs"),
        )
        .orderBy("vec_id")
    )


@register(
    "embedding_dedup_survivors",
    """
WITH RECURSIVE e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(a.v, b.v), 4) >= 0.35
),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION SELECT id_b, id_a FROM pairs
),
reach AS (
        SELECT src AS a, src AS b FROM edges
    UNION
        SELECT src, dst FROM edges
    UNION
        SELECT r2.a, ed.dst FROM reach r2 JOIN edges ed ON ed.src = r2.b
)
SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(label AS INTEGER) AS label
FROM embeddings
WHERE vec_id NOT IN (
    SELECT a FROM reach GROUP BY a HAVING a <> MIN(b)
)
ORDER BY vec_id
""",
    doc="vector-space dedup survivors: cosine near-dup pairs (auto "
    "exact/IVF) → connected components → min-id representative per "
    "cluster + all unpaired rows.  The embedding twin of "
    "dedup_minhash_survivors, completing the dedup family: exact / "
    "MinHash / SimHash / n-gram Jaccard / embedding all end in the same "
    "survivor contract.  Upgraded from rows-only to hash-gated: the "
    "oracle recomputes the pairs with list_cosine_similarity (same "
    "rounding convention as embedding_near_dup_pairs) and the closure "
    "as a RECURSIVE reachability + MIN-label aggregation, so the "
    "iterative Spark component propagation is checked end-to-end",
)
def q_embedding_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    out = similarity.embedding_dedup_survivors(emb, threshold=0.35)
    return out.select("vec_id", "label").orderBy("vec_id")


# ---------------------------------------------------------------------------
# Corpus hygiene: decontamination / repetition / cross-corpus dedup
# ---------------------------------------------------------------------------

@register(
    "doc_decontamination",
    rf"""
WITH {_SHINGLES_CTE},
bench AS (
    SELECT DISTINCT unnest(g) AS gram FROM sh WHERE doc_id % 97 = 0
),
train AS (
    SELECT doc_id, unnest(g) AS gram FROM sh WHERE doc_id % 97 != 0
),
agg AS (
    SELECT t.doc_id,
           CAST(COUNT(*) AS INTEGER) AS n_grams,
           CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
                AS INTEGER) AS n_hits
    FROM train t LEFT JOIN bench b USING (gram)
    GROUP BY t.doc_id
)
SELECT doc_id, n_grams, n_hits,
       {sql_round_stable(
           'CASE WHEN n_grams = 0 THEN 0.0 '
           'ELSE n_hits / CAST(n_grams AS DOUBLE) END', 4)} AS contamination
FROM agg
""",
    doc="benchmark decontamination (GPT-3/PaLM-style n-gram filter): "
    "documents with doc_id %% 97 = 0 stand in for the eval suite; every "
    "training doc reports how many of its distinct 3-gram shingles occur "
    "anywhere in that set.  Benchmark grams broadcast; corpus never "
    "shuffles for the probe",
    defer=True,
)
def doc_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return corpus_quality.ngram_contamination(train, bench, n=3)


@register(
    "doc_repetition_signals",
    rf"""
WITH toks AS (
    SELECT doc_id,
           CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []::VARCHAR[]
                ELSE regexp_split_to_array(lower(trim(text)), '\s+')
                END AS t
    FROM documents
),
g AS (
    SELECT doc_id, t,
           CASE WHEN len(t) < 3 THEN []::VARCHAR[]
                ELSE [array_to_string(t[i:i+2], ' ')
                      for i in generate_series(1, len(t)-2)] END AS tri,
           CASE WHEN len(t) < 2 THEN []::VARCHAR[]
                ELSE [array_to_string(t[i:i+1], ' ')
                      for i in generate_series(1, len(t)-1)] END AS bi
    FROM toks
),
bic AS (
    SELECT doc_id, gram, COUNT(*) AS cnt
    FROM (SELECT doc_id, unnest(bi) AS gram FROM g)
    GROUP BY doc_id, gram
),
bia AS (
    SELECT doc_id, MAX(cnt) AS top_cnt, SUM(cnt) AS n_bi
    FROM bic GROUP BY doc_id
)
SELECT g.doc_id,
       CAST(len(t) AS INTEGER) AS n_words,
       {sql_round_stable(
           'CASE WHEN len(t) <= 0 THEN 0.0 '
           'ELSE len(list_distinct(t)) / CAST(len(t) AS DOUBLE) END', 4)}
           AS distinct_word_ratio,
       {sql_round_stable(
           'CASE WHEN len(tri) <= 0 THEN 0.0 '
           'ELSE (len(tri) - len(list_distinct(tri))) '
           '/ CAST(len(tri) AS DOUBLE) END', 4)} AS dup_trigram_frac,
       {sql_round_stable(
           'CASE WHEN COALESCE(n_bi, 0) <= 0 THEN 0.0 '
           'ELSE COALESCE(top_cnt, 0) / CAST(n_bi AS DOUBLE) END', 4)}
           AS top_bigram_frac
FROM g LEFT JOIN bia USING (doc_id)
""",
    doc="Gopher-style repetition signals: distinct-word ratio and "
    "duplicate-trigram fraction as pure array expressions on the scan; "
    "top-bigram share via (doc_id, gram) → doc_id two-level aggregate",
    defer=True,
)
def doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_quality.repetition_signals(_docs(spark, sf_dir))


@register(
    "dedup_cross_corpus",
    """
WITH ref AS (
    SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
        AS fp
    FROM documents WHERE source = 'src0'
)
SELECT doc_id, source, n_chars
FROM documents d
WHERE source != 'src0'
  AND NOT EXISTS (
      SELECT 1 FROM ref
      WHERE ref.fp = md5(regexp_replace(lower(trim(d.text)), '\\s+', ' ', 'g'))
  )
""",
    doc="cross-corpus dedup (incremental-ingestion): new docs (source != "
    "src0) survive only if their normalized-text md5 is absent from the "
    "reference corpus (src0) — LEFT ANTI join on fingerprints, only "
    "hashes move",
    defer=True,
)
def dedup_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    new = docs.filter(F.col("source") != "src0")
    ref = docs.filter(F.col("source") == "src0")
    return corpus_quality.cross_corpus_dedup(new, ref).select(
        "doc_id", "source", "n_chars"
    )


@register(
    "mips_topk_dot",
    f"""
WITH {_EMB_CTE},
scored AS (
    SELECT q.query_id, c.vec_id,
           {sql_round_stable('list_dot_product(c.v, q.v)', 4)} AS dot
    FROM c CROSS JOIN q
    WHERE c.vec_id != q.query_id
),
ranked AS (
    SELECT query_id, vec_id, dot,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY dot DESC, vec_id
           ) AS INTEGER) AS rnk
    FROM scored
)
SELECT query_id, vec_id, dot, rnk FROM ranked WHERE rnk <= 5
""",
    doc="maximum-inner-product search (MIPS) top-5: raw dot product, no "
    "normalization — the retrieval-model scoring twin of "
    "ann_topk_bruteforce (query side broadcast, corpus never shuffles)",
    defer=True,
)
def mips_topk_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.brute_force_topk_dot(emb, queries, k=5)


@register(
    "ann_topk_pq",
    # hash-gated: the seed-pinned codebook
    # fit is replayed outside Spark and inlined as literals into a DuckDB
    # twin of encode → ADC → shortlist → exact re-rank
    ann_oracles.pq_oracle,
    doc="similarity search compressed path: product quantization (m=8 "
    "subspaces × 16 codes → 8 bytes/vector, 32× memory cut) with "
    "asymmetric-distance scoring and exact re-rank — hash-gated "
    "via the inlined-trained-codebooks oracle "
    "(plans/ann_oracles.pq_oracle); recall vs brute force additionally "
    "asserted in tests/test_corpus_quality.py",
    defer=True,
)
def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.pq_topk(emb, queries, m=8, k_codes=16, k=5)


@register(
    "docs_shard_manifest",
    """
WITH s AS (
    SELECT CAST(CAST(('0x' || substr(md5('shard' || CAST(doc_id AS VARCHAR)),
                      1, 8)) AS BIGINT) % 32 AS INTEGER) AS shard,
           doc_id, n_chars
    FROM documents
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_keys,
       CAST(SUM(n_chars) AS BIGINT) AS total_size
FROM s GROUP BY shard ORDER BY shard
""",
    doc="deterministic export sharding: content-addressed shard id "
    "(md5(key) mod 32) + per-shard manifest (rows, keys, bytes) — the "
    "reproducibility receipt a 100 TB training-data export ships with; "
    "identical shard membership on any engine, run, or partitioning",
    defer=True,
)
def docs_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators import sampling

    return sampling.export_shard_manifest(
        _docs(spark, sf_dir), key="doc_id", n_shards=32, size_col="n_chars"
    )


_TOK_CTE = r"""
tok AS (
    SELECT doc_id, term
    FROM (SELECT doc_id,
                 unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
          FROM documents)
    WHERE length(term) > 0
),
tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
    FROM tok GROUP BY doc_id, term
),
dfr AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents)
""".strip()


@register(
    "dedup_tfidf_cosine",
    rf"""
WITH {_TOK_CTE},
vocab AS (SELECT term, df FROM dfr WHERE df <= 50),
w AS (
    SELECT tf.doc_id, tf.term,
           tf.tf * (ln((n.n + 1) / (vocab.df + 1)) + 1) AS w
    FROM tf JOIN vocab USING (term) CROSS JOIN n
),
norms AS (SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM w GROUP BY doc_id),
dots AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.w * b.w) AS dot
    FROM w a JOIN w b USING (term)
    WHERE a.doc_id < b.doc_id
    GROUP BY id_a, id_b
)
SELECT id_a, id_b,
       {sql_round_stable('dot / (na.nrm * nb.nrm)', 4)} AS cos
FROM dots
JOIN norms na ON dots.id_a = na.doc_id
JOIN norms nb ON dots.id_b = nb.doc_id
WHERE {sql_round_stable('dot / (na.nrm * nb.nrm)', 4)} >= 0.5
""",
    doc="sparse TF-IDF cosine near-dup pairs (the sparse-vector member "
    "of the dedup family): inverted-index self-join over the df<=50 "
    "capped vocabulary — the same stop-term scale guard as "
    "dedup_ngram_jaccard; N rides a 1-row broadcast, all codegen",
    defer=True,
)
def dedup_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TXT.tfidf_cosine_pairs(_docs(spark, sf_dir), threshold=0.5, max_df=50)


@register(
    "doc_bm25_search",
    rf"""
WITH {_TOK_CTE},
dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM tok GROUP BY doc_id),
ad AS (SELECT AVG(dl) AS avgdl FROM dl),
q(term) AS (VALUES ('hash'), ('window'), ('merge')),
s AS (
    SELECT tf.doc_id,
           ln((n.n - dfr.df + 0.5) / (dfr.df + 0.5) + 1.0)
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / ad.avgdl)) AS s
    FROM tf
    JOIN q USING (term)
    JOIN dfr USING (term)
    JOIN dl USING (doc_id)
    CROSS JOIN n CROSS JOIN ad
),
agg AS (
    SELECT doc_id, {sql_round_stable('SUM(s)', 4)} AS score
    FROM s GROUP BY doc_id
),
ranked AS (
    SELECT doc_id, score,
           CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
               AS rnk
    FROM agg
)
SELECT doc_id, score, rnk FROM ranked WHERE rnk <= 20
""",
    doc="BM25 keyword retrieval (lexical complement to dense ANN and "
    "sparse TF-IDF paths): Robertson idf + tf saturation + length "
    "normalization for a 3-term query; query terms broadcast, global "
    "top-20 lowers to TakeOrderedAndProject",
    defer=True,
)
def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TXT.bm25_search(
        _docs(spark, sf_dir), ["hash", "window", "merge"], k=20
    )


@register(
    "corpus_mixture_report",
    rf"""
WITH t AS (
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE length(regexp_split_to_array(trim(text), '\s+'))
                    END) AS BIGINT) AS n_tokens
    FROM documents GROUP BY source, lang
),
tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS total FROM t)
SELECT source, lang, n_docs, n_tokens,
       {sql_round_stable('n_tokens / tot.total', 4)} AS token_share
FROM t CROSS JOIN tot
ORDER BY source, lang
""",
    doc="data-mixture report: per (source, lang) doc and token counts "
    "plus each slice's share of total tokens — the input a mixture "
    "designer feeds sample_weighted with; grand total rides a 1-row "
    "broadcast, one aggregate pass",
    defer=True,
)
def corpus_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    t = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(TXT.token_count(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    tot = t.agg(F.sum("n_tokens").cast("double").alias("total"))
    return (
        t.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "lang",
            "n_docs",
            "n_tokens",
            round_stable(F.col("n_tokens") / F.col("total"), 4).alias(
                "token_share"
            ),
        )
        .orderBy("source", "lang")
    )


@register(
    "dedup_cross_corpus_near",
    r"""
WITH perms(s, pa, pb) AS (VALUES {PERMS}),
toks AS (
    SELECT doc_id, source,
           list_filter(regexp_split_to_array(lower(text), '\s+'),
                       x -> x != '') AS tk
    FROM documents
),
grams AS (
    SELECT doc_id, source,
           CASE WHEN len(tk) > 3
                THEN list_distinct([array_to_string(tk[i:i+2], ' ')
                                    for i in generate_series(1, len(tk)-2)])
                ELSE [array_to_string(tk, ' ')]
           END AS gs
    FROM toks
),
hv AS (
    SELECT DISTINCT doc_id, source,
           CASE WHEN g = '' THEN 0
                ELSE list_reduce(
                        [CAST(ord(ch) AS BIGINT)
                         for ch in regexp_split_to_array(g, '')],
                        (x, y) -> (x * 257 + y) % 2147483647) END AS h
    FROM (SELECT doc_id, source, unnest(gs) AS g FROM grams)
),
sig AS (
    SELECT doc_id, source, s,
           MIN(CASE WHEN v >= 9223372036854775808::HUGEINT
                    THEN CAST(v - 18446744073709551616::HUGEINT AS BIGINT)
                    ELSE CAST(v AS BIGINT) END) AS mn
    FROM (
        SELECT doc_id, source, s,
               (CAST(h AS HUGEINT) * pa + pb)
                   % 18446744073709551616::HUGEINT AS v
        FROM hv CROSS JOIN perms
    )
    GROUP BY doc_id, source, s
),
bandkeys AS (
    SELECT doc_id, source, s // 4 AS band_idx,
           array_to_string(list(mn ORDER BY s), ',') AS key
    FROM sig GROUP BY doc_id, source, band_idx
),
-- reference side (src0) carries the max_bucket cap, exactly as the
-- kernel applies it; the new side is never capped
ref_ok AS (
    SELECT band_idx, key, doc_id AS ref_id FROM bandkeys
    WHERE source = 'src0'
    QUALIFY COUNT(*) OVER (PARTITION BY band_idx, key) <= 1000
),
cand AS (
    SELECT DISTINCT n.doc_id AS new_id, r.ref_id
    FROM bandkeys n JOIN ref_ok r
      ON n.band_idx = r.band_idx AND n.key = r.key
    WHERE n.source != 'src0'
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM hv GROUP BY doc_id),
inter AS (
    SELECT c.new_id, c.ref_id, COUNT(*) AS i
    FROM cand c
    JOIN hv x ON x.doc_id = c.new_id
    JOIN hv y ON y.doc_id = c.ref_id AND y.h = x.h
    GROUP BY c.new_id, c.ref_id
)
SELECT i.new_id, i.ref_id,
       ROUND(CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 4) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.new_id
JOIN sizes sb ON sb.doc_id = i.ref_id
WHERE ROUND(CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 4) >= 0.5
""".replace("{PERMS}", _MINHASH_PERMS_SQL),
    doc="cross-corpus NEAR dedup (Lee et al. 2022-style ingest hygiene): "
    "new docs (source != src0) near-matched against the held corpus "
    "(src0) via banded MinHash — new-vs-ref bucket join, never a union "
    "self-join — with exact-Jaccard verify >= 0.5.  Upgraded rows-only "
    "→ hash-gated alongside dedup_minhash_pairs (same RK-31 shingle "
    "family + HUGEINT permutation replay; ref-side-only bucket cap "
    "mirrored); candidate pairs may only miss the kernel's at ~2^-64 "
    "band-fold collision odds.  Behavior also pinned in "
    "tests/test_text_dedup.py",
    defer=True,
)
def dedup_cross_corpus_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    new = docs.filter(F.col("source") != "src0")
    ref = docs.filter(F.col("source") == "src0")
    return dedup.minhash_cross_corpus_pairs(new, ref, jaccard_threshold=0.5)


@register(
    "dedup_substring_overlap",
    f"""
WITH c AS (
    SELECT doc_id, length(text) AS n,
           [ord(ch) for ch in regexp_split_to_array(text, '')] AS cs
    FROM documents
),
fp AS (
    SELECT DISTINCT doc_id,
           unnest([ list_sum([CAST(cs[i+j-1] AS HUGEINT) * ({{POW}})[j]
                       for j in generate_series(1,16)]) % 2147483647
             for i in generate_series(1, len(cs)-15) ]) AS fp
    FROM c WHERE n >= 16
    UNION ALL
    -- sub-window docs: the kernel emits ONE whole-text hash (empty text
    -- hashes to 0), and that hash counts toward bucket occupancy even
    -- though a short doc can never reach min_shared itself.  Power for
    -- 1-indexed position j of an n-char text is 257^(n-j) = POW[j+16-n].
    SELECT doc_id,
           CASE WHEN n = 0 THEN 0
                ELSE list_sum([CAST(cs[j] AS HUGEINT) * ({{POW}})[j + 16 - n]
                       for j in generate_series(1, n)]) % 2147483647 END AS fp
    FROM c WHERE n < 16
),
sizes AS (SELECT fp, COUNT(*) AS n FROM fp GROUP BY fp),
ok AS (SELECT f.doc_id, f.fp FROM fp f JOIN sizes s USING (fp) WHERE s.n <= 1000)
SELECT CAST(a.doc_id AS BIGINT) AS id_a, CAST(b.doc_id AS BIGINT) AS id_b,
       CAST(COUNT(*) AS INTEGER) AS shared_windows
FROM ok a JOIN ok b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY id_a, id_b
HAVING COUNT(*) >= 8
""".replace("{POW}", _RK_POWERS_SQL),
    doc="exact-substring overlap pairs (Lee et al. 2022 span-dedup "
    "candidate stage): docs sharing >= 8 distinct 16-byte Rabin-Karp "
    "window fingerprints — inverted-index join with degenerate-bucket "
    "cap.  Upgraded rows-only → hash-gated: "
    "the polynomial hash IS deterministic modular arithmetic, so the "
    "oracle recomputes every window fingerprint with the inlined "
    "power table (the doc_rolling_fingerprints twin), dedups per doc, "
    "applies the SAME deterministic max_bucket<=1000 threshold, and "
    "replays the inverted-index self-join relationally.  ASCII-corpus "
    "assumption as for doc_rolling_fingerprints; non-ASCII and cap "
    "edge paths stay pinned in tests/test_text_dedup.py",
    defer=True,
)
def dedup_substring_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.substring_overlap_pairs(
        _docs(spark, sf_dir), window=16, min_shared=8
    )


@register(
    "doc_decontaminated_survivors",
    rf"""
WITH {_SHINGLES_CTE},
bench AS (
    SELECT DISTINCT unnest(g) AS gram FROM sh WHERE doc_id % 97 = 0
),
train AS (
    SELECT doc_id, unnest(g) AS gram FROM sh WHERE doc_id % 97 != 0
),
agg AS (
    SELECT t.doc_id,
           CAST(COUNT(*) AS INTEGER) AS n_grams,
           CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
                AS INTEGER) AS n_hits
    FROM train t LEFT JOIN bench b USING (gram)
    GROUP BY t.doc_id
)
SELECT d.doc_id, d.source, d.n_chars
FROM documents d JOIN agg USING (doc_id)
WHERE agg.n_hits * 10 < agg.n_grams
ORDER BY d.doc_id
""",
    doc="the decontamination GATE composed end-to-end: training docs "
    "whose benchmark 3-gram overlap is under 10%% survive into the "
    "corpus (the filter a pretraining pipeline actually ships, with "
    "doc_decontamination as its diagnostic view)",
    defer=True,
)
def doc_decontaminated_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    scores = corpus_quality.ngram_contamination(train, bench, n=3)
    keep = scores.filter(F.col("n_hits") * 10 < F.col("n_grams")).select("doc_id")
    return (
        docs.join(keep, "doc_id")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


@register(
    "ann_topk_ivfpq",
    ann_oracles.ivfpq_oracle,
    doc="the full production ANN shape (IVF-PQ, faiss IndexIVFPQ): "
    "coarse cells bound WHICH vectors are scored (nprobe=4 of 16), PQ "
    "codes bound WHAT is scored (8 bytes/vector), exact re-rank of the "
    "shortlist restores ranking — hash-gated via the "
    "inlined-trained-quantizers oracle (plans/ann_oracles.ivfpq_oracle: "
    "cell assign, probe, encode, ADC, shortlist, and re-rank all replay "
    "in SQL); recall vs brute force additionally asserted in tests",
    defer=True,
)
def ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf_pq_topk(
        emb, queries, n_cells=16, nprobe=4, m=8, k_codes=16, k=5
    )


@register(
    "ann_topk_ivfpq_search",
    # identical oracle to ann_topk_ivfpq: same quantizers and search
    # parameters, so the build-then-search path yields the same relation
    ann_oracles.ivfpq_oracle,
    doc="IVF-PQ through the index lifecycle API's build-then-search "
    "path: similarity.build_ivfpq_index materializes the index (cells + "
    "8-byte codes + quantizers) as explicit state, and "
    "similarity.ivfpq_search probes it in memory — the API a production "
    "100 TB index serves, where the build is paid at ingest and "
    "IvfPqIndex.save/load carries the index between processes — "
    "hash-gated (plans/ann_oracles.ivfpq_oracle)",
    defer=True,
)
def ann_topk_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    if emb.isEmpty():
        return spark.createDataFrame(
            [], "query_id bigint, vec_id bigint, score double, rnk int"
        )
    index = similarity.build_ivfpq_index(emb, n_cells=16, m=8, k_codes=16)
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivfpq_search(index, queries, emb, nprobe=4, k=5)


@register(
    "sample_docs_exact_n",
    """
SELECT doc_id, source
FROM (
    SELECT doc_id, source,
           ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY substr(md5('exact' || CAST(doc_id AS VARCHAR)), 1, 8),
                        doc_id
           ) AS rn
    FROM documents
)
WHERE rn <= 5
ORDER BY source, doc_id
""",
    doc="EXACT-size stratified sampling (the eval-set constructor): "
    "exactly 5 docs per source, winners ranked by md5 hash coordinate — "
    "deterministic under reruns/engines/appends, unlike fraction "
    "sampling's binomial jitter; one stratum-key shuffle",
    defer=True,
)
def sample_docs_exact_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators import sampling

    return (
        sampling.sample_exact_n_per_stratum(
            _docs(spark, sf_dir), key="doc_id", strata_col="source", n=5
        )
        .select("doc_id", "source")
        .orderBy("source", "doc_id")
    )


# Shared CDC chunk-extraction CTE chain: candidates -> sequential
# min-gap fold (bounded recursion) -> max-size splits -> byte-exact
# chunk strings (``cdc_chunks``).  Used by the doc_cdc_chunks oracle and
# by plans/ann_oracles.rag_report_oracle (the composed RAG twin).
_CDC_CHUNKS_CTES = """c AS (
    SELECT doc_id, [ord(ch) for ch in regexp_split_to_array(text, '')] AS cs
    FROM documents
),
cand AS (
    -- boundary candidates: rolling hash of bytes [i-1, i+15) hits the
    -- pattern; the cut lands AFTER the window at byte offset i+15
    SELECT doc_id, i + 15 AS pos,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS ord
    FROM (
        SELECT doc_id, unnest(generate_series(1, len(cs) - 15)) AS i, cs
        FROM c
    )
    WHERE list_sum([CAST(cs[i+j-1] AS HUGEINT) * ({POW})[j]
                    for j in generate_series(1,16)]) % 2147483647 % 64 = 63
),
keep AS (
    -- the kernel's sequential min-gap fold (keep a candidate iff it is
    -- >= one window past the last KEPT cut) — inherently a left fold,
    -- expressed as a bounded recursion walking candidates in order
    SELECT doc_id, 0 AS ord, CAST(0 AS BIGINT) AS last, CAST([] AS BIGINT[]) AS kept
    FROM documents
    UNION ALL
    SELECT k.doc_id, k.ord + 1,
           CASE WHEN cd.pos - k.last >= 16 THEN CAST(cd.pos AS BIGINT) ELSE k.last END,
           CASE WHEN cd.pos - k.last >= 16
                THEN list_append(k.kept, CAST(cd.pos AS BIGINT)) ELSE k.kept END
    FROM keep k JOIN cand cd ON cd.doc_id = k.doc_id AND cd.ord = k.ord + 1
),
fk AS (
    SELECT doc_id, kept FROM (
        SELECT doc_id, kept,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY ord DESC) AS rn
        FROM keep
    ) WHERE rn = 1
),
base AS (
    SELECT DISTINCT doc_id, pos FROM (
        SELECT doc_id, CAST(0 AS BIGINT) AS pos FROM documents WHERE length(text) > 0
        UNION ALL
        SELECT doc_id, unnest(kept) AS pos FROM fk
        UNION ALL
        SELECT doc_id, CAST(length(text) AS BIGINT) AS pos
        FROM documents WHERE length(text) > 0
    )
),
gaps AS (
    SELECT doc_id, pos AS a,
           LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS b
    FROM base
),
allcuts AS (
    -- the kernel's max_size=256 forced splits: ceil(gap/256)-1 evenly
    -- spaced intermediate cuts per oversized gap (snap is the identity
    -- on an ASCII corpus)
    SELECT DISTINCT doc_id, pos FROM (
        SELECT doc_id, pos FROM base
        UNION ALL
        SELECT doc_id, unnest([a + 256 * k for k in
            generate_series(1, CAST(CEIL((b - a) / 256.0) AS BIGINT) - 1)]) AS pos
        FROM gaps WHERE b IS NOT NULL
    )
),
pairs AS (
    SELECT doc_id, pos AS a,
           LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS b,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS idx
    FROM allcuts
),
cdc_chunks AS MATERIALIZED (
    SELECT CAST(p.doc_id AS BIGINT) AS id,
           CAST(p.idx AS INTEGER) AS chunk_idx,
           substr(d.text, CAST(p.a AS INTEGER) + 1, CAST(p.b - p.a AS INTEGER)) AS chunk,
           CAST(p.b - p.a AS INTEGER) AS n_bytes
    FROM pairs p JOIN documents d USING (doc_id)
    WHERE p.b IS NOT NULL
)""".replace("{POW}", _RK_POWERS_SQL)


@register(
    "doc_cdc_chunks",
    f"""
WITH RECURSIVE {_CDC_CHUNKS_CTES}
SELECT id, chunk_idx, chunk, n_bytes FROM cdc_chunks
""",
    doc="content-defined chunking: split docs where the 16-byte rolling "
    "hash hits the boundary pattern (expected ~64-byte chunks, 256-byte "
    "cap) — boundaries are functions of content, so head edits re-chunk "
    "only to the next boundary and chunk-level dedup/caching across "
    "crawl snapshots works.  Upgraded rows-only → hash-gated: "
    "the cuts are deterministic Rabin-Karp window "
    "hashes (the doc_rolling_fingerprints modular-arithmetic twin), the "
    "kernel's sequential min-gap fold is a bounded recursive CTE over "
    "candidate positions, and the max-size splits are generate_series "
    "arithmetic — every chunk string is reproduced byte-for-byte.  "
    "ASCII-corpus assumption (UTF-8 snap = identity, true at every SF); "
    "non-ASCII snap + reassembly + prefix-edit stability stay pinned in "
    "tests/test_properties.py and tests/test_corpus_quality.py",
    defer=True,
)
def doc_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TXT.content_defined_chunks(_docs(spark, sf_dir))


@register(
    "doc_quality_top_half",
    rf"""
WITH {_QUALITY_CTE}
SELECT doc_id, lang, quality
FROM (
    SELECT d.doc_id, d.lang, q.quality,
           PERCENT_RANK() OVER (
               PARTITION BY d.lang ORDER BY q.quality, d.doc_id
           ) AS pr
    FROM documents d JOIN q USING (doc_id)
)
WHERE pr >= 0.5
ORDER BY doc_id
""",
    doc="the quality GATE composed end-to-end: keep each language's top "
    "half by quality percent_rank (per-lang window, deterministic "
    "doc_id tie-break) — doc_quality_scores is the diagnostic view, "
    "this is the filter a corpus pipeline ships",
    defer=True,
)
def doc_quality_top_half(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        round_stable(TXT.quality_score(F.col("text")), 4).alias("quality"),
    )
    w = Window.partitionBy("lang").orderBy("quality", "doc_id")
    return (
        d.withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") >= 0.5)
        .select("doc_id", "lang", "quality")
        .orderBy("doc_id")
    )


@register(
    "corpus_drift_terms",
    rf"""
WITH tok AS (
    SELECT CASE WHEN source = 'src0' THEN 'ref' ELSE 'new' END AS side, term
    FROM (SELECT source,
                 unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
          FROM documents)
    WHERE length(term) > 0
),
tot AS (SELECT side, CAST(COUNT(*) AS DOUBLE) AS n FROM tok GROUP BY side),
freq AS (
    SELECT side, term, CAST(COUNT(*) AS DOUBLE) AS c
    FROM tok GROUP BY side, term
),
joined AS (
    SELECT t.term,
           COALESCE(MAX(CASE WHEN t.side = 'ref' THEN t.c END), 0)
               / MAX(CASE WHEN tot.side = 'ref' THEN tot.n END) AS p_ref,
           COALESCE(MAX(CASE WHEN t.side = 'new' THEN t.c END), 0)
               / MAX(CASE WHEN tot.side = 'new' THEN tot.n END) AS p_new
    FROM freq t CROSS JOIN tot
    GROUP BY t.term
)
SELECT term,
       {sql_round_stable('p_ref', 6)} AS p_ref,
       {sql_round_stable('p_new', 6)} AS p_new,
       {sql_round_stable('ABS(p_new - p_ref)', 6)} AS drift
FROM joined
ORDER BY ABS(p_new - p_ref) DESC, term
LIMIT 20
""",
    doc="corpus drift report: unigram relative frequencies in the "
    "reference corpus (src0) vs the incoming batch, top-20 terms by "
    "absolute frequency shift — the distribution-drift alarm a corpus "
    "pipeline runs per ingest; totals ride a tiny broadcast, global "
    "top-20 lowers to TakeOrderedAndProject",
    defer=True,
)
def corpus_drift_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    tok = d.select(
        F.when(F.col("source") == "src0", F.lit("ref"))
        .otherwise(F.lit("new"))
        .alias("side"),
        F.explode(TXT.tokens(F.col("text"))).alias("term"),
    ).filter(F.length("term") > 0)
    # both totals ride ONE 1-row broadcast to every term — joining totals
    # on the row's own side would leave a NULL denominator for terms
    # absent from one corpus (p must be 0 there, as in the oracle's
    # cross join), a divergence the shared-vocab testdata never triggers
    tot = tok.groupBy().agg(
        F.sum(F.when(F.col("side") == "ref", 1).otherwise(0))
        .cast("double")
        .alias("n_ref"),
        F.sum(F.when(F.col("side") == "new", 1).otherwise(0))
        .cast("double")
        .alias("n_new"),
    )
    freq = tok.groupBy("side", "term").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    wide = (
        freq.groupBy("term")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("side") == "ref", F.col("c"))), F.lit(0.0)
            ).alias("c_ref"),
            F.coalesce(
                F.max(F.when(F.col("side") == "new", F.col("c"))), F.lit(0.0)
            ).alias("c_new"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "term",
            (F.col("c_ref") / F.col("n_ref")).alias("pr"),
            (F.col("c_new") / F.col("n_new")).alias("pn"),
        )
    )
    return (
        wide.select(
            "term",
            round_stable(F.col("pr"), 6).alias("p_ref"),
            round_stable(F.col("pn"), 6).alias("p_new"),
            round_stable(F.abs(F.col("pn") - F.col("pr")), 6).alias("drift"),
        )
        .orderBy(F.abs(F.col("pn") - F.col("pr")).desc(), "term")
        .limit(20)
    )


@register(
    "embedding_pca_spectrum",
    # hash-gated: the basis is a deterministic
    # bounded-sample fit (fit_pca_sample — the quantizer discipline), so
    # the oracle inlines the eigenvectors and re-derives each eigenvalue
    # FROM THE DATA as the projection variance
    ann_oracles.pca_spectrum_oracle,
    doc="PCA spectrum of the embedding covariance "
    "(operators/similarity.pca_spectrum): basis from a bounded "
    "deterministic sample (≤100k rows, hash-keyed — O(1) driver fit in "
    "corpus size, the faiss quantizer-training shape; the fully "
    "distributed covariance stays available as pca_covariance), driver "
    "eigendecomposes the d x d covariance.  Output per component: "
    "eigenvalue, explained variance, cumulative, argmax-|loading| dim "
    "(sign-free).  The corpus-QA pass that detects "
    "collapsed/anisotropic embedding spaces before an ANN index or "
    "clustering run",
    defer=True,
)
def embedding_pca_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.pca_spectrum(_emb(spark, sf_dir))


@register(
    "doc_quality_model_scores",
    # hash-gated: deterministic driver-side IRLS fit on a
    # bounded md5-ranked sample (shared numpy kernels), labels from the
    # hash-green lang-ID chain run by DuckDB itself, scoring replayed
    # in SQL against the inlined 257 weights
    ann_oracles.quality_model_oracle,
    doc="model-based corpus filter (ml/quality.py): logistic regression "
    "on hashed char-bigram features (31·ord rolling slots — a "
    "cross-engine-reproducible hashing trick, not engine-internal "
    "MurmurHash), trained on WEAK labels from the heuristic "
    "language-ID, scoring every document with a calibrated P(target).  "
    "The fastText-classifier deployment shape (GPT-3 quality "
    "filtering, CCNet): the fit is a deterministic bounded-sample "
    "Newton solve (the ANN-quantizer discipline — O(max_train) at any "
    "corpus size), scoring inlines the weights into one codegen fold "
    "and never shuffles the corpus.  At 100 TB: fit on a bounded "
    "sample, score everything",
    defer=True,
)
def doc_quality_model_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.ml import quality

    docs = readers.load_table(spark, sf_dir, "documents")
    if docs.isEmpty():  # nothing to fit a model on — empty scores out
        return spark.createDataFrame(
            [], "doc_id bigint, weak_label int, p_target double"
        )
    # the checkpointed featurization (id, text, weak_label) is read by
    # both the fit and the scoring: predicted_lang, the interpreted
    # token×language membership, evaluates once per call
    labeled = quality.label_documents(docs).localCheckpoint(eager=True)
    weights = quality.fit_quality_weights(docs, labeled=labeled)
    return quality.score_documents(docs, weights=weights, labeled=labeled)


@register(
    "doc_collocations_pmi",
    rf"""
WITH arrs AS (
    SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS ws
    FROM documents
),
words AS (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS c
    FROM (SELECT unnest(ws) AS w FROM arrs)
    WHERE regexp_matches(w, '^[a-z]+$')
    GROUP BY w
),
bis AS (
    SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_ab
    FROM (
        SELECT ws[CAST(i.i AS INTEGER)] AS a,
               ws[CAST(i.i AS INTEGER) + 1] AS b
        FROM arrs, unnest(range(1, len(ws))) AS i(i)
    )
    WHERE regexp_matches(a, '^[a-z]+$') AND regexp_matches(b, '^[a-z]+$')
    GROUP BY a, b
),
tot AS (
    SELECT (SELECT SUM(c) FROM words) AS n_uni,
           (SELECT SUM(c_ab) FROM bis) AS n_bi
)
SELECT bis.a AS a, bis.b AS b, bis.c_ab AS c_ab,
       {sql_round_stable(
           'log2( (bis.c_ab * 1.0 / tot.n_bi)'
           ' / ((wa.c * 1.0 / tot.n_uni) * (wb.c * 1.0 / tot.n_uni)) )',
           4)} AS pmi
FROM bis
JOIN words wa ON bis.a = wa.w
JOIN words wb ON bis.b = wb.w
CROSS JOIN tot
WHERE bis.c_ab >= 5
ORDER BY pmi DESC, a, b
LIMIT 20
""",
    doc="collocation extraction: top-20 adjacent word bigrams by "
    "pointwise mutual information (min count 5) — the phrase-mining "
    "pass (word2vec phrase pass, NLTK collocations) that finds "
    "multi-word units a tokenizer should keep together.  Bigram "
    "construction is the same JVM transform-over-indices used by the "
    "BPE pair counter; unigram/bigram totals ride broadcasts; the "
    "final top-k is TakeOrderedAndProject.  Distinct from "
    "product_cooccurrence_pmi (basket co-occurrence): this is "
    "sequence-adjacency PMI over text",
    defer=True,
)
def doc_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = readers.load_table(spark, sf_dir, "documents")
    arrs = docs.select(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("ws")
    )
    ok = lambda c: c.rlike("^[a-z]+$")  # noqa: E731
    words = (
        arrs.select(F.explode("ws").alias("w"))
        .filter(ok(F.col("w")))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    pairs = F.transform(
        F.sequence(F.lit(0), F.size("ws") - 2),
        lambda i: F.struct(
            F.element_at("ws", i + 1).alias("a"),
            F.element_at("ws", i + 2).alias("b"),
        ),
    )
    # one explode pass: group first, then derive BOTH the total and the
    # min-count filter from the grouped relation (never re-scan the corpus)
    bis_all = (
        arrs.filter(F.size("ws") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .filter(ok(F.col("a")) & ok(F.col("b")))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
    )
    # words feeds three consumers (wa, wb, n_uni) and bis_all two (the
    # filtered pairs + the global total) — persist both so the corpus is
    # exploded exactly once per relation, release on materialize
    words = words.persist()
    bis_all = bis_all.persist()
    bis = bis_all.filter(F.col("c_ab") >= 5)
    n_uni = words.agg(F.sum("c").alias("n_uni"))
    n_bi_all = bis_all.agg(F.sum("c_ab").alias("n_bi"))
    wa = words.select(F.col("w").alias("a"), F.col("c").alias("c_a"))
    wb = words.select(F.col("w").alias("b"), F.col("c").alias("c_b"))
    pmi = F.log2(
        (F.col("c_ab") * 1.0 / F.col("n_bi"))
        / (
            (F.col("c_a") * 1.0 / F.col("n_uni"))
            * (F.col("c_b") * 1.0 / F.col("n_uni"))
        )
    )
    from myrecommendsystem_spark.functions.caching import eager_release

    result = (
        bis.join(F.broadcast(wa), "a")
        .join(F.broadcast(wb), "b")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi_all))
        .select(
            "a",
            "b",
            "c_ab",
            round_stable(pmi, 4).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "a", "b")
        .limit(20)
    )
    return eager_release(result, words, bis_all).orderBy(
        F.col("pmi").desc(), "a", "b"
    )


@register(
    "doc_hybrid_search_rrf",
    rf"""
WITH {_TOK_CTE},
dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM tok GROUP BY doc_id),
ad AS (SELECT AVG(dl) AS avgdl FROM dl),
q(term) AS (VALUES ('hash'), ('window'), ('merge')),
s AS (
    SELECT tf.doc_id,
           ln((n.n - dfr.df + 0.5) / (dfr.df + 0.5) + 1.0)
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / ad.avgdl)) AS s
    FROM tf
    JOIN q USING (term)
    JOIN dfr USING (term)
    JOIN dl USING (doc_id)
    CROSS JOIN n CROSS JOIN ad
),
agg AS (SELECT doc_id, SUM(s) AS score FROM s GROUP BY doc_id),
bmk AS (
    SELECT doc_id, CAST(rnk AS INTEGER) AS bm25_rnk FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk
        FROM agg
    ) WHERE rnk <= 50
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
qid AS (SELECT MIN(vec_id) AS m FROM e),
qv AS (SELECT v FROM e CROSS JOIN qid WHERE e.vec_id = qid.m),
ck AS (
    SELECT doc_id, CAST(rnk AS INTEGER) AS cos_rnk FROM (
        SELECT e.vec_id AS doc_id,
               ROW_NUMBER() OVER (
                   ORDER BY list_cosine_similarity(e.v, qv.v) DESC, e.vec_id
               ) AS rnk
        FROM e CROSS JOIN qv CROSS JOIN qid
        WHERE e.vec_id != qid.m
    ) WHERE rnk <= 50
)
SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
       {sql_round_stable(
           'COALESCE(1.0 / (60 + b.bm25_rnk), 0.0)'
           ' + COALESCE(1.0 / (60 + c.cos_rnk), 0.0)', 6)} AS rrf,
       b.bm25_rnk AS bm25_rnk,
       c.cos_rnk AS cos_rnk
FROM bmk b
FULL OUTER JOIN ck c ON b.doc_id = c.doc_id
ORDER BY rrf DESC, doc_id
LIMIT 10
""",
    doc="hybrid retrieval with reciprocal-rank fusion (Cormack 2009, "
    "the fusion every modern RAG stack runs): the BM25 lexical top-50 "
    "and the dense cosine top-50 (query = the min-vec_id embedding) "
    "are fused as sum of 1/(60+rank) over a FULL OUTER rank join, "
    "top-10 out.  Both legs reuse the gated retrieval operators "
    "(functions/text.bm25_search, operators/similarity."
    "brute_force_topk); the fusion itself is rank arithmetic on two "
    "k-row relations — at 100 TB each leg prunes to its own top-k "
    "before anything joins, so fusion cost is O(k), not O(corpus)",
    defer=True,
)
def doc_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    k = 50
    bm25 = TXT.bm25_search(docs, ["hash", "window", "merge"], k=k).select(
        "doc_id", F.col("rnk").alias("bm25_rnk")
    )
    queries = emb.orderBy("vec_id").limit(1)
    dense = similarity.brute_force_topk(emb, queries, k=k).select(
        F.col("vec_id").cast("bigint").alias("doc_id"),
        F.col("rnk").alias("cos_rnk"),
    )
    rrf = F.coalesce(1.0 / (60 + F.col("bm25_rnk")), F.lit(0.0)) + F.coalesce(
        1.0 / (60 + F.col("cos_rnk")), F.lit(0.0)
    )
    return (
        bm25.join(dense, "doc_id", "full_outer")
        .select(
            "doc_id",
            round_stable(rrf, 6).alias("rrf"),
            F.col("bm25_rnk").cast("int").alias("bm25_rnk"),
            F.col("cos_rnk").cast("int").alias("cos_rnk"),
        )
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(10)
    )


@register(
    "rag_ingest_pipeline",
    # hash-gated: the composed job replays END-TO-END in SQL —
    # the shared byte-exact cdc_chunks CTEs, the feature-hash embedding
    # recomputed in SQL (BIGINT 3-gram hashes, bit-31 signs, integer-
    # exact norms, float32 casts), and IVF assignment against centroids
    # the generator trains on locally-recomputed chunk embeddings via
    # the SAME pure kernels (text.cdc_cut_points / hash_embed_one +
    # similarity.kmeans_fit_mat).  Composition invariants additionally
    # pinned by test_rag_ingest_covers_every_chunk
    ann_oracles.rag_report_oracle,
    doc="the complete RAG ingestion job, composed from gated parts: "
    "content-defined chunking (re-chunk-stable boundaries) -> "
    "deterministic feature-hash embedding (the honest encoder "
    "stand-in; swap the kernel for a model call in production) -> "
    "IVF-PQ index build (bounded-sample quantizers, 8-byte codes).  "
    "Output: per-IVF-cell chunk counts + byte volume — the index "
    "build report an ingestion pipeline logs.  Every stage is the "
    "100 TB shape: chunking is one Arrow pass, embedding never "
    "shuffles, quantizer training is O(1) in corpus size",
    defer=True,
)
def rag_ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    if docs.isEmpty():
        return spark.createDataFrame(
            [], "cell_id int, n_chunks bigint, bytes bigint"
        )
    chunks = TXT.content_defined_chunks(docs).select(
        (F.col("id") * 10_000 + F.col("chunk_idx")).alias("vec_id"),
        F.col("chunk"),
        F.col("n_bytes"),
    )
    embedded = chunks.select(
        "vec_id",
        "n_bytes",
        TXT.hashing_embedding(F.col("chunk")).alias("embedding"),
    ).persist()
    index = similarity.build_ivfpq_index(
        embedded, n_cells=8, m=8, k_codes=16
    )
    report = (
        index.packed.join(
            embedded.select(F.col("vec_id").alias("id"), "n_bytes"), "id"
        )
        .groupBy("cell_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum("n_bytes").cast("bigint").alias("bytes"),
        )
    )
    from myrecommendsystem_spark.functions.caching import eager_release

    # sort only AFTER the checkpoint — one range exchange, not two
    return eager_release(report, embedded).orderBy("cell_id")


@register(
    "doc_compression_signal",
    None,  # zlib deflate is not SQL-expressible; monotonicity laws
    # (repetitive < natural < random) pinned in tests/test_tokenizer.py
    doc="compressibility quality signal: per-source distribution of the "
    "zlib compression ratio (functions/text.compression_ratio) — the "
    "long-range-redundancy detector that complements the Gopher "
    "n-gram repetition ratios (doc_repetition_signals catches local "
    "loops; deflate's 32 KB window catches templated pages whose "
    "repeats are paragraphs apart).  Map-only Arrow kernel, one "
    "grouped aggregate; the C4/Gopher-family gate thresholds on the "
    "tails of exactly this distribution",
    defer=True,
)
def doc_compression_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    ratio = TXT.compression_ratio(F.col("text"))
    return (
        docs.select("source", ratio.alias("r"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg("r"), 4).alias("avg_ratio"),
            F.round(F.min("r"), 4).alias("min_ratio"),
            F.round(F.max("r"), 4).alias("max_ratio"),
        )
        .orderBy("source")
    )


@register(
    "ann_topk_pca",
    # hash-gated: inlined mean + top-32 components from
    # the deterministic bounded-sample fit; projection, reduced cosine,
    # shortlist, and exact re-rank all replay in SQL
    # (plans/ann_oracles.pca_topk_oracle); recall vs the exact
    # brute-force path additionally asserted in tests
    ann_oracles.pca_topk_oracle,
    doc="dimension-reduced ANN (operators/similarity.pca_topk): search "
    "in the top-32 PCA subspace (halved floats; the synthetic corpus "
    "spectrum is deliberately flat — cum-EVR(32)=0.65 — so the config "
    "follows what embedding_pca_spectrum measures, recall 0.98), "
    "shortlist 8k by reduced cosine, exact re-rank on true vectors — "
    "the third "
    "compressed-domain path beside IVF (prune partitions) and PQ "
    "(compress codes), optimal among linear reductions when "
    "embedding_pca_spectrum shows a decaying spectrum.  Projection is "
    "map-only; the reduced scan moves r-dim vectors only",
    defer=True,
)
def ann_topk_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.pca_topk(
        emb, queries, k=5, n_components=32, shortlist_factor=8
    )


# ---------------------------------------------------------------------------
# Positional phrase search (exact-phrase retrieval over an inverted index)
# ---------------------------------------------------------------------------


@register(
    "doc_phrase_search",
    r"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
    FROM documents
),
hits AS (
    SELECT doc_id,
           len([i for i in generate_series(1, len(t)-1)
                if t[i] = 'hash' and t[i+1] = 'join']) AS n_occ
    FROM toks
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n_occ AS INTEGER) AS n_occ
FROM hits WHERE n_occ > 0
ORDER BY n_occ DESC, doc_id LIMIT 20
""",
    doc="exact-phrase retrieval ('hash join') over a POSITIONAL "
    "inverted index: posexplode tokens to (doc, term, pos), keep only "
    "the phrase's terms (the per-term postings a real index would "
    "fetch), then adjacency-join postings on (doc, pos+1) — the "
    "standard positional-intersection phrase algorithm, vs the "
    "oracle's per-document scan.  Term filters cut the postings "
    "BEFORE the join (at 100 TB the join touches two terms' postings, "
    "never the corpus); global top-k is TakeOrderedAndProject.  "
    "Complements doc_bm25_search (bag-of-words) and "
    "doc_hybrid_search_rrf with the third retrieval mode engines "
    "ship: phrase/proximity",
    defer=True,
)
def doc_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("pos", "term"),
    )
    t1 = toks.filter(F.col("term") == "hash").select(
        "doc_id", F.col("pos").alias("p1")
    )
    t2 = toks.filter(F.col("term") == "join").select(
        "doc_id", F.col("pos").alias("p2")
    )
    hits = (
        t1.join(t2, ["doc_id"])
        .filter(F.col("p2") == F.col("p1") + 1)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_occ"))
    )
    return (
        hits.select(F.col("doc_id").cast("bigint"), "n_occ")
        .orderBy(F.col("n_occ").desc(), "doc_id")
        .limit(20)
    )


@register(
    "doc_chunk_dedup_docs",
    f"""
WITH RECURSIVE {_CDC_CHUNKS_CTES},
rnk AS (
    SELECT id, chunk_idx, chunk, n_bytes,
           ROW_NUMBER() OVER (
               PARTITION BY md5(chunk) ORDER BY id, chunk_idx
           ) AS rn
    FROM cdc_chunks
),
agg AS (
    SELECT id,
           string_agg(chunk, '' ORDER BY chunk_idx)
               FILTER (WHERE rn = 1) AS clean_text,
           CAST(COUNT(*) AS INTEGER) AS n_chunks,
           CAST(COUNT(*) FILTER (WHERE rn > 1) AS INTEGER) AS n_dup_chunks,
           CAST(COALESCE(SUM(n_bytes) FILTER (WHERE rn > 1), 0) AS BIGINT)
               AS dropped_bytes
    FROM rnk GROUP BY id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       COALESCE(a.clean_text, '') AS clean_text,
       COALESCE(a.n_chunks, 0) AS n_chunks,
       COALESCE(a.n_dup_chunks, 0) AS n_dup_chunks,
       COALESCE(a.dropped_bytes, 0) AS dropped_bytes
FROM documents d LEFT JOIN agg a ON a.id = d.doc_id
ORDER BY d.doc_id
""",
    doc="sub-document dedup: drop every content-defined chunk whose exact "
    "bytes appeared earlier in the corpus (first occurrence by "
    "(doc_id, chunk_idx) survives, later copies — cross-doc boilerplate "
    "AND within-doc repeats — are removed) and rebuild each document "
    "from its surviving chunks, with per-doc chunk/duplicate/byte "
    "accounting.  The CCNet/RefinedWeb paragraph-granularity dedup the "
    "doc-level exact/MinHash family cannot express: shared boilerplate "
    "is stripped without dropping whole documents.  Scale shape "
    "(operators/dedup.chunk_dedup_docs): the winner decision shuffles "
    "16-byte digests only, kept indices come back as one int array per "
    "doc, and the rebuild RE-CHUNKS locally with the shared "
    "cdc_cut_points kernel — chunk text never shuffles, the corpus "
    "moves once.  Oracle: the doc_cdc_chunks recursive CTEs reproduce "
    "every chunk byte-for-byte, then a ROW_NUMBER over md5(chunk) "
    "replays the first-occurrence rule and an ordered FILTER string_agg "
    "rebuilds the text",
    defer=True,
    since=10,
)
def doc_chunk_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myrecommendsystem_spark.operators import dedup

    return dedup.chunk_dedup_docs(_docs(spark, sf_dir)).orderBy("doc_id")
