"""Tokenizer-training queries — BPE merge learning over the documents
table (Sennrich 2016).  The LLM-pipeline step between corpus cleaning
and training-example export; the reference has no tokenizer component,
so these extend the engine (SURVEY.md "beyond the reference" tier).

All registered ``defer=True`` (driver window overflow —
registry.py rotation note); replayed locally by
tests/test_registry_oracle.py at driver scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from myrecommendsystem_spark.io import readers
from myrecommendsystem_spark.ml import bpe
from myrecommendsystem_spark.plans.registry import register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return readers.load_table(spark, sf_dir, "documents")


@register(
    "bpe_pair_counts",
    r"""
WITH words AS (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (
        SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        FROM documents
    )
    WHERE length(w) BETWEEN 2 AND 20 AND regexp_matches(w, '^[a-z]+$')
    GROUP BY w
),
pairs AS (
    SELECT substr(w.w, CAST(i.i AS INTEGER), 1) AS a,
           substr(w.w, CAST(i.i AS INTEGER) + 1, 1) AS b,
           SUM(w.freq) AS cnt
    FROM words w, unnest(range(1, length(w.w))) AS i(i)
    GROUP BY a, b
)
SELECT a, b, CAST(cnt AS BIGINT) AS cnt
FROM pairs
ORDER BY cnt DESC, a, b
LIMIT 30
""",
    doc="BPE iteration-0 statistics: the 30 most frequent adjacent "
    "character pairs, frequency-weighted over the word vocabulary.  "
    "The scale discipline IS the vocab indirection — pairs are counted "
    "on (word, freq), a language-bounded relation, never on the raw "
    "corpus, so a 100 TB corpus costs one word-count aggregate and the "
    "pair stage is O(|vocab|).  Neighbour pairs built JVM-side with "
    "transform over sequence indices (codegen), one grouped sum, "
    "TakeOrderedAndProject top-k",
    defer=True,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    vocab = bpe.word_vocab(_docs(spark, sf_dir), max_vocab=None).select(
        "w", "freq", F.split("w", "").alias("syms")
    )
    pairs = F.transform(
        F.sequence(F.lit(0), F.size("syms") - 2),
        lambda i: F.struct(
            F.element_at("syms", i + 1).alias("a"),
            F.element_at("syms", i + 2).alias("b"),
        ),
    )
    return (
        vocab.filter(F.size("syms") >= 2)
        .select(F.explode(pairs).alias("p"), "freq")
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "a", "b")
        .limit(30)
    )


# Shared recursive-CTE block: the greedy BPE trainer walked in SQL
# (words → init → state), used by both the merge-table oracle and the
# segmentation-stats oracle.  See the bpe_learned_merges doc for why
# this is exact.
_BPE_STATE_CTES = r"""
words AS (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (
        SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        FROM documents
    )
    WHERE length(w) BETWEEN 2 AND 20 AND regexp_matches(w, '^[a-z]+$')
    GROUP BY w
    ORDER BY freq DESC, w
    LIMIT 50000
),
init AS (
    -- each word's segmentation as a dot-delimited string '.a..b..c.':
    -- symbols are [a-z]+ only, so '.' is a safe separator, and SQL
    -- replace()'s leftmost-non-overlapping scan over '.a..b.' patterns
    -- IS the BPE merge semantics (merging (a,a) in 'aaa' -> [aa, a])
    SELECT w, freq,
           '.' || array_to_string(regexp_split_to_array(w, ''), '..') || '.' AS seg
    FROM words
),
state AS (
    SELECT 0 AS it, w, freq, seg,
           CAST(NULL AS VARCHAR) AS a, CAST(NULL AS VARCHAR) AS b,
           CAST(NULL AS BIGINT) AS cnt
    FROM init
  UNION ALL
    -- one greedy merge per recursion level: pair counts as a window sum
    -- over the unnested adjacency list (single reference to state), the
    -- argmax pair by (-cnt, a, b) as FIRST_VALUE over the full ordering,
    -- then replace() applies it to every word.  Words reduced to one
    -- symbol drop out (no pairs -> no rows) — they can never contribute
    -- again.  Stops at 20 merges or best count < 2, like the trainer.
    SELECT it + 1 AS it, w, freq,
           replace(seg, '.' || fa || '..' || fb || '.',
                   '.' || fa || fb || '.') AS seg,
           fa AS a, fb AS b, CAST(fcnt AS BIGINT) AS cnt
    FROM (
        SELECT it, w, freq, seg,
               FIRST_VALUE(pa) OVER (ORDER BY pcnt DESC, pa, pb) AS fa,
               FIRST_VALUE(pb) OVER (ORDER BY pcnt DESC, pa, pb) AS fb,
               FIRST_VALUE(pcnt) OVER (ORDER BY pcnt DESC, pa, pb) AS fcnt
        FROM (
            SELECT it, w, freq, seg, p.a AS pa, p.b AS pb,
                   SUM(freq) OVER (PARTITION BY p.a, p.b) AS pcnt
            FROM (
                SELECT it, w, freq, seg,
                       unnest([{'a': ss[i], 'b': ss[i+1]}
                               for i in generate_series(1, len(ss)-1)]) AS p
                FROM (
                    SELECT it, w, freq, seg,
                           str_split(trim(seg, '.'), '..') AS ss
                    FROM state
                )
            )
        )
    )
    GROUP BY it, w, freq, seg, fa, fb, fcnt
    HAVING it + 1 <= 20 AND fcnt >= 2
)
""".strip()


@register(
    "bpe_learned_merges",
    f"""
WITH RECURSIVE {_BPE_STATE_CTES}
SELECT DISTINCT CAST(it AS INTEGER) AS rank, a, b, a || b AS merged, cnt
FROM state WHERE it >= 1
ORDER BY rank
""",
    doc="BPE merge learning: 20 greedy merge iterations over the "
    "documents vocabulary (ml/bpe.py).  Each iteration shuffles only "
    "the vocab-sized relation, collects exactly one argmax row, and "
    "applies the merge with an Arrow kernel; lineage checkpointed "
    "every 5 iterations.  Output (rank, a, b, merged, cnt) is the "
    "merge table a segmenter broadcasts.  Upgraded rows-only → "
    "hash-gated: the greedy loop is a "
    "deterministic bounded left fold — the same recursive-CTE shape "
    "that gated CUSUM and MMR — walked with the per-word segmentation "
    "encoded as a dot-delimited string so replace() reproduces the "
    "left-to-right non-overlapping merge scan exactly; tie-breaks "
    "(-cnt, a, b) match the trainer's.  Exact-sequence parity also "
    "pinned against a pure-python reference in tests/test_tokenizer.py",
    defer=True,
)
def bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe.learned_merges_df(
        spark, _docs(spark, sf_dir), n_merges=20
    )


@register(
    "doc_bpe_segment_stats",
    f"""
WITH RECURSIVE {_BPE_STATE_CTES},
merges AS (
    SELECT DISTINCT it AS rank, a, b FROM state WHERE it >= 1
),
doc_words AS (
    -- per-doc word instances under the SAME filter the segmenter
    -- applies (Python isalpha == ^[a-z]+$ on the lowercased ASCII
    -- corpus — the documented corpus assumption)
    SELECT doc_id, w FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
        FROM documents
    )
    WHERE length(w) BETWEEN 2 AND 20 AND regexp_matches(w, '^[a-z]+$')
),
seg2 AS (
    -- second bounded fold: apply the learned merge list in rank order
    -- to every DISTINCT corpus word (including words outside the
    -- trainer's max_vocab cap, exactly like the deployed segmenter)
    SELECT 0 AS step, w,
           '.' || array_to_string(regexp_split_to_array(w, ''), '..') || '.'
               AS seg
    FROM (SELECT DISTINCT w FROM doc_words)
  UNION ALL
    SELECT s.step + 1, s.w,
           replace(s.seg, '.' || m.a || '..' || m.b || '.',
                   '.' || m.a || m.b || '.')
    FROM seg2 s JOIN merges m ON m.rank = s.step + 1
),
final_step AS (SELECT COALESCE(MAX(rank), 0) AS fs FROM merges),
word_tokens AS (
    SELECT w, len(str_split(trim(seg, '.'), '..')) AS n_tok
    FROM seg2, final_step WHERE step = fs
),
doc_stats AS (
    SELECT d.doc_id,
           CAST(COUNT(*) AS INTEGER) AS n_words,
           CAST(SUM(length(d.w)) AS INTEGER) AS n_chars,
           CAST(SUM(t.n_tok) AS INTEGER) AS n_tokens
    FROM doc_words d JOIN word_tokens t USING (w)
    GROUP BY d.doc_id
)
SELECT doc.doc_id,
       COALESCE(s.n_words, 0) AS n_words,
       COALESCE(s.n_chars, 0) AS n_chars,
       COALESCE(s.n_tokens, 0) AS n_tokens,
       CASE WHEN COALESCE(s.n_tokens, 0) > 0
            THEN ROUND(s.n_chars * 1.0 / s.n_tokens, 4) ELSE 0.0 END
           AS chars_per_token
FROM documents doc
LEFT JOIN doc_stats s USING (doc_id)
ORDER BY doc.doc_id
""",
    doc="BPE deployment half: segment every document with the 20 "
    "learned merges (broadcast merge table, map-only Arrow kernel — "
    "the corpus never shuffles) and report per-doc compression "
    "(words, chars, tokens, chars/token).  chars/token is the "
    "fertility metric tokenizer teams track; it must strictly "
    "improve over the 1.0 char baseline wherever any merge applies.  "
    "Upgraded rows-only → hash-gated alongside bpe_learned_merges: "
    "the oracle chains a SECOND bounded recursion onto the shared "
    "trainer CTEs — fold the learned merge list in rank order over "
    "every distinct corpus word (dot-delimited segmentation strings, "
    "replace() = the merge scan), then join per-doc word instances "
    "for the counts",
    defer=True,
)
def doc_bpe_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    merges = bpe.train_bpe_merges(docs, n_merges=20)
    return bpe.segment_corpus_stats(docs, merges).orderBy("doc_id")
