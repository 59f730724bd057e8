"""Hypothesis property tests: Spark operators vs plain-Python models.

Each test generates small random inputs and checks the DataFrame operator
against an independent pure-Python computation of the same semantics —
the strongest local guard for the non-obvious pieces (priority formula
default-1 counts, top-k tie-breaking, MinHash Jaccard estimation).
"""

from __future__ import annotations

import math
import pytest

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from myrecommendsystem_spark.operators.relational import (
    streaming_priority_scores,
    top_k_per_group,
)

_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

pairs_strategy = st.lists(
    st.tuples(
        st.integers(0, 3),  # candidateId
        st.floats(0.125, 1.0, allow_nan=False, width=32),  # sim
        st.sampled_from([0.5, 1.0, 2.5, 3.0, 3.5, 4.5, 5.0]),  # score
    ),
    min_size=1,
    max_size=30,
)


def _py_priority(rows):
    """StreamingRecommender.scala:223-229 semantics in plain Python."""
    out = {}
    by_cand = {}
    for cand, sim, score in rows:
        by_cand.setdefault(cand, []).append((sim, score))
    for cand, ps in by_cand.items():
        base = sum(s * r for s, r in ps) / len(ps)
        gt = sum(1 for _, r in ps if r > 3)
        le = sum(1 for _, r in ps if r <= 3)
        out[cand] = round(
            base + math.log10(max(gt, 1)) - math.log10(max(le, 1)) + 1e-9, 4
        )
    return out


@given(rows=pairs_strategy)
@_settings
def test_priority_formula_matches_python_model(spark, rows):
    df = spark.createDataFrame(
        [(c, float(s), float(r)) for c, s, r in rows],
        "candidateId int, sim double, score double",
    )
    got = {
        r.candidateId: r.priority
        for r in streaming_priority_scores(df).collect()
    }
    expected = _py_priority([(c, float(s), float(r)) for c, s, r in rows])
    assert set(got) == set(expected)
    for cand in got:
        assert math.isclose(got[cand], expected[cand], abs_tol=2e-4), (
            cand,
            got[cand],
            expected[cand],
        )


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50), st.integers(0, 5)),
        min_size=1,
        max_size=40,
    ),
    k=st.integers(1, 5),
)
@_settings
def test_top_k_matches_python_sort(spark, rows, k):
    df = spark.createDataFrame(rows, "g int, item int, v int")
    got = top_k_per_group(
        df, ["g"], [F.col("v").desc(), F.col("item")], k
    ).collect()
    by_group = {}
    for g, item, v in rows:
        by_group.setdefault(g, []).append((item, v))
    expected = {}
    for g, items in by_group.items():
        ordered = sorted(items, key=lambda t: (-t[1], t[0]))
        expected[g] = ordered[:k]
    got_by_group = {}
    for r in got:
        got_by_group.setdefault(r.g, []).append((r.rnk, r.item, r.v))
    for g, lst in got_by_group.items():
        lst.sort()
        assert [(item, v) for _, item, v in lst] == expected[g]
    assert set(got_by_group) == set(expected)


@given(
    base=st.lists(st.text(min_size=3, max_size=8), min_size=30, max_size=40, unique=True),
    overlap=st.floats(0.3, 0.9),
)
@_settings
def test_minhash_estimates_jaccard(base, overlap):
    """Signature agreement rate ≈ true shingle-hash Jaccard (±0.25 with
    k=64) — the statistical contract LSH banding relies on.  With one
    signature row per band, each band key is a bijective image of its
    row, so key agreement is signature agreement."""
    import numpy as np
    import pandas as pd

    from myrecommendsystem_spark.functions import text as TXT

    n_shared = int(len(base) * overlap)
    a = " ".join(base)
    b = " ".join(base[:n_shared] + [w + "zz" for w in base[n_shared:]])
    ha, hb = TXT._shingle_hash_lists(pd.Series([a, b]), 3)
    pa, pb = TXT._affine_params(64, TXT._MINHASH_SEED)
    one_row_bands = np.arange(64, dtype=np.int64)
    est = float(
        (
            TXT._minhash_band_keys(ha, pa, pb, one_row_bands)
            == TXT._minhash_band_keys(hb, pa, pb, one_row_bands)
        ).mean()
    )
    true_j = len(set(ha) & set(hb)) / len(set(ha) | set(hb))
    assert abs(est - true_j) <= 0.25


# ---------------------------------------------------------------------------
# Corpus-hygiene operators vs plain-Python models (round 3)
# ---------------------------------------------------------------------------

_word = st.sampled_from(["a", "b", "c", "dd", "ee", "ff"])
_doc_text = st.lists(_word, min_size=0, max_size=12).map(" ".join)
docs_strategy = st.lists(_doc_text, min_size=1, max_size=8)


def _py_repetition(text: str):
    words = text.strip().lower().split() if text.strip() else []
    n = len(words)
    tri = [" ".join(words[i : i + 3]) for i in range(max(n - 2, 0))]
    bi = [" ".join(words[i : i + 2]) for i in range(max(n - 1, 0))]
    r = lambda num, den: round(num / den + 1e-9, 4) if den > 0 else 0.0  # noqa: E731
    top = max((bi.count(g) for g in set(bi)), default=0)
    return (
        n,
        r(len(set(words)), n),
        r(len(tri) - len(set(tri)), len(tri)),
        r(top, len(bi)),
    )


@_settings
@given(texts=docs_strategy)
@pytest.mark.slow
def test_repetition_signals_match_python_model(spark, texts):
    from myrecommendsystem_spark.operators.corpus_quality import (
        repetition_signals,
    )

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r.doc_id: (
            r.n_words,
            r.distinct_word_ratio,
            r.dup_trigram_frac,
            r.top_bigram_frac,
        )
        for r in repetition_signals(docs).collect()
    }
    want = {i: _py_repetition(t) for i, t in enumerate(texts)}
    assert got == want


def _py_shingles(text: str, n: int = 3) -> set[str]:
    words = text.strip().lower().split() if text.strip() else []
    if len(words) < n:
        return {" ".join(words)}
    return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}


@_settings
@given(texts=docs_strategy, bench_text=_doc_text)
@pytest.mark.slow
def test_contamination_matches_python_model(spark, texts, bench_text):
    from myrecommendsystem_spark.operators.corpus_quality import (
        ngram_contamination,
    )

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    bench = spark.createDataFrame([(999, bench_text)], "doc_id long, text string")
    bgrams = _py_shingles(bench_text)
    got = {
        r.doc_id: (r.n_grams, r.n_hits)
        for r in ngram_contamination(docs, bench, n=3).collect()
    }
    want = {}
    for i, t in enumerate(texts):
        g = _py_shingles(t)
        want[i] = (len(g), len(g & bgrams))
    assert got == want


_unicode_text = st.text(
    alphabet=st.characters(
        codec="utf-8", categories=("L", "N", "P", "Z", "S")
    ),
    min_size=0,
    max_size=400,
)


@_settings
@given(texts=st.lists(_unicode_text, min_size=1, max_size=4))
def test_cdc_chunks_reassembly_law(spark, texts):
    """For ANY unicode input: chunks reassemble to the exact original,
    byte counts conserve, the size cap holds, and no chunk is empty."""
    from myrecommendsystem_spark.functions.text import content_defined_chunks

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    rows = content_defined_chunks(docs).collect()
    by_doc = {}
    for r in sorted(rows, key=lambda r: (r.id, r.chunk_idx)):
        by_doc.setdefault(r.id, []).append(r)
    for i, t in enumerate(texts):
        got = by_doc.get(i, [])
        assert "".join(r.chunk for r in got) == t
        assert sum(r.n_bytes for r in got) == len(t.encode("utf-8"))
        assert all(r.n_bytes <= 256 for r in got)
        assert all(r.n_bytes > 0 for r in got)


# ---------------------------------------------------------------------------
# SymSpell deletion blocking: completeness law vs brute-force Levenshtein
# ---------------------------------------------------------------------------


def _py_lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


@given(
    st.lists(
        st.text(alphabet="abc", min_size=0, max_size=5),
        min_size=1,
        max_size=12,
    )
)
@_settings
@pytest.mark.slow
def test_edit_distance_pairs_matches_bruteforce(spark, vals):
    """Blocking must find EXACTLY the distance<=1 pairs brute force finds
    — on arbitrary strings, including empty and duplicated ones."""
    from myrecommendsystem_spark.operators.dedup import edit_distance_pairs

    df = spark.createDataFrame([(v,) for v in vals], "name string")
    got = {
        (r["val_a"], r["val_b"]): r["lev"]
        for r in edit_distance_pairs(df, "name").collect()
    }
    uniq = sorted(set(vals))
    want = {
        (a, b): _py_lev(a, b)
        for i, a in enumerate(uniq)
        for b in uniq[i + 1 :]
        if _py_lev(a, b) <= 1
    }
    assert got == want
