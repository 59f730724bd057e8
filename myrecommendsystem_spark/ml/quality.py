"""Model-based corpus filtering — a trained classifier scoring documents.

The production pattern behind fastText-style quality/language filters
(GPT-3 §2.2 "quality classifier", CCNet, RedPajama): take WEAK labels
from a cheap heuristic or a curated subset, train a linear model on
hashed character-bigram features, then score the whole corpus with the
model and gate on the probability.  The value over the raw heuristic is
calibration + generalization: the model smooths over individual rule
misfires and emits a continuous score a pipeline can threshold per use
case.

Spark shape (DuckDB-gateable, the quantizer-fit discipline):

- featurization is a pure Catalyst expression: char-bigram slots via a
  31·ord(c1)+ord(c2) mod 256 rolling hash (NOT MurmurHash HashingTF —
  an engine-internal hash can never be replayed by the SQL oracle; the
  31/256 slotting is the classic hashing trick with a cross-engine
  reproducible kernel, the functions/text.hash_embed_one precedent);
- weak labels come from the existing heuristic language-ID
  (``functions.text.predicted_lang``) — no human labels anywhere;
- the fit is a DETERMINISTIC driver-side IRLS (Newton) logistic
  regression on a bounded md5-ranked sample — the 100 TB discipline
  (fit on ≤``max_train`` rows, score everything) and what lets
  plans/ann_oracles.quality_model_oracle re-train bit-identical weights
  outside Spark and replay SCORING entirely in SQL;
- scoring is one codegen expression per document: margin = bias +
  Σ w[slot(gram)] over the document's bigram stream (the per-occurrence
  fold equals w·counts without ever materializing the count vector),
  sigmoid, round-stable.  The weight vector is 257 inlined literals —
  model broadcast by constant folding, corpus never shuffles.

Reference parity note: the reference has no quality model; this is the
LLM-pipeline extension brief (training-data quality filtering).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from myrecommendsystem_spark.functions import text as TXT
from myrecommendsystem_spark.functions.compat import round_stable

_N_FEATURES = 256
_MAX_TRAIN = 20_000
_REG = 0.01
_N_ITER = 8


def char_codes(col: Column) -> Column:
    """array<int> of codepoints over lower(trim(text)) — the shared
    featurization prefix of :func:`bigram_slots`.  Exposed separately so
    a caller can stage it as its OWN projection column: higher-order
    functions are interpreted (no codegen subexpression elimination), so
    every textual occurrence of this subtree in one projection re-splits
    and re-transforms the whole string per row.  :func:`bigram_slots`
    references its input five times (size guard + two slices + their
    lengths); staged as a column, the transform runs once per row and
    CollapseProject keeps the stage (a non-cheap expression referenced
    more than once is never inlined back)."""
    return F.transform(
        F.split(F.lower(F.trim(col)), ""), lambda c: F.ascii(c)
    )


def bigram_slots_from_codes(cps: Column) -> Column:
    """:func:`bigram_slots` over an already-staged :func:`char_codes`
    column — pass a bare column reference (cheap to re-evaluate), not
    the transform expression itself."""
    n = F.size(cps)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(cps, 1, n - 1),
            F.slice(cps, 2, n - 1),
            lambda a, b: (a * 31 + b) % _N_FEATURES,
        ),
    ).otherwise(F.array().cast("array<int>"))


def bigram_slots(col: Column) -> Column:
    """array<int> of hashed char-bigram slots, one entry PER OCCURRENCE:
    slot = (31·ord(c1) + ord(c2)) mod 256 over lower(trim(text)).  Pure
    codegen (split + sequence + transform); docs shorter than 2 chars
    yield an empty array.  The DuckDB twin is the same comprehension
    over ``regexp_split_to_array``; the numpy fit twin is
    :func:`bigram_count_mat` (counts of the same slots).

    NOTE: composing this inline evaluates :func:`char_codes` five
    times per row — prefer staging the codes column and calling
    :func:`bigram_slots_from_codes` on hot paths.
    """
    # adjacent pairs via zip_with over two slices of ONE codepoint array.
    # NOT sequence+transform with element_at(split(...), i): an
    # expression referenced INSIDE a lambda body is re-evaluated per
    # element (HOF lambdas see no common-subexpression elimination), so
    # that shape re-splits the whole string per character — O(L²) per
    # document, measured 57 s for sf0.1's 1.5M bigrams vs ~1 s for this
    # form, where split/slice are lambda ARGUMENTS evaluated once per row
    # and the lambdas touch only their own variables.
    return bigram_slots_from_codes(char_codes(col))


def bigram_count_mat(texts: list[str]) -> np.ndarray:
    """(n, 256) float64 bigram-count matrix — the pure numpy twin of
    :func:`bigram_slots` (counts instead of the occurrence stream),
    shared by the Spark fit path and the oracle generator so both train
    on bit-identical features.  ``strip(' ')`` mirrors SQL trim (spaces
    only), matching the Catalyst expression exactly."""
    X = np.zeros((len(texts), _N_FEATURES))
    for r, t in enumerate(texts):
        s = (t or "").lower().strip(" ")
        if len(s) < 2:
            continue
        # vectorized codepoint stream (a per-char Python loop was a
        # bench's worst entry: ~100M interpreter iterations at
        # sf0.1's 20k-doc fit sample).  utf-16-le yields one uint16 per
        # BMP codepoint == ord(); the ASCII corpus contract keeps it
        # surrogate-free, and the guard keeps the fallback exact beyond
        # BMP.  Counts are integer-valued floats either way, so the
        # trained weights are bit-identical to the loop version's.
        try:
            o = np.frombuffer(s.encode("utf-16-le"), dtype=np.uint16)
            if ((o >= 0xD800) & (o < 0xE000)).any():  # surrogate pair
                raise UnicodeEncodeError("utf-16", s, 0, 1, "non-BMP")
        except UnicodeEncodeError:
            o = np.fromiter(map(ord, s), dtype=np.int64, count=len(s))
        slots = (o[:-1].astype(np.int64) * 31 + o[1:]) % _N_FEATURES
        np.add.at(X[r], slots, 1.0)
    return X


def logreg_fit_mat(
    X: np.ndarray,
    y: np.ndarray,
    reg: float = _REG,
    n_iter: int = _N_ITER,
) -> tuple[np.ndarray, float]:
    """(weights, bias) — deterministic L2-regularized logistic regression:
    zero init, ``n_iter`` full Newton (IRLS) steps, no RNG, no early
    stop.  The pure numpy fit kernel shared with the oracle generator
    (the kmeans_fit_mat discipline): same rows in the same order ⇒
    bit-identical weights in both engines.  λ = reg·n on the weights
    (the MLlib regParam convention on summed loss), bias unpenalized."""
    n, d = X.shape
    Xb = np.hstack([X, np.ones((n, 1))])
    lam = np.full(d + 1, reg * n)
    lam[-1] = 0.0
    w = np.zeros(d + 1)
    for _ in range(n_iter):
        z = np.clip(Xb @ w, -30.0, 30.0)
        p = 1.0 / (1.0 + np.exp(-z))
        wt = np.maximum(p * (1.0 - p), 1e-6)
        g = Xb.T @ (y - p) - lam * w
        H = (Xb * wt[:, None]).T @ Xb + np.diag(lam + 1e-8)
        w = w + np.linalg.solve(H, g)
    return w[:-1], float(w[-1])


def label_documents(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    target_lang: str = "en",
) -> DataFrame:
    """(id, text, weak_label) — the shared featurization relation:
    the language pass is the featurization's
    dominant cost, and BOTH the fit's weak labels and the output's
    weak_label column need it.  fit + score previously each evaluated
    it over the whole corpus; computing it once here — and letting the
    caller ``localCheckpoint`` the result — halves the corpus
    expression passes.  At 100 TB the same split holds: featurize once
    into a persisted table, fit on a bounded sample of it, score every
    batch from it.

    The language pass itself moved from the per-row
    ``predicted_lang`` expression — token×language stopword membership,
    the one expression family in the repo that evaluated INTERPRETED
    instead of codegen — to the set-oriented
    :func:`functions.text.language_id_table` (explode tokens,
    broadcast-join the stopword lexicon, window-argmax; every stage
    codegen — its docstring's measured ~4.5 s → ~1 s at sf0.1).  This
    is also an ORACLE-ALIGNMENT fix on edge inputs the corpus never
    exercises: the quality oracle labels via the doc_lang_id CTE chain
    (``ORDER BY cnt DESC, lang`` — lexicographically FIRST language on
    an argmax tie; NULL text → join miss → 'und' → label 0), which is
    exactly language_id_table's semantics, whereas the old expression
    form broke argmax ties to the lexicographically GREATEST language
    (array_max over struct(hits, lang)) — an 'en'-vs-other tie flipped
    the label between engines.  (On NULL text both forms happened to
    label 0 — the expression returns the greatest language outright,
    which is never the target.)  Green before only because the corpora
    carry no argmax ties; identical by construction now.  Divergence
    pinned in tests/test_text_dedup.py::
    test_language_id_tie_and_null_semantics.

    CONTRACT: ``id_col`` must be unique per row (true of every corpus
    this engine ingests — doc_id is a key).  ``language_id_table``
    preserves input multiplicity, so an input carrying k duplicate
    rows for one id would join k×k here where the old per-row
    expression produced k; pre-``dropDuplicates`` such an input before
    calling.
    """
    langs = TXT.language_id_table(docs, id_col=id_col, text_col=text_col)
    return (
        docs.select(id_col, text_col)
        .join(langs, id_col)
        .select(
            F.col(id_col),
            F.col(text_col),
            (F.col("predicted_lang") == target_lang)
            .cast("int")
            .alias("weak_label"),
        )
    )


def fit_quality_weights(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    target_lang: str = "en",
    max_train: int = _MAX_TRAIN,
    labeled: DataFrame | None = None,
) -> tuple[np.ndarray, float]:
    """Train the quality model from weak language-ID labels on a bounded
    DETERMINISTIC sample: rows ranked by (md5(text), doc_id) — the
    md5-ranked cut of the ANN quantizer trainers with an explicit id
    tie-break so duplicate texts cannot reorder across engines — then
    the shared numpy kernels.  Fit cost is O(max_train), not O(corpus);
    the collect order IS the fit's float-summation order, so the oracle
    generator reproduces the weights bit-for-bit.  Pass ``labeled``
    (a :func:`label_documents` relation, ideally checkpointed) to skip
    re-evaluating the language expression over the corpus; weak_label
    cast int→double is exactly the old boolean→double label."""
    src = (
        labeled
        if labeled is not None
        else label_documents(docs, text_col, id_col, target_lang)
    )
    rows = (
        src.select(
            F.col(id_col).alias("id"),
            F.col(text_col).alias("txt"),
            F.col("weak_label").cast("double").alias("label"),
        )
        .orderBy(F.md5(F.col("txt")), F.col("id"))
        .limit(max_train)
        .collect()
    )
    if not rows:
        raise ValueError("fit_quality_weights: empty input")
    X = bigram_count_mat([r.txt for r in rows])
    y = np.array([r.label for r in rows], dtype=np.float64)
    return logreg_fit_mat(X, y)


def score_documents(
    docs: DataFrame,
    weights: tuple[np.ndarray, float] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    target_lang: str = "en",
    labeled: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, weak_label, p_target) for every document.

    ``weights=None`` fits on the input itself (the sf-test path); pass a
    pre-fit (w, b) to reproduce the 100 TB sample-fit/full-score split,
    and a checkpointed ``labeled`` relation (:func:`label_documents`)
    to reuse the featurization pass across fit + score + repeated
    calls.  Scoring never shuffles and never runs Python: the 257
    weights are inlined literals, the per-document margin is one
    codegen fold over the bigram stream, and the output is a map-only
    projection."""
    src = (
        labeled
        if labeled is not None
        else label_documents(docs, text_col, id_col, target_lang)
    )
    if weights is None:
        weights = fit_quality_weights(
            docs, text_col, id_col, target_lang, labeled=src
        )
    w, b = weights
    # the 257-literal weight array rides as a per-row column and the
    # fold lambda reads it by attribute reference.  (A foldable
    # CreateArray inside the lambda measures identically — constant
    # folding does reach literal subtrees; the column form is kept
    # because it stays cheap even when the weights someday become
    # NON-foldable, e.g. joined in from a model table — unlike the
    # in-lambda form, whose cost would silently become per-element.)
    w_arr = F.array(*[F.lit(float(x)) for x in w])
    # stage the codepoint array as its own projection:
    # bigram_slots references it 5x, and HOFs see no subexpression
    # elimination — inline, the split+ascii transform ran five times per
    # row (measured 2.6 s → 1.0 s for this query's bench entry).
    with_w = src.withColumn("__w", w_arr).withColumn(
        "__cps", char_codes(F.col(text_col))
    )
    margin = F.aggregate(
        bigram_slots_from_codes(F.col("__cps")),
        F.lit(float(b)),
        lambda acc, s: acc + F.element_at(F.col("__w"), s + 1),
    )
    p1 = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
    return with_w.select(
        F.col(id_col).cast("bigint").alias(id_col),
        F.col("weak_label"),
        round_stable(p1, 4).alias("p_target"),
    ).orderBy(id_col)
