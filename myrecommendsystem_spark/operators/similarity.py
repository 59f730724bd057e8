"""Similarity search over embedding columns (array<float>).

LLM-data-pipeline extensions:

- brute-force cosine top-k — the exactness baseline.  Query set broadcast
  against the corpus scan; per-query top-k via window.  O(Q·N) but zero
  shuffle of the corpus: at 100 TB this is the right shape whenever the
  query set is small.
- IVF (inverted file) top-k — sampled-train coarse quantizer; corpus
  partitioned by nearest centroid; queries probe only ``nprobe`` nearest
  cells.  The scale path: the corpus join key is the centroid id, so the
  search touches ~nprobe/k of the data.
- embedding near-dup pairs — thresholded cosine self-join (small side) /
  IVF-bucketed at scale via the same assignment.

Vector math: the DuckDB-oracle-gated baselines keep ``zip_with`` /
``aggregate`` expressions (semantics frozen — summation order matches
the recorded hashes); the approximate IVF paths use Arrow-batched numpy
kernels (:func:`_pdot`) — higher-order array lambdas are *interpreted*
per element in Spark (never whole-stage-codegen'd), and the measured
difference on 64-dim embeddings is ~5-10× (same finding as the
text-fingerprint kernels, functions/text.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.column import Column

from myrecommendsystem_spark.functions.compat import round_stable
from myrecommendsystem_spark.operators.dedup import (
    _recall_by_band,
    bucket_pairs,
    cap_buckets,
    min_id_keep_list,
    min_id_survivors,
)
from myrecommendsystem_spark.operators.parallelism import widen_for_kernel
from myrecommendsystem_spark.operators.relational import top_k_per_group


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _pdot(a: Column, b: Column) -> Column:
    """Arrow-batched dot product of two array<double> columns."""

    @pandas_udf("double")
    def _k(xa: pd.Series, xb: pd.Series) -> pd.Series:
        ma = np.array(list(xa), dtype=np.float64)
        mb = np.array(list(xb), dtype=np.float64)
        return pd.Series(np.einsum("ij,ij->i", ma, mb))

    return _k(a, b)


def as_unit_vectors(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, unit array<double>) — L2-normalized, double precision."""
    v = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(_dot(v, v))
    return df.select(
        F.col(id_col).alias("id"),
        F.transform(v, lambda x: x / norm).alias("unit"),
    )


def _empty_frame(df, schema: str) -> DataFrame:
    """Schema-stable empty result for degenerate (empty-corpus) inputs —
    the search/dedup entry points return this instead of letting the
    quantizer trainers hit a zero-row numpy matrix."""
    return df.sparkSession.createDataFrame([], schema)


# output of the compressed-domain searches (ivf_topk names its score cos)
_TOPK_SCHEMA = "query_id bigint, vec_id bigint, score double, rnk int"


def _unit(mat: np.ndarray) -> np.ndarray:
    """Rows of a float64 matrix divided in place by their L2 norm, floored
    at 1e-12 — the one numpy normalization of every search and quantizer
    kernel (the oracles' ``x / GREATEST(sqrt(...), 1e-12)``)."""
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    return mat


def _gather_unit(df: DataFrame, id_col: str, *vec_cols: str) -> tuple:
    """(ids, one unit matrix per vector column) of a relation that is
    small by contract — a query set, or the vectors of a re-rank
    shortlist — collected in ONE job.  Zero rows give (0, 0) matrices."""
    rows = df.select(F.col(id_col), *vec_cols).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    return (ids,) + tuple(
        _unit(
            np.array([r[i] for r in rows], dtype=np.float64).reshape(
                len(rows), -1 if rows else 0
            )
        )
        for i in range(1, len(vec_cols) + 1)
    )


def _probe_cells(unit: np.ndarray, centroids: np.ndarray, nprobe: int) -> np.ndarray:
    """(rows, nprobe) ids of each unit row's ``nprobe`` nearest cells:
    unit dot descending, ties to the LOWEST cell id (stable sort) — the
    oracles' ``ORDER BY cd DESC, c``."""
    dots = unit @ np.ascontiguousarray(centroids.T)
    return np.argsort(-dots, axis=1, kind="stable")[:, :nprobe]


def _rank_topk(
    scored: DataFrame, score_col: str, k: int, rank_col: str = "rnk"
) -> DataFrame:
    """Per-query top-k of a (query_id, vec_id, score) relation: score
    descending, ties to the lowest vec_id — the one ranking (and
    shortlist cut) of every distributed search."""
    return top_k_per_group(
        scored, ["query_id"], [F.col(score_col).desc(), F.col("vec_id")], k, rank_col
    )


def _scan_topk(
    corpus: DataFrame, queries: DataFrame, k: int, score_col: str
) -> DataFrame:
    """Exact top-k of two (id, vector) relations by a broadcast scan:
    the query side is broadcast, the corpus never shuffles, and each
    pair scores the round-stable SQL dot — the body of both exact
    searches, which differ only in what they feed it."""
    c = corpus.toDF("vec_id", "cv")
    q = queries.toDF("query_id", "qv")
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            round_stable(_dot(F.col("cv"), F.col("qv")), 4).alias(score_col),
        )
    )
    return _rank_topk(scored, score_col, k)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query: (query_id, vec_id, cos, rnk).

    The query side is broadcast — the corpus never shuffles.  Ties broken
    by corpus id for determinism.  Excludes self-matches when a query id
    also appears in the corpus.
    """
    return _scan_topk(
        as_unit_vectors(widen_for_kernel(corpus), id_col, vec_col),
        as_unit_vectors(queries, id_col, vec_col),
        k,
        "cos",
    )


def brute_force_topk_dot(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact maximum-inner-product top-k per query (MIPS):
    (query_id, vec_id, dot, rnk).

    The retrieval scoring twin of :func:`brute_force_topk`: raw dot
    product, NO normalization — recommendation / retrieval models score
    by inner product, where magnitude carries popularity/confidence and
    cosine would erase it.  Same scale shape: query side broadcast, the
    corpus never shuffles, per-query top-k via window.  (The classic
    MIPS-to-cosine norm-trick reduction — append sqrt(M²-|x|²) as an
    extra coordinate — matters when feeding an angular ANN index; the
    exact baseline scores directly.)
    """

    def raw(df: DataFrame) -> DataFrame:
        return df.select(F.col(id_col), F.col(vec_col).cast("array<double>"))

    return _scan_topk(raw(widen_for_kernel(corpus)), raw(queries), k, "dot")


def _threshold_pairs(
    a_ids: np.ndarray,
    a_mat: np.ndarray,
    b_ids: np.ndarray,
    b_mat: np.ndarray,
    threshold: float,
) -> pd.DataFrame:
    """One block of the cosine gram matrix of unit rows ``a_mat`` against
    ``b_mat``: the (id_a, id_b, cos) pairs with id_a < id_b and cos ≥
    ``threshold``, cos rounded like ``round_stable`` (dot + 1e-9, 4
    digits) so a rounding tie resolves the same way as the oracle."""
    sims = np.round(a_mat @ b_mat.T + 1e-9, 4)
    ia, ib = np.nonzero((sims >= threshold) & (a_ids[:, None] < b_ids[None, :]))
    return pd.DataFrame({"id_a": a_ids[ia], "id_b": b_ids[ib], "cos": sims[ia, ib]})


def near_duplicate_pairs(
    df: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
    exact_row_limit: int = 500_000,
    exact_bytes_limit: int = 256 << 20,
) -> DataFrame:
    """Embedding near-dup pairs (id_a < id_b, cos ≥ threshold).

    - ``exact``: broadcast-GEMM — the unit-normalized corpus (N×d float64,
      1 MB per 2k vectors at d=64) is collected once and broadcast to every
      task; each ``mapInPandas`` partition computes its block of the gram
      matrix with one numpy matmul and emits only the above-threshold
      pairs.  Same small-side-broadcast constraint as any broadcast join —
      the expression-tree pairwise dot it replaces evaluated interpreted
      per element and was ~10× slower at 2k vectors (2M pairs).
    - ``ivf``: delegate to :func:`near_duplicate_pairs_ivf` — bucketed
      self-join, corpus never leaves the executors.
    - ``auto`` (default): exact only while BOTH ``rows ≤ exact_row_limit``
      AND ``rows × d × 8 bytes ≤ exact_bytes_limit`` (default 256 MB) —
      the matrix the exact path collects+broadcasts is rows×d×8, so a
      row-count gate alone under-counts wide embeddings (500k rows is
      256 MB at d=64 but 4 GB at d=1024).  Above either bound the router
      takes IVF, so callers never fall into the driver-collect path at
      scale.

    Both paths score with :func:`_threshold_pairs`, the one cosine-
    threshold kernel; ``ml.als.item_similarities`` routes through here.
    """
    n_rows = None  # known only after the auto router's probe
    if method == "auto":
        # one job: the row count and the widest vector (null-safe — a
        # null vector's size never stands in for the table's width)
        probe = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.size(F.col(vec_col))).alias("d"),
        ).first()
        n_rows, dim = probe["n"], probe["d"] or 0
        method = (
            "exact"
            if n_rows <= exact_row_limit
            and n_rows * max(dim, 1) * 8 <= exact_bytes_limit
            else "ivf"
        )
    if method == "ivf":
        return near_duplicate_pairs_ivf(
            df,
            threshold=threshold,
            id_col=id_col,
            vec_col=vec_col,
            n=n_rows,
        )
    if method != "exact":
        raise ValueError(f"unknown method: {method!r}")

    u = as_unit_vectors(widen_for_kernel(df), id_col, vec_col)
    rows = u.collect()  # corpus side must fit the driver — see docstring
    ids = np.array([r.id for r in rows], dtype=np.int64)
    mat = np.array([r.unit for r in rows], dtype=np.float64)
    spark = df.sparkSession
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)

    def block(batches):
        for pdf in batches:
            yield _threshold_pairs(
                pdf["id"].to_numpy(dtype=np.int64),
                np.array(list(pdf["unit"]), dtype=np.float64),
                b_ids.value,
                b_mat.value,
                threshold,
            )

    return u.mapInPandas(block, "id_a long, id_b long, cos double")


def near_duplicate_pairs_ivf(
    df: DataFrame,
    threshold: float = 0.35,
    n_cells: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    n: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs, IVF-bucketed — the O(N²) escape hatch.

    Vectors are compared only when they share a cell; each vector is
    multi-probed into its ``nprobe`` nearest cells so pairs straddling a
    cell boundary are still found.  Pair volume shrinks
    ~n_cells/nprobe²× on uniform data.  Approximate — recall vs the
    exact join is asserted in tests; same output shape as
    :func:`near_duplicate_pairs` so the two are drop-in comparable.
    """
    if n is None:
        n = df.count()  # doubles as the empty gate and the fit's n
    if n == 0:
        return _empty_frame(df, "id_a bigint, id_b bigint, cos double")
    centroids = fit_ivf_centroids(df, n_cells, id_col, vec_col, seed, n=n)
    assigned = ivf_assign(df, centroids, id_col, vec_col, nprobe=nprobe)

    def cell_block(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy(dtype=np.int64)
        m = np.array(list(pdf["unit"]), dtype=np.float64)
        return _threshold_pairs(ids, m, ids, m, threshold)

    # One shuffle of the (id, unit) assignment rows on cell_id, then each
    # cell's pair generation is ONE BLAS gram-matrix block — replacing the
    # earlier per-pair Arrow dot over the cell self-JOIN, which
    # materialized every candidate pair as a wide (ua, ub) row first
    # (measured 7.1 s → 0.6 s for the same 500k candidate pairs at d=64).
    # Pairs caught in both probed cells dedup on the pair key.  Skew note:
    # a cell of size s costs O(s²) inside one task — n_cells must scale
    # with corpus size (same knob any IVF index tunes); the multi-probe
    # duplication factor is nprobe, not nprobe².
    return (
        assigned.groupBy("cell_id")
        .applyInPandas(cell_block, "id_a long, id_b long, cos double")
        .dropDuplicates(["id_a", "id_b"])
    )


def hyperplane_signs(n_bits: int, dim: int, salt: str = "hp") -> list[list[int]]:
    """Deterministic ±1 hyperplane matrix — md5 parity per (bit, dim).

    Computed at PLAN BUILD TIME in Python and inlined as literals into
    both the Catalyst expression and the DuckDB oracle, so the sign-bit
    LSH needs no runtime hash family to be replayed cross-engine (the
    same trick as the inlined RK power table, plans/text_queries.py).
    Charikar 2002 uses Gaussian hyperplanes; ±1 Rademacher rows keep
    the collision-probability guarantee (Achlioptas 2003 sparse random
    projections) while making every dot an exact ±sum both engines
    fold identically.
    """
    import hashlib

    return [
        [
            1
            if int(
                hashlib.md5(f"{salt}:{j}:{d}".encode()).hexdigest()[:8], 16
            )
            % 2
            == 0
            else -1
            for d in range(dim)
        ]
        for j in range(n_bits)
    ]


def _hp_prepare(
    df: DataFrame,
    n_bits: int,
    band_bits: int,
    id_col: str,
    vec_col: str,
    salt: str,
    dim: int | None = None,
):
    """(base, bands) for the sign-bit LSH family, or None on empty/0-dim.

    ``base`` = (id long, v array<double>) with zero-norm vectors
    excluded up front (mirrored in the oracle): their cosine is
    0/0 = NaN, and NaN comparison semantics diverge per engine (Spark
    SQL orders NaN greatest) — the exact GEMM path excludes them too
    (numpy NaN >= threshold is False).  ``bands`` = (id, band_idx,
    band_val) exploded one row per byte-band.

    All n_bits dots run in ONE fused fold: zip each element with its
    n_bits-sign row and left-fold an n_bits-slot accumulator over d
    ascending — per bit j the additions run in the identical
    left-assoc order as the oracle's generated ``±v[1] + ±v[2] …``
    chain (0.0 + x == x exactly), so the doubles and therefore the
    sign bits agree bitwise.  The equivalent flat expression tree
    (n_bits × dim element_at terms) fell out of codegen and evaluated
    interpreted per node — measured 5.7 s vs 0.9 s for this fold at
    sf0.1.
    """
    # Null-safe dim probe: an arbitrary .first() row can
    # be a null/short embedding, which silently emptied the whole family
    # while the oracle still computed pairs over the remaining rows.
    # max(size(v)) over non-null rows matches the population the oracle
    # (and the zero-norm filter below) actually sees.  The probe doubles
    # as the empty-input check (None/0 on an empty relation), and
    # callers that already know the corpus dim pass it to skip the job
    # (the cross-pair gate probes its new side only — one corpus, one
    # dim by contract).
    sig = _hp_prepare_sig(df, n_bits, band_bits, id_col, vec_col, salt, dim)
    if sig is None:
        return None
    return sig.select("id", "v"), _explode_bands(sig, n_bits // band_bits)


def _hp_prepare_sig(
    df: DataFrame,
    n_bits: int,
    band_bits: int,
    id_col: str,
    vec_col: str,
    salt: str,
    dim: int | None = None,
):
    """Fused signed relation for the sign-bit LSH family: ``(id, v,
    band0..band{k-1})`` — ONE row per vector carrying both the raw
    vector and its byte-band values, or None on empty/0-dim input.

    Why fused: a separate EXPLODED bands relation would make incremental
    consumers (the semantic fold) checkpoint TWO relations per step
    (base + bands) — two eager jobs and duplicated id/band storage.
    Fusing the band values onto the base row lets a caller checkpoint
    ONE relation and derive the exploded view with
    :func:`_explode_bands` (a map-only projection — free to recompute
    per consumer, unlike the sign fold, which stays materialized in the
    checkpoint).  Sign-fold semantics
    are bit-identical: same fused left-assoc fold, same band packing
    (see the fold note below).
    """
    if dim is None:
        probe = df.filter(F.col(vec_col).isNotNull()).agg(
            F.max(F.size(F.col(vec_col))).alias("d")
        ).first()
        dim = (
            int(probe["d"])
            if probe is not None and probe["d"] is not None
            else 0
        )
    if dim <= 0:
        return None
    from functools import reduce

    signs = hyperplane_signs(n_bits, dim, salt)
    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).filter(_dot(F.col("v"), F.col("v")) > 0)
    sign_matrix = F.array(
        *[
            F.array(*[F.lit(float(signs[j][d])) for j in range(n_bits)])
            for d in range(dim)
        ]
    )
    folded = F.aggregate(
        F.zip_with(
            F.col("v"),
            sign_matrix,
            lambda x, ms: F.transform(ms, lambda m: x * m),
        ),
        F.array(*([F.lit(0.0)] * n_bits)),
        lambda acc, term: F.zip_with(acc, term, lambda a, t: a + t),
    )
    n_bands = n_bits // band_bits
    dots = base.select("id", "v", folded.alias("djs"))
    band_cols = [
        reduce(
            lambda a, b: a + b,
            [
                F.when(
                    F.element_at(F.col("djs"), b * band_bits + i + 1) >= 0,
                    F.lit(1 << i),
                ).otherwise(F.lit(0))
                for i in range(band_bits)
            ],
        ).alias(f"band{b}")
        for b in range(n_bands)
    ]
    return dots.select("id", "v", *band_cols)


def _explode_bands(sig: DataFrame, n_bands: int) -> DataFrame:
    """(id, band_idx, band_val) view over a :func:`_hp_prepare_sig`
    relation — a map-only projection (prune + explode of already-
    computed band values), free to derive per consumer."""
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.col(f"band{b}").alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(
        "id",
        F.col("bk.band_idx").alias("band_idx"),
        F.col("bk.band_val").alias("band_val"),
    )


def hyperplane_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.35,
    n_bits: int = 16,
    band_bits: int = 8,
    max_bucket: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "hp",
    ordered: bool = True,
) -> DataFrame:
    """Sign-bit (random-hyperplane) LSH near-dup pairs → (id_a, id_b,
    n_bands, cos) — the fully ORACLE-GATED scale path for embedding
    near-dup (the IVF path is rows+recall only: its KMeans quantizer is
    not SQL-expressible; this one is, end to end).

    Shape at scale: per-vector signature bits are scan-local ±sums
    (pure Catalyst — one pass, no Python, no shuffle), bits pack into
    ``n_bits // band_bits`` byte-bands, vectors shuffle ONCE on
    (band_idx, band_val), and only same-bucket pairs are generated —
    never an all-pairs join.  Oversized buckets (> ``max_bucket``) are
    dropped before pairing by the same skew cap as the MinHash/SimHash
    banding (:func:`dedup.cap_buckets`).  Candidates are then exact-cosine
    verified at ``threshold`` with the engine's standard 4-digit
    round-stable convention, so the output is a deterministic SUBSET of
    :func:`near_duplicate_pairs` (pinned in tests).  Bucket width is
    the recall/cost knob: at 1B vectors, raise ``band_bits`` (and
    ``n_bits``) so expected bucket occupancy stays task-sized — the
    same tuning rule as any LSH index.
    """
    out_schema = "id_a bigint, id_b bigint, n_bands int, cos double"
    # no isEmpty pre-check: the prepare's dim probe is the empty check
    prepared = _hp_prepare(df, n_bits, band_bits, id_col, vec_col, salt)
    if prepared is None:
        return _empty_frame(df, out_schema)
    base, bands = prepared
    return hp_pairs_from_prepared(
        base, bands, threshold, max_bucket, ordered=ordered
    )


# bucket key of a sign-bit band
_HP_BAND = ["band_idx", "band_val"]


def _cosine_sides(
    base_a: DataFrame, base_b: DataFrame
) -> "tuple[DataFrame, DataFrame, Column]":
    """The two sides of an exact-cosine verify over (id, v) relations —
    (id_a, va, na) and (id_b, vb, nb), each norm computed once per
    VECTOR, not per pair, so the verify folds one dot per pair instead
    of three — and the 4-digit round-stable cosine over them."""

    def side(base: DataFrame, s: str) -> DataFrame:
        return base.select(
            F.col("id").alias(f"id_{s}"),
            F.col("v").alias(f"v{s}"),
            F.sqrt(_dot(F.col("v"), F.col("v"))).alias(f"n{s}"),
        )

    cos = round_stable(
        _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 4
    )
    return side(base_a, "a"), side(base_b, "b"), cos


def hp_pairs_from_prepared(
    base: DataFrame,
    bands: DataFrame,
    threshold: float = 0.35,
    max_bucket: int = 1000,
    ordered: bool = True,
) -> DataFrame:
    """Pair stage of :func:`hyperplane_lsh_pairs` over already-signed
    relations (``base`` = (id, v), ``bands`` = (id, band_idx,
    band_val)), so incremental maintenance (streaming/semantic_dedup.py)
    signs each vector ONCE and reuses the bands across its gate and
    self-dedup stages, the way the fold oracle's CTEs already do.

    ``ordered=False`` drops the final global sort (one whole exchange):
    set-shaped consumers — connected components, distinct-id gates —
    are order-insensitive, so internal callers skip the sort the
    registered pair queries keep for presentation (the driver's oracle
    hash is order-insensitive either way)."""
    cand = (
        bucket_pairs(cap_buckets(bands, _HP_BAND, max_bucket), _HP_BAND)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("int").alias("n_bands"))
    )
    a, b, cos = _cosine_sides(base, base)
    out = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", "n_bands", cos.alias("cos"))
        .filter(F.col("cos") >= threshold)
    )
    return out.orderBy("id_a", "id_b") if ordered else out


def hyperplane_recall_report(
    df: DataFrame,
    probe_max_id: int = 20,
    n_bits: int = 16,
    band_bits: int = 8,
    max_bucket: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "hp",
) -> DataFrame:
    """Sign-bit LSH S-curve measurement: per exact-cosine decile band,
    how many true pairs exist and how many the banded candidate stage
    caught — the hyperplane family's acceptance gate, as
    ``minhash_recall_report`` is MinHash's and ``ann_recall_report``
    IVF's.

    Returns (cosband, n_true, n_caught): ``cosband`` =
    ⌊10·round(cos, 4)⌋ over the exact cosine (band 3 ≈ cos ∈
    [0.3, 0.4); negative bands are the far rejection side), ``n_true``
    = probe pairs in the band, ``n_caught`` = those the capped
    (band_idx, band_val) candidate stage emitted.  For 16 bits in two
    8-bit bands the analytic curve is 1−(1−(1−θ/π)⁸)² with θ =
    arccos(cos) — low bands must show n_caught ≈ 0 (the banding
    doesn't flood the verify stage), high bands → 1.

    Scale shape: exact ground truth is the quadratic term, so it is
    bounded to a PROBE sample (ids < ``probe_max_id``) — the probe
    side broadcasts into one linear pass over the corpus (the
    brute_force_topk venue; the corpus never shuffles) — while the
    candidate side runs the production signing/banding/cap path
    (:func:`dedup.cap_buckets`, :func:`dedup.bucket_pairs`) over the
    full corpus unchanged.  Truth pairs are (probe, higher id):
    every such pair's smaller id is a probe, matching the candidate
    slice ``id_a < probe_max_id`` exactly (the minhash report's
    convention).
    """
    out_schema = "cosband int, n_true bigint, n_caught bigint"
    prepared = _hp_prepare(df, n_bits, band_bits, id_col, vec_col, salt)
    if prepared is None:
        return _empty_frame(df, out_schema)
    base, bands = prepared
    cand = (
        bucket_pairs(cap_buckets(bands, _HP_BAND, max_bucket), _HP_BAND)
        .select("id_a", "id_b")
        .distinct()
        .filter(F.col("id_a") < probe_max_id)
    )
    a, b, cos = _cosine_sides(base, base)
    # ⌊10·round(cos,4)⌋: the 4-digit round-stable cosine is already
    # replayed bitwise by the hp_pairs oracle convention, and ×10/floor
    # are single IEEE ops written identically in both engines — the
    # integer-div trick isn't available (no integer ratio exists for a
    # cosine), so op-order identity is the cross-engine contract here.
    truth = b.join(
        F.broadcast(a.filter(F.col("id_a") < probe_max_id)),
        F.col("id_b") > F.col("id_a"),
    ).select("id_a", "id_b", F.floor(cos * 10).cast("int").alias("cosband"))
    return _recall_by_band(truth, cand, "cosband")


def hyperplane_semantic_survivors(
    df: DataFrame,
    threshold: float = 0.35,
    n_bits: int = 16,
    band_bits: int = 8,
    max_bucket: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "hp",
) -> DataFrame:
    """Semantic-dedup keep-list (SemDeDup-shaped) → (id_col,
    cluster_size): sign-bit LSH pairs → connected components → one
    min-id survivor per cosine-cluster, singletons riding along at
    size 1.  ONE ``_hp_prepare`` feeds both the pair pipeline and the
    eligible population, so the signature scan and the eligibility
    filter are one pass."""
    out_schema = f"{id_col} bigint, cluster_size int"
    prep = _hp_prepare(df, n_bits, band_bits, id_col, vec_col, salt)
    if prep is None:
        return _empty_frame(df, out_schema)
    base, bands = prep
    # ordered=False: the pair relation feeds the component closure (a
    # set consumer) — the global sort exchange would be pure waste
    pairs = hp_pairs_from_prepared(
        base, bands, threshold, max_bucket, ordered=False
    )
    ids = base.select(F.col("id").alias(id_col))
    return min_id_keep_list(pairs, ids, id_col)


def hp_cross_pairs_from_prepared(
    new_base: DataFrame,
    new_bands: DataFrame,
    ref_base: DataFrame,
    ref_bands: DataFrame,
    threshold: float = 0.35,
    max_bucket: int = 1000,
    ordered: bool = True,
) -> DataFrame:
    """Cross-corpus semantic dedup → (new_id, ref_id, n_bands, cos):
    signed new vectors against a signed reference corpus through shared
    sign-bit LSH buckets (both sides prepared with the same salt and
    dim), the cross-pair twin of :func:`hp_pairs_from_prepared`.  The
    ``max_bucket`` cap applies to the REFERENCE side only, as in the
    text ``dedup.cross_corpus_near_duplicates`` gate: a pathological
    reference bucket is dropped, a hot ingest batch is never silently
    filtered.  Candidates are exact-cosine verified at ``threshold``."""
    ref_ok = cap_buckets(ref_bands, _HP_BAND, max_bucket)
    cand = (
        bucket_pairs(new_bands, _HP_BAND, ref=ref_ok)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("int").alias("n_bands"))
    )
    a, b, cos = _cosine_sides(new_base, ref_base)
    out = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            F.col("id_a").alias("new_id"),
            F.col("id_b").alias("ref_id"),
            "n_bands",
            cos.alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )
    return out.orderBy("new_id", "ref_id") if ordered else out


def kmeans_fit_mat(mat: np.ndarray, n_cells: int, seed: int = 42) -> np.ndarray:
    """k-means++ seeded Lloyd over an already-normalized (n, d) matrix —
    the PURE numpy fit shared by the Spark path (:func:`fit_ivf_centroids`)
    and the DuckDB-oracle twin (plans/ann_oracles.py), so the two train
    bit-identical centroids from the same rows, which is what lets the
    quantized-ANN family be hash-gated against the oracle."""
    rng = np.random.RandomState(seed)
    # k-means++ init
    centers = [mat[rng.randint(len(mat))]]
    for _ in range(1, n_cells):
        d2 = np.min(
            [((mat - c) ** 2).sum(axis=1) for c in centers], axis=0
        )
        probs = d2 / d2.sum() if d2.sum() > 0 else None
        centers.append(mat[rng.choice(len(mat), p=probs)])
    cent = np.array(centers)
    for _ in range(20):  # Lloyd — unit vectors, so argmin ||x-c||² = argmax x·c
        assign = (mat @ cent.T).argmax(axis=1)
        new = np.array(
            [
                mat[assign == c].mean(axis=0) if (assign == c).any() else cent[c]
                for c in range(n_cells)
            ]
        )
        if np.allclose(new, cent, atol=1e-6):
            cent = new
            break
        cent = new
    return cent


def pq_fit_mat(mat: np.ndarray, m: int, k: int, seed: int = 42) -> np.ndarray:
    """Per-subspace Lloyd over an already-normalized (n, d) matrix →
    (m, k, d/m) codebooks — the pure numpy twin shared with the oracle
    generator exactly like :func:`kmeans_fit_mat`."""
    d = mat.shape[1]
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    sub = d // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, k, sub))
    for j in range(m):
        x = mat[:, j * sub : (j + 1) * sub]
        cent = x[rng.choice(len(x), size=k, replace=len(x) < k)]
        for _ in range(20):
            d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            new = np.array(
                [
                    x[assign == c].mean(axis=0) if (assign == c).any() else cent[c]
                    for c in range(k)
                ]
            )
            if np.allclose(new, cent, atol=1e-8):
                cent = new
                break
            cent = new
        books[j] = cent
    return books


def _sample_matrix(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n: int,
    max_train: int,
    salt: str,
) -> np.ndarray:
    """Deterministic bounded training sample as a RAW (≤max_train, d)
    float64 matrix — the shared gather of the IVF/PQ quantizer fits
    (which unit-normalize it) and the PCA fit (which mean-centers it
    instead).  ``n`` is the caller-supplied input row count (the
    sampling fraction needs it); when ``n <= max_train`` the sample is
    the WHOLE input ordered by id, independent of ``salt`` — which is
    what lets :func:`build_ivfpq_index` gather once for both fits."""
    raw = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    if n > max_train:
        from myrecommendsystem_spark.operators.sampling import sample_fraction

        raw = sample_fraction(raw, "id", max_train / n, salt=salt)
    # orderBy(id) pins collect order: k-means init indexes into row order,
    # so codebooks must not depend on physical partition layout.
    return np.array([r.vec for r in raw.orderBy("id").collect()], dtype=np.float64)


def fit_ivf_centroids(
    df: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_train: int = 100_000,
    n: int | None = None,
) -> np.ndarray:
    """Coarse quantizer → (n_cells, d) float64 unit-space centroid matrix.

    Trained the way production IVF indexes train (faiss-style): on a
    BOUNDED deterministic subsample (≤ ``max_train`` rows, hash-keyed so
    the same rows are picked at any parallelism), k-means++ seeded Lloyd
    iterations in numpy on the driver.  The sample cap makes this O(1) in
    corpus size — at 100 TB the quantizer still trains on ≤100k vectors
    while ASSIGNMENT (:func:`ivf_assign`) stays fully distributed.

    RAW vectors are collected and normalized in numpy: routing the sample
    through ``as_unit_vectors`` first cost ~1.2 s per pass at 2k×64 —
    Spark evaluates higher-order array lambdas interpreted per element —
    and the quantizer needs no Spark-side normalization at all.  Returns
    the bare matrix (kernel-closure state for :func:`ivf_assign`), not a
    DataFrame: the fit is driver-local, a round-trip through
    ``createDataFrame`` + re-collect added two more jobs for nothing.

    ``n``: input row count when the caller already knows it — the
    job-fusion hook: without it a fit runs ``isEmpty()`` + ``count()`` +
    the sample collect (three scans of the corpus, two of them full
    passes at scale); a caller that counts once and threads ``n``
    through every fit pays ONE count for the whole index build.
    """
    if n is None:
        n = df.count()
    if n == 0:
        raise ValueError("fit_ivf_centroids: empty input — nothing to quantize")
    mat = _unit(_sample_matrix(df, id_col, vec_col, n, max_train, "ivf"))
    return kmeans_fit_mat(mat, n_cells, seed)


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids:
    (id, cell_id, unit) — one row per probed cell.

    One narrow FUSED Arrow pass over the corpus (no shuffle, no join):
    each batch is normalized and probed by a single numpy kernel — the
    (C, d) centroid matrix is closure state, probing with one (B, d) @
    (d, C) matmul + argsort (:func:`_probe_cells`).  Fused because a
    separate ``as_unit_vectors`` step evaluates interpreted array lambdas
    per element (~1.2 s per pass at just 2k×64 — the dominant cost of
    the whole IVF query before fusion).  Ties break on cell_id ascending.
    """

    def kernel(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            if len(ids) == 0:
                continue
            m = _unit(np.array(list(pdf["vec"]), dtype=np.float64))  # (B, d)
            top = _probe_cells(m, centroids, nprobe)
            rep = np.repeat(np.arange(len(ids)), nprobe)
            yield pd.DataFrame(
                {
                    "id": ids[rep],
                    "unit": [m[i].tolist() for i in rep],
                    "cell_id": top.reshape(-1).astype(np.int32),
                }
            )

    # NOT widened: the batch-matmul kernel costs ~µs/row, so fanning a
    # small input out to defaultParallelism loses more to the repartition
    # shuffle + per-partition Python worker spin-up than the kernel takes
    # (measured 1.4 s → 6 s at 2k vectors).  At scale the corpus arrives
    # already-wide from the scan; tiny inputs are fastest narrow.
    raw = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    return raw.mapInPandas(kernel, "id long, unit array<double>, cell_id int")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_cells: int = 16,
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k: probe only the nprobe nearest cells.

    (query_id, vec_id, cos, rnk) — same shape as brute_force_topk so the
    two are drop-in comparable (recall measured in tests).
    """
    n = corpus.count()  # doubles as the empty gate and the fit's n
    if n == 0:
        return _empty_frame(
            corpus, "query_id bigint, vec_id bigint, cos double, rnk int"
        )
    centroids = fit_ivf_centroids(corpus, n_cells, id_col, vec_col, seed, n=n)
    assigned = ivf_assign(
        corpus, centroids, id_col, vec_col, nprobe=1
    ).withColumnsRenamed({"id": "vec_id", "unit": "cu"})

    # nprobe nearest cells per query — same fused Arrow kernel as the corpus
    q_cells = ivf_assign(
        queries, centroids, id_col, vec_col, nprobe=nprobe
    ).withColumnsRenamed({"id": "query_id", "unit": "qu"})
    scored = (
        assigned.join(F.broadcast(q_cells), "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            round_stable(_pdot(F.col("cu"), F.col("qu")), 4).alias("cos"),
        )
    )
    return _rank_topk(scored, "cos", k)


def embedding_dedup_survivors(
    df: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
) -> DataFrame:
    """Rows surviving transitive embedding-cosine dedup (min-id per
    cluster) — the vector-space twin of ``dedup.dedup_near_survivors``.

    Pipeline: cosine near-dup pairs (auto-routed exact/IVF, see
    :func:`near_duplicate_pairs`) → connected components → keep one
    representative per component plus every unpaired row.  Transitive:
    a≈b≈c collapses to one survivor even when cos(a, c) < threshold —
    the same closure semantics pretraining dedup uses for text.
    """
    pairs = near_duplicate_pairs(
        df, threshold=threshold, id_col=id_col, vec_col=vec_col, method=method
    )
    return min_id_survivors(pairs, df, id_col)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN
# ---------------------------------------------------------------------------


def fit_pq_codebooks(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_train: int = 100_000,
    n: int | None = None,
) -> np.ndarray:
    """Train PQ codebooks → (m, k, d/m) float64.

    Product quantization (Jégou et al., PAMI 2011): split each UNIT
    vector into ``m`` subvectors and k-means each subspace independently;
    a vector is then stored as ``m`` uint8 codes — at d=64, m=8 that is
    8 bytes instead of 256, a 32× memory cut, which is what lets a
    100 TB-scale index keep its vectors in executor memory.  Same
    training discipline as :func:`fit_ivf_centroids`: bounded
    deterministic sample, driver-local numpy Lloyd — O(1) in corpus
    size; encoding and search stay fully distributed.  ``n``: see
    :func:`fit_ivf_centroids` — thread the count through to skip the
    per-fit ``isEmpty``/``count`` scans.
    """
    if n is None:
        n = df.count()
    if n == 0:
        raise ValueError("fit_pq_codebooks: empty input — nothing to quantize")
    mat = _unit(_sample_matrix(df, id_col, vec_col, n, max_train, "pq"))
    return pq_fit_mat(mat, m, k, seed)


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>) — each vector's m nearest-subcentroid ids.

    One fused Arrow pass (normalize + per-subspace argmin), no shuffle —
    the same kernel discipline as :func:`ivf_assign`.  Codes are the
    ONLY thing downstream search shuffles or caches.
    """
    m, k, sub = codebooks.shape

    def kernel(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            if len(ids) == 0:
                continue
            x = _unit(np.array(list(pdf["vec"]), dtype=np.float64))
            codes = np.empty((len(ids), m), dtype=np.int32)
            for j in range(m):
                xs = x[:, j * sub : (j + 1) * sub]
                d2 = ((xs[:, None, :] - codebooks[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame({"id": ids, "codes": list(codes)})

    raw = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    return raw.mapInPandas(kernel, "id long, codes array<int>")


def _exact_rerank_topk(
    corpus: DataFrame,
    shortlist: DataFrame,
    q_ids: np.ndarray,
    q_mat: np.ndarray,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact-cosine top-k over a (query_id, vec_id) shortlist — the
    shared re-rank tail of every compressed-domain search; ``q_ids`` /
    ``q_mat`` are the unit query matrix the search already gathered.

    Everything here is bounded by the search contract, so the re-rank is
    a DRIVER-side numpy pass (the faiss deployment shape — shortlist
    vectors are gathered and scored in memory):

    - the shortlist is Q × ``rerank`` pairs (a few hundred rows);
    - its TRUE vectors are fetched with a literal IN predicate on the
      corpus scan — the id filter reaches the parquet reader as a
      pushed filter, so a 100 TB corpus prunes to the row groups
      holding shortlist vectors; the gathered matrix is ≤ Q·rerank·d
      floats (megabytes), never corpus-sized;
    - exact unit-dot cosine, ties broken by vec_id, top-k per query.

    The previous distributed tail (normalize-HOF → two broadcast joins
    → window) spent ~0.9 s/search at sf0.1 on plan/codegen/scheduling
    for a 500-row job; the numpy pass removes that whole chain while
    keeping the corpus-side IO identical."""
    spark = corpus.sparkSession
    pair_rows = shortlist.select("query_id", "vec_id").collect()
    if not pair_rows:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    ids = sorted({int(r.vec_id) for r in pair_rows})
    c_ids, cmat = _gather_unit(
        corpus.filter(F.col(id_col).isin(ids)), id_col, vec_col
    )
    qidx = {int(q): i for i, q in enumerate(q_ids)}
    cidx = {int(c): i for i, c in enumerate(c_ids)}
    by_query: dict[int, list[int]] = {}
    for r in pair_rows:
        by_query.setdefault(int(r.query_id), []).append(int(r.vec_id))
    out = []
    for qid, cand_ids in by_query.items():
        cand_ids = [c for c in cand_ids if c in cidx]
        scores = cmat[[cidx[c] for c in cand_ids]] @ q_mat[qidx[qid]]
        ranked = sorted(
            zip(cand_ids, scores), key=lambda t: (-round(t[1], 4), t[0])
        )[:k]
        out.extend(
            (qid, c, float(np.round(s, 4)), i + 1)
            for i, (c, s) in enumerate(ranked)
        )
    return spark.createDataFrame(out, _TOPK_SCHEMA)


def _adc_topk(
    packed: DataFrame,
    queries: DataFrame,
    books: np.ndarray,
    rerank_corpus: DataFrame | None,
    k: int,
    rerank: int,
    id_col: str,
    vec_col: str,
    centroids: np.ndarray | None = None,
    nprobe: int = 1,
) -> DataFrame:
    """The one compressed-domain search of :func:`pq_topk` and
    :func:`ivfpq_search` over ``packed`` = (id, codes[, cell_id]):
    (query_id, vec_id, score, rnk).

    Probe: with ``centroids`` (IVF-PQ) each query probes its ``nprobe``
    nearest cells (:func:`_probe_cells`, on the gathered query matrix —
    a distributed pass for a query set that is small by contract would
    be one whole extra job) and the codes scan keeps only the probed
    cells.  PQ is the no-probe case: one cell holding every row, probed
    by every query.

    ADC: the (Q, m, k) table of query-subvector · subcentroid inner
    products rides the task closure; each (row, probing query) pair
    scores m table lookups summed — no vector reconstruction, no
    full-dim dot, and the codes never shuffle.

    Re-rank: ADC alone ranks coarsely — rows sharing codes tie — so the
    ADC top-``rerank`` shortlist per query goes through
    :func:`_exact_rerank_topk`; ``rerank_corpus=None`` (an index alone
    stores no vectors) returns the ADC ranking itself."""
    q_ids, q_mat = _gather_unit(queries, id_col, vec_col)
    if len(q_ids) == 0:
        return _empty_frame(packed, _TOPK_SCHEMA)
    nq, (m, _, sub) = len(q_ids), books.shape
    table = np.einsum("qjs,jcs->qjc", q_mat.reshape(nq, m, sub), books)
    if centroids is None:
        packed = packed.withColumn("cell_id", F.lit(0))
        probes = np.zeros((nq, 1), dtype=np.int64)
    else:
        probes = _probe_cells(q_mat, centroids, nprobe)
        packed = packed.filter(F.col("cell_id").isin(np.unique(probes).tolist()))
    hit = np.zeros((probes.max() + 1, nq), dtype=bool)  # hit[c, q]: q probes c
    hit[probes, np.arange(nq)[:, None]] = True
    b_state = packed.sparkSession.sparkContext.broadcast((table, q_ids, hit))

    def adc(batches):
        t, qids, hit = b_state.value
        for pdf in batches:
            # (row, query) pairs: each row against every query probing its cell
            rows, qi = np.nonzero(hit[pdf["cell_id"].to_numpy(dtype=np.int64)])
            if len(rows) == 0:
                continue
            c = np.array(list(pdf["codes"]), dtype=np.int64)[rows]  # (P, m)
            # subspaces summed left to right: a fixed order, where numpy's
            # sum(axis=...) picks pairwise or sequential by array layout
            s = t[qi, 0, c[:, 0]]
            for j in range(1, m):
                s = s + t[qi, j, c[:, j]]
            yield pd.DataFrame(
                {
                    "query_id": qids[qi],
                    "vec_id": pdf["id"].to_numpy()[rows],
                    "score": np.round(s, 4),
                }
            )

    scored = (
        packed.select("id", "codes", "cell_id")
        .mapInPandas(adc, "query_id long, vec_id long, score double")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    if rerank_corpus is None:
        return _rank_topk(scored, "score", k)
    shortlist = _rank_topk(scored, "score", max(rerank, k), "adc_rnk")
    return _exact_rerank_topk(
        rerank_corpus, shortlist, q_ids, q_mat, k, id_col, vec_col
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    k: int = 5,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k via PQ asymmetric distance (ADC) with
    exact re-ranking: (query_id, vec_id, score, rnk) — queries stay
    EXACT vectors, the corpus is scanned as its 8-byte codes, and the
    ADC top-``rerank`` shortlist per query (a few hundred ids) is
    re-scored by EXACT cosine on true vectors (the standard IVF-PQ
    deployment shape) — :func:`_adc_topk` with no probe.  Recall vs
    brute force asserted in tests (same contract as IVF).
    """
    n = corpus.count()  # doubles as the empty gate and the fit's n
    if n == 0:
        return _empty_frame(corpus, _TOPK_SCHEMA)
    books = fit_pq_codebooks(
        corpus, m=m, k=k_codes, id_col=id_col, vec_col=vec_col, seed=seed, n=n
    )
    codes = pq_encode(corpus, books, id_col, vec_col)
    return _adc_topk(codes, queries, books, corpus, k, rerank, id_col, vec_col)


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    k_codes: int = 16,
    k: int = 5,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF-PQ top-k — the full production ANN shape (faiss IndexIVFPQ):
    coarse cells bound WHICH vectors are scored (~nprobe/n_cells of the
    corpus), PQ codes bound WHAT is scored (8 bytes/vector), and an
    exact re-rank of the shortlist restores ranking fidelity.

    (query_id, vec_id, score, rnk) — drop-in comparable with
    brute_force_topk / ivf_topk / pq_topk (recall asserted in tests).

    Build: both quantizers train on bounded samples (O(1) in corpus
    size); the (cell_id, codes) index materializes with ONE build-time
    join on id.  Search: the probed cells filter the codes scan, ADC is
    m table lookups per (row, probing query) pair, and only the
    ≤ Q·rerank shortlist ever fetches true vectors.
    """
    n = corpus.count()  # doubles as the empty gate and the fits' n
    if n == 0:
        return _empty_frame(corpus, _TOPK_SCHEMA)
    index = build_ivfpq_index(
        corpus,
        n_cells=n_cells,
        m=m,
        k_codes=k_codes,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
        n=n,
    )
    return ivfpq_search(
        index,
        queries,
        corpus,
        nprobe=nprobe,
        k=k,
        rerank=rerank,
        id_col=id_col,
        vec_col=vec_col,
    )


def build_ivfpq_index(
    corpus: DataFrame,
    n_cells: int = 16,
    m: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    n: int | None = None,
    max_train: int = 100_000,
) -> "IvfPqIndex":
    """Build the (cell_id, codes) IVF-PQ index once, independent of any
    query: the index LIFECYCLE primitive — a 100 TB corpus encodes once
    and serves every subsequent search from its 8-byte codes, instead of
    re-quantizing per query the way the one-shot helpers do.

    Job fusion: ONE ``count`` gates emptiness and sizes both fits
    (fitting each quantizer on its own scans the corpus five times
    before encoding: 2×``isEmpty`` + 2×``count`` + 2 sample collects).
    When the corpus is within ``max_train`` both quantizers train on the
    SAME sample — the whole corpus ordered by id, which is what each fit
    would have collected independently — so the sample is gathered once;
    above the cap the two salted samples differ by design and are
    gathered separately, as each fit alone would.  Trained matrices are bit-identical
    to the per-fit path in both regimes."""
    if n is None:
        n = corpus.count()
    if n == 0:
        raise ValueError("build_ivfpq_index: empty input — nothing to quantize")
    if n <= max_train:
        mat = _unit(_sample_matrix(corpus, id_col, vec_col, n, max_train, "ivf"))
        centroids = kmeans_fit_mat(mat, n_cells, seed)
        books = pq_fit_mat(mat, m, k_codes, seed)
    else:
        centroids = fit_ivf_centroids(
            corpus, n_cells, id_col, vec_col, seed, max_train, n=n
        )
        books = fit_pq_codebooks(
            corpus, m=m, k=k_codes, id_col=id_col, vec_col=vec_col,
            seed=seed, max_train=max_train, n=n,
        )
    index = IvfPqIndex(packed=None, centroids=centroids, books=books)
    index.packed = index.encode(corpus, id_col, vec_col)
    return index


class IvfPqIndex:
    """packed: (id, codes array<int>, cell_id int); centroids (C, d);
    books (m, k, d/m) — everything a search needs, vectors excluded."""

    def __init__(self, packed: DataFrame, centroids: np.ndarray, books: np.ndarray):
        self.packed = packed
        self.centroids = centroids
        self.books = books

    def save(self, path: str) -> None:
        """Persist: codes as parquet (the corpus-sized part — columnar,
        splittable, ~9 bytes/vector), quantizer matrices as single-row
        parquet of flattened arrays (KB-scale driver state)."""
        self.packed.write.mode("overwrite").parquet(f"{path}/codes")
        spark = self.packed.sparkSession
        meta = spark.createDataFrame(
            [
                (
                    list(self.centroids.shape),
                    [float(x) for x in self.centroids.ravel()],
                    list(self.books.shape),
                    [float(x) for x in self.books.ravel()],
                )
            ],
            "c_shape array<int>, c_data array<double>, "
            "b_shape array<int>, b_data array<double>",
        )
        meta.coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")

    @classmethod
    def load(cls, spark, path: str) -> "IvfPqIndex":
        packed = spark.read.parquet(f"{path}/codes")
        r = spark.read.parquet(f"{path}/meta").first()
        centroids = np.array(r.c_data).reshape(r.c_shape)
        books = np.array(r.b_data).reshape(r.b_shape)
        return cls(packed=packed, centroids=centroids, books=books)

    def encode(
        self,
        new_vectors: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """Encode NEW vectors against the frozen quantizers →
        (id, codes, cell_id) — the ingestion-time primitive: train once,
        encode every arriving batch (faiss ``add`` semantics).  Both
        stages are distributed Arrow passes; the quantizers ride the
        task closure."""
        cells = ivf_assign(
            new_vectors, self.centroids, id_col, vec_col, nprobe=1
        ).select(F.col("id"), F.col("cell_id"))
        return pq_encode(new_vectors, self.books, id_col, vec_col).join(
            cells, "id"
        )

    def add(
        self,
        new_vectors: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IvfPqIndex":
        """In-memory incremental add: a NEW index whose packed relation
        is the union of the existing codes and the encoded batch."""
        return IvfPqIndex(
            packed=self.packed.unionByName(
                self.encode(new_vectors, id_col, vec_col)
            ),
            centroids=self.centroids,
            books=self.books,
        )

    def append_save(
        self,
        new_vectors: DataFrame,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """Durable incremental add: encode the batch and APPEND its codes
        to the saved parquet — at 100 TB the index grows by writing only
        the new vectors' ~9 bytes each; existing code files are never
        rewritten.  Quantizers stay frozen (standard IVF-PQ operations:
        retrain/rebuild only on measured recall drift)."""
        self.encode(new_vectors, id_col, vec_col).write.mode("append").parquet(
            f"{path}/codes"
        )


def ivfpq_search(
    index: IvfPqIndex,
    queries: DataFrame,
    rerank_corpus: DataFrame | None = None,
    nprobe: int = 4,
    k: int = 5,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a built/loaded IVF-PQ index.  ``rerank_corpus`` supplies
    true vectors for the exact re-rank stage; pass None to return the
    raw compressed-domain (ADC) ranking — the index alone never stores
    vectors."""
    return _adc_topk(
        index.packed, queries, index.books, rerank_corpus, k, rerank,
        id_col, vec_col, centroids=index.centroids, nprobe=nprobe,
    )


# ---------------------------------------------------------------------------
# Distributed PCA (covariance accumulation + driver-side eigh)
# ---------------------------------------------------------------------------


def pca_covariance(
    df: DataFrame, vec_col: str = "embedding"
) -> tuple[int, np.ndarray, np.ndarray]:
    """(n, mean, covariance) of a vector column, one distributed pass.

    The classic tall-skinny decomposition: executors accumulate Arrow
    partials ``(count, sum, sum-of-outer-products)`` per batch — each
    partial is O(d^2) floats regardless of batch size — then the
    partials reduce through one grouped sum keyed on the flattened
    (i, j) position.  Driver traffic is exactly d^2 + d + 1 scalars,
    independent of corpus size; no vector row ever leaves its executor.
    Covariance is the unbiased (n-1) estimator: (SS - n·μμᵀ)/(n-1).
    """
    first = df.select(vec_col).first()
    if first is None:
        raise ValueError("pca_covariance: empty input")
    d = len(first[0])

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            ss = mat.T @ mat  # d×d
            yield pd.DataFrame(
                {
                    "n": [int(len(mat))],
                    "s": [mat.sum(axis=0).tolist()],
                    "ss": [ss.reshape(-1).tolist()],
                }
            )

    part = df.select(vec_col).mapInPandas(
        partials, "n long, s array<double>, ss array<double>"
    )
    # Reduce the partials relationally: one grouped sum on (pos) for each
    # of the two arrays, one global sum for n.  The exploded relation is
    # (#partitions × d^2) rows — bounded by cluster width, not data.
    agg = part.agg(
        F.sum("n").alias("n"),
        F.array(
            *[F.sum(F.element_at("s", i + 1)) for i in range(d)]
        ).alias("s"),
    ).collect()[0]
    n, s = int(agg["n"]), np.asarray(agg["s"], dtype=np.float64)
    ss_rows = (
        part.select(F.posexplode("ss").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum("v").alias("v"))
        .collect()
    )
    ss = np.zeros(d * d)
    for r in ss_rows:
        ss[r["pos"]] = r["v"]
    ss = ss.reshape(d, d)
    mean = s / n
    cov = (ss - n * np.outer(mean, mean)) / max(n - 1, 1)
    return n, mean, cov


def pca_fit_mat(mat: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(mean, eigenvalues desc ≥0, eigenvectors as columns) of the
    unbiased sample covariance of a RAW (n, d) float64 matrix — the PURE
    numpy fit shared by the Spark path (:func:`fit_pca_sample`) and the
    DuckDB-oracle twin (plans/ann_oracles.py), the ``kmeans_fit_mat``
    discipline applied to PCA: same rows + same single-call
    numpy reductions ⇒ bit-identical basis in both engines.  (The
    DISTRIBUTED covariance (:func:`pca_covariance`) cannot be gated this
    way: partition-order summation noise rotates eigenvectors freely
    wherever the spectrum is near-degenerate.)"""
    n = len(mat)
    mean = mat.sum(axis=0) / n
    c = mat - mean
    cov = (c.T @ c) / max(n - 1, 1)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1]
    return mean, np.clip(evals[order], 0.0, None), evecs[:, order]


def fit_pca_sample(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_train: int = 100_000,
    n: int | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Deterministic bounded-sample PCA fit → (mean, evals, evecs).

    The fit_ivf_centroids discipline: a hash-keyed ≤``max_train``
    deterministic sample (same rows at any parallelism), collected in
    id order so the driver-side numpy fit is bit-reproducible outside
    Spark — O(1) in corpus size at 100 TB while projection stays fully
    distributed.  RAW vectors: PCA mean-centers, it does not normalize.
    ``n``: caller-known row count (skips the isEmpty + count scans).
    """
    if n is None:
        n = df.count()
    if n == 0:
        raise ValueError("fit_pca_sample: empty input — nothing to fit")
    return pca_fit_mat(_sample_matrix(df, id_col, vec_col, n, max_train, "pca"))


def pca_spectrum_rows(
    evals: np.ndarray, evecs: np.ndarray
) -> list[tuple]:
    """Spectrum output rows from a fitted basis — shared by the Spark
    builder and the oracle generator so the inlined per-component
    constants (top_dim, top_loading_abs) are literally the same values.
    Rounding is the round_stable (+eps) convention: the SQL twin
    recomputes eigenvalue/explained/cum from the DATA (projection
    variance onto the inlined eigenvectors), so both sides must land on
    the same side of every rounding boundary."""
    eps = 10.0 ** -11  # functions.compat._eps(6)
    total = float(evals.sum()) or 1.0
    cum = 0.0
    rows = []
    for i, lam in enumerate(evals):
        cum += float(lam) / total
        rows.append(
            (
                i + 1,
                round(float(lam) + eps, 6),
                round(float(lam) / total + eps, 6),
                round(cum + eps, 6),
                int(np.argmax(np.abs(evecs[:, i]))),
                round(float(np.max(np.abs(evecs[:, i]))) + eps, 6),
            )
        )
    return rows


def pca_spectrum(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Eigen-spectrum of the embedding covariance: one row per principal
    component — eigenvalue, explained-variance ratio, cumulative ratio,
    and the dimension with the largest |loading| (sign-free, so the
    eigenvector sign ambiguity cannot leak into the output).

    The basis comes from :func:`fit_pca_sample` — a bounded
    deterministic sample, O(1) driver work in corpus size (the faiss
    quantizer-training shape; at 100 TB the spectrum is estimated from
    ≤100k rows exactly like the IVF/PQ codebooks).  That determinism is
    what makes this DuckDB-gateable (plans/ann_oracles.pca_spectrum_
    oracle): the oracle inlines the eigenvectors and re-derives each
    eigenvalue from the data as the projection variance.  The fully
    distributed covariance remains available as :func:`pca_covariance`
    for exact-spectrum runs."""
    n = df.count()  # doubles as the empty gate and the fit's n
    if n == 0:
        return _empty_frame(
            df,
            "component int, eigenvalue double, explained_var double, "
            "cum_explained double, top_dim int, top_loading_abs double",
        )
    spark = df.sparkSession
    _mean, evals, evecs = fit_pca_sample(df, id_col=id_col, vec_col=vec_col, n=n)
    return spark.createDataFrame(
        pca_spectrum_rows(evals, evecs),
        "component int, eigenvalue double, explained_var double, "
        "cum_explained double, top_dim int, top_loading_abs double",
    )


def pca_project(
    df: DataFrame,
    components: np.ndarray,
    mean: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project vectors onto principal components (k×d matrix broadcast
    inside an Arrow kernel — the whitening/reduction step before an ANN
    index build or a clustering pass)."""
    comp = np.asarray(components, dtype=np.float64)
    mu = np.asarray(mean, dtype=np.float64)

    @pandas_udf("array<double>")
    def proj(vs: pd.Series) -> pd.Series:
        mat = np.asarray(list(vs), dtype=np.float64) - mu
        out = mat @ comp.T
        return pd.Series(out.tolist())

    return df.withColumn(out_col, proj(F.col(vec_col)))


def pca_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_components: int = 16,
    shortlist_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Dimension-reduced ANN: search in PCA space, re-rank exactly.

    The third compressed-domain path beside IVF (partition pruning) and
    PQ (code compression): project corpus and queries onto the top
    ``n_components`` principal directions (4x fewer floats at d=64,
    r=16), take a ``shortlist_factor``·k candidate set by reduced-space
    cosine, then exact-re-rank the shortlist on true vectors.  PCA is
    the distance-optimal linear reduction (projection preserves the
    dominant variance), so reduced-space top-N recall is high when the
    spectrum decays — the property pca_spectrum measures first.

    Scale: the basis is a bounded-sample deterministic driver fit
    (fit_pca_sample — O(1) in corpus size, and what makes the search
    DuckDB-gateable with inlined components); projection is
    one map-only Arrow pass; the reduced-space scan moves r-dim vectors
    only; the re-rank tail is the shared bounded numpy pass.
    """
    n = corpus.count()  # doubles as the empty gate and the fit's n
    if n == 0:
        return _empty_frame(corpus, _TOPK_SCHEMA)
    mean, _evals, evecs = fit_pca_sample(corpus, id_col, vec_col, n=n)
    comps = evecs[:, :n_components].T
    red_c = pca_project(corpus, comps, mean, vec_col, out_col="red").select(
        F.col(id_col).alias("id"), "red"
    )
    q_ids, q_mat, q_red = _gather_unit(
        pca_project(queries, comps, mean, vec_col, out_col="red"),
        id_col,
        vec_col,
        "red",
    )
    if len(q_ids) == 0:
        return _empty_frame(corpus, _TOPK_SCHEMA)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = _unit(np.asarray(list(pdf["red"]), dtype=np.float64))
            # 4-dp convention (ann_oracles): the rounded score + vec_id
            # tie-break make the shortlist cut deterministic, so the SQL
            # twin replays it exactly
            sims = np.round(mat @ q_red.T, 4)  # (batch, Q)
            ids = pdf["id"].to_numpy(dtype=np.int64)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, len(ids)),
                    "vec_id": np.tile(ids, len(q_ids)),
                    "red_score": sims.T.reshape(-1),
                }
            )

    scored = red_c.mapInPandas(
        score, "query_id long, vec_id long, red_score double"
    ).filter(F.col("query_id") != F.col("vec_id"))
    shortlist = _rank_topk(scored, "red_score", max(k * shortlist_factor, k))
    return _exact_rerank_topk(corpus, shortlist, q_ids, q_mat, k, id_col, vec_col)
