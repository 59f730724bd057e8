"""Lazy DuckDB oracles for the quantized-ANN family.

The hyperplane-LSH technique ("inline build-time constants into both
engines") applied to DATA-DEPENDENT constants: the PQ codebooks and IVF
centroids are deterministic, seed-pinned, bounded-sample fits
(operators/similarity.fit_pq_codebooks / fit_ivf_centroids), so the
oracle generator re-trains them OUTSIDE Spark — pyarrow reads the same
parquet, applies the same deterministic sample + sort-by-id + normalize,
and calls the SAME numpy fit kernels (similarity.kmeans_fit_mat /
pq_fit_mat) — then inlines the trained matrices as literals into a SQL
twin that replays every SEARCH stage: unit-normalize → encode (argmin
over subspace codebooks) / cell-assign (argmax over centroids) → probe →
ADC scan → shortlist → exact re-rank.  Only the numpy Lloyd fit itself
stays outside SQL; assignment, encoding, scoring, and ranking are all
hash-gated.  Verified: codes and final top-k match the Spark builders
bit-for-bit at sf0.001 and sf0.01 (tests/test_registry_oracle.py replays
per round).

Because the inlined literals depend on the corpus, each oracle is a
``Callable[[str], str]`` taking the sf_dir (registry.resolve_oracle);
the driver contract resolves them at its fixed sf0.01
(registry.DRIVER_ORACLE_SF_DIR) while local replays resolve at whatever
scale they run — the oracle trains on the same rows the Spark builder
trains on either way.

Float-parity notes (why this hashes):

- the training matrix is identical by construction: same parquet rows,
  float32 → float64 widening is exact in both readers, same sort by id,
  same numpy normalize — then literally the same fit function;
- repr(float) literals round-trip doubles exactly, so the SQL sees the
  identical codebooks;
- per-subspace distances / dots differ from numpy only in summation
  order (~1e-16); argmin/argmax margins of a Lloyd-converged quantizer
  are vastly larger, and every emitted score is rounded to 4 decimals
  on both sides (np.round in the kernels, ROUND here), so rank order
  and hashes agree.
"""

from __future__ import annotations

from functools import wraps
import hashlib

import numpy as np

from myrecommendsystem_spark.io import readers

_DRIVER_DIM = 64  # embeddings.parquet contract (TESTDATA.md)


def _stamped_cache(table: str):
    """Per-process memo keyed on (sf_dir, io.readers.table_stamp) — the
    lru_cache shape, plus invalidation when the data under a reused
    sf_dir is regenerated in-process (a stale inlined-constants oracle
    would silently diverge from a fresh Spark fit).  It caches the
    DuckDB reference side only, never a measured query.  Bounded like
    lru_cache(maxsize=8) by FIFO eviction; remote paths stamp to a
    constant (sf_dir-only keying)."""

    def deco(fn):
        memo: dict = {}

        @wraps(fn)
        def wrap(sf_dir: str):
            key = (sf_dir, readers.table_stamp(sf_dir, table))
            if key not in memo:
                if len(memo) >= 8:
                    memo.pop(next(iter(memo)))
                memo[key] = fn(sf_dir)
            return memo[key]

        return wrap

    return deco




@_stamped_cache("embeddings")
def _unit_matrix(sf_dir: str) -> tuple[np.ndarray, np.ndarray]:
    """(ids, unit rows) — the pyarrow twin of the Spark fits' training
    collect: all embedding rows sorted by vec_id, float64, unit-norm.
    Mirrors fit_*'s bounded deterministic sample when n > max_train
    (same md5 coordinate as operators/sampling.hash_key)."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    ids = t["vec_id"].to_numpy()
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    mat = np.array(t["embedding"].to_pylist(), dtype=np.float64)[order]
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    return ids, mat


def _sample_ids(ids: np.ndarray, fraction: float, salt: str) -> np.ndarray:
    """Boolean keep-mask — the pure-Python twin of sampling.sample_fraction
    (md5(salt || key) first-8-hex < lexicographic cut)."""
    if fraction >= 1.0:
        return np.ones(len(ids), dtype=bool)
    cut = format(int(round(fraction * 16**8)), "08x")
    return np.array(
        [
            hashlib.md5(f"{salt}{int(i)}".encode()).hexdigest()[:8] < cut
            for i in ids
        ]
    )


def _train_matrix(sf_dir: str, salt: str, max_train: int = 100_000) -> np.ndarray:
    ids, mat = _unit_matrix(sf_dir)
    if len(ids) == 0:
        raise ValueError(f"ann oracle: no embeddings at {sf_dir}")
    if len(ids) > max_train:
        mat = mat[_sample_ids(ids, max_train / len(ids), salt)]
    return mat


@_stamped_cache("embeddings")
def _raw_matrix(sf_dir: str) -> tuple[np.ndarray, np.ndarray]:
    """(ids, RAW float64 rows sorted by vec_id) — the pyarrow twin of
    fit_pca_sample's training collect (PCA mean-centers, it does not
    normalize — contrast _unit_matrix)."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    ids = t["vec_id"].to_numpy()
    order = np.argsort(ids, kind="stable")
    return ids[order], np.array(t["embedding"].to_pylist(), dtype=np.float64)[
        order
    ]


def _lit1(a: np.ndarray) -> str:
    return "[" + ",".join(repr(float(x)) for x in a) + "]"


def _lit2(a: np.ndarray) -> str:
    return (
        "["
        + ",".join(
            "[" + ",".join(repr(float(x)) for x in row) + "]" for row in a
        )
        + "]"
    )


def _lit3(a: np.ndarray) -> str:
    return "[" + ",".join(_lit2(plane) for plane in a) + "]"


# Shared CTE text: unit-normalized corpus + the 10-query contract.
_U_CTE = """
emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
u AS (
  SELECT vec_id,
         [x / GREATEST(sqrt(list_sum([y*y for y in v])), 1e-12) for x in v] AS uv
  FROM emb
)
""".strip()


def _codes_cte(m: int, k_codes: int, sub: int, src: str = "u") -> str:
    """codes: per-row PQ code list — argmin over the inlined subspace
    codebooks with numpy's first-min tie-break (list_position of min)."""
    return f"""
codes AS (
  SELECT vec_id, {"cell_id, " if src == "cells" else ""}
     [ list_position(dl, list_min(dl)) - 1
       for dl in [
         [ list_sum([ pow(uv[(j-1)*{sub}+s] - bk[j][c][s], 2.0)
                      for s in generate_series(1,{sub}) ])
           for c in generate_series(1,{k_codes}) ]
         for j in generate_series(1,{m}) ] ] AS cs
  FROM {src} CROSS JOIN b
)
""".strip()


def _adc_tail(m: int, sub: int, cand_sql: str, rerank: int, k: int) -> str:
    """ADC score (query subvector · assigned subcentroid, summed over
    subspaces, rounded 4) → per-query top-``rerank`` shortlist → exact
    unit-dot re-rank → top-``k`` — the twin of similarity.pq_topk /
    ivfpq_search stages 1-2 (_exact_rerank_topk)."""
    return f"""
adc AS (
  SELECT q.query_id, c.vec_id,
         ROUND(list_sum([
             list_sum([ qu[(j-1)*{sub}+s] * bk[j][cs[j]+1][s]
                        for s in generate_series(1,{sub}) ])
             for j in generate_series(1,{m}) ]), 4) AS score
  FROM {cand_sql}
  WHERE c.vec_id != q.query_id
),
shortlist AS (
  SELECT query_id, vec_id
  FROM (SELECT query_id, vec_id,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY score DESC, vec_id
               ) AS adc_rnk
        FROM adc)
  WHERE adc_rnk <= {rerank}
),
exact AS (
  SELECT s.query_id, s.vec_id,
         ROUND(list_sum([cu.uv[i] * qu.uv[i]
                         for i in generate_series(1, len(qu.uv))]), 4) AS score
  FROM shortlist s
  JOIN u cu ON cu.vec_id = s.vec_id
  JOIN u qu ON qu.vec_id = s.query_id
)
SELECT query_id, vec_id, score, rnk FROM (
  SELECT query_id, vec_id, score,
         CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY score DESC, vec_id
         ) AS INTEGER) AS rnk
  FROM exact)
WHERE rnk <= {k}
""".strip()


@_stamped_cache("embeddings")
def pq_oracle(sf_dir: str) -> str:
    """DuckDB twin of plans/text_queries.ann_topk_pq (similarity.pq_topk,
    m=8, k_codes=16, k=5, rerank=50): pure ADC over the whole corpus —
    no cells — then exact re-rank."""
    from myrecommendsystem_spark.operators.similarity import pq_fit_mat

    m, k_codes, k, rerank = 8, 16, 5, 50
    books = pq_fit_mat(_train_matrix(sf_dir, "pq"), m=m, k=k_codes, seed=42)
    sub = books.shape[2]
    return f"""
WITH b AS (SELECT {_lit3(books)}::DOUBLE[][][] AS bk),
{_U_CTE},
{_codes_cte(m, k_codes, sub)},
q AS (SELECT vec_id AS query_id, uv AS qu FROM u WHERE vec_id < 10),
{_adc_tail(m, sub, "codes c CROSS JOIN q CROSS JOIN b", rerank, k)}
"""


def _ivfpq_sql(books: np.ndarray, cents: np.ndarray) -> str:
    m, k_codes, sub = books.shape
    n_cells, dim = cents.shape
    nprobe, k, rerank = 4, 5, 50
    cand = (
        "codes c JOIN qprobe p ON p.cell_id = c.cell_id "
        "JOIN q ON q.query_id = p.query_id CROSS JOIN b"
    )
    return f"""
WITH b AS (SELECT {_lit3(books)}::DOUBLE[][][] AS bk,
                  {_lit2(cents)}::DOUBLE[][] AS ct),
{_U_CTE},
celldots AS (
  SELECT vec_id, uv,
         [ list_sum([ uv[s] * ct[c][s] for s in generate_series(1,{dim}) ])
           for c in generate_series(1,{n_cells}) ] AS cd
  FROM u CROSS JOIN b
),
cells AS (
  SELECT vec_id, uv,
         CAST(list_position(cd, list_max(cd)) - 1 AS INTEGER) AS cell_id
  FROM celldots
),
{_codes_cte(m, k_codes, sub, src="cells")},
qprobe AS (
  SELECT query_id, cell_id FROM (
    SELECT vec_id AS query_id, g.c - 1 AS cell_id,
           ROW_NUMBER() OVER (
               PARTITION BY vec_id ORDER BY cd[g.c] DESC, g.c
           ) AS pr
    FROM celldots, (SELECT unnest(generate_series(1,{n_cells})) AS c) g
    WHERE vec_id < 10
  ) WHERE pr <= {nprobe}
),
q AS (SELECT vec_id AS query_id, uv AS qu FROM u WHERE vec_id < 10),
{_adc_tail(m, sub, cand, rerank, k)}
"""


@_stamped_cache("embeddings")
def ivfpq_oracle(sf_dir: str) -> str:
    """DuckDB twin of ann_topk_ivfpq AND ann_topk_ivfpq_search — the two
    builders run the identical quantizers (seed 42, same bounded sample)
    and search parameters (n_cells=16, nprobe=4, m=8, k_codes=16, k=5,
    rerank=50); the _search variant only amortizes the index build
    through the save/load lifecycle, which round-trips the float64
    matrices exactly.  Cell assignment: argmax unit-dot with numpy
    stable-argsort's lowest-index tie-break (list_position of max);
    query probing: top-nprobe cells by dot desc, cell asc."""
    from myrecommendsystem_spark.operators.similarity import (
        kmeans_fit_mat,
        pq_fit_mat,
    )

    books = pq_fit_mat(_train_matrix(sf_dir, "pq"), m=8, k=16, seed=42)
    cents = kmeans_fit_mat(_train_matrix(sf_dir, "ivf"), n_cells=16, seed=42)
    return _ivfpq_sql(books, cents)


def _celldots_cte(cents: np.ndarray) -> str:
    """Unit vectors + per-cell dots — the assignment substrate shared by
    the IVF twins.  _U_CTE's uv IS the ivf_assign normalization
    (x / max(||v||, 1e-12) over the RAW vector, applied once)."""
    n_cells, dim = cents.shape
    return f"""b AS (SELECT {_lit2(cents)}::DOUBLE[][] AS ct),
{_U_CTE},
un AS (SELECT vec_id, uv AS u FROM u),
celldots AS MATERIALIZED (
  SELECT vec_id, u,
         [ list_sum([ u[s] * ct[c][s] for s in generate_series(1,{dim}) ])
           for c in generate_series(1,{n_cells}) ] AS cd
  FROM un CROSS JOIN b
)"""


@_stamped_cache("embeddings")
def ivf_topk_oracle(sf_dir: str) -> str:
    """DuckDB twin of ann_topk_ivf (similarity.ivf_topk, n_cells=16,
    nprobe=4, k=5): corpus rows in their argmax cell, queries probe
    their top-4 cells, candidates score exact unit-dot cosine
    (round-stable), window top-5.  The u CTE here mirrors ivf_assign's
    numpy normalization (max(norm, 1e-12)); the uv CTE's zero-norm
    guard composes harmlessly (unit vectors are unit under both)."""
    from myrecommendsystem_spark.operators.similarity import kmeans_fit_mat

    cents = kmeans_fit_mat(_train_matrix(sf_dir, "ivf"), n_cells=16, seed=42)
    n_cells = cents.shape[0]
    cos = sql_round_stable_local(
        "list_sum([a.u[i] * q.u[i] for i in generate_series(1, len(q.u))])"
    )
    return f"""
WITH {_celldots_cte(cents)},
cells AS (
  SELECT vec_id, u,
         CAST(list_position(cd, list_max(cd)) - 1 AS INTEGER) AS cell_id
  FROM celldots
),
qprobe AS (
  SELECT query_id, cell_id FROM (
    SELECT vec_id AS query_id, g.c - 1 AS cell_id,
           ROW_NUMBER() OVER (
               PARTITION BY vec_id ORDER BY cd[g.c] DESC, g.c
           ) AS pr
    FROM celldots, (SELECT unnest(generate_series(1,{n_cells})) AS c) g
    WHERE vec_id < 10
  ) WHERE pr <= 4
),
q AS (SELECT vec_id AS query_id, u FROM un WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, a.vec_id, {cos} AS cos
  FROM cells a
  JOIN qprobe p ON p.cell_id = a.cell_id
  JOIN q ON q.query_id = p.query_id
  WHERE a.vec_id != q.query_id
)
SELECT query_id, vec_id, cos, rnk FROM (
  SELECT query_id, vec_id, cos,
         CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY cos DESC, vec_id
         ) AS INTEGER) AS rnk
  FROM scored)
WHERE rnk <= 5
"""


@_stamped_cache("embeddings")
def ivf_near_dup_oracle(sf_dir: str) -> str:
    """DuckDB twin of embedding_near_dup_ivf
    (similarity.near_duplicate_pairs_ivf, n_cells=16, nprobe=2,
    threshold=0.35): every vector multi-probes its top-2 cells, pairs
    sharing ANY probed cell score exact unit-dot cosine (the kernel's
    np.round(sims + 1e-9, 4) convention), id_a < id_b, duplicates from
    double-shared cells collapse via DISTINCT."""
    from myrecommendsystem_spark.operators.similarity import kmeans_fit_mat

    cents = kmeans_fit_mat(_train_matrix(sf_dir, "ivf"), n_cells=16, seed=42)
    n_cells = cents.shape[0]
    cos = sql_round_stable_local(
        "list_sum([a.u[i] * p2.u[i] for i in generate_series(1, len(a.u))])"
    )
    return f"""
WITH {_celldots_cte(cents)},
cells2 AS MATERIALIZED (
  SELECT vec_id, u, cell_id FROM (
    SELECT vec_id, u, g.c - 1 AS cell_id,
           ROW_NUMBER() OVER (
               PARTITION BY vec_id ORDER BY cd[g.c] DESC, g.c
           ) AS pr
    FROM celldots, (SELECT unnest(generate_series(1,{n_cells})) AS c) g
  ) WHERE pr <= 2
)
SELECT DISTINCT a.vec_id AS id_a, p2.vec_id AS id_b, {cos} AS cos
FROM cells2 a
JOIN cells2 p2 ON a.cell_id = p2.cell_id AND a.vec_id < p2.vec_id
WHERE {cos} >= 0.35
"""


def sql_round_stable_local(expr: str, digits: int = 4) -> str:
    """Local copy of functions.compat.sql_round_stable (avoids importing
    Spark modules at oracle-generation time)."""
    return f"ROUND(({expr}) + {10.0 ** -(digits + 5)!r}, {digits})"


@_stamped_cache("embeddings")
def rag_report_oracle(sf_dir: str) -> str:
    """DuckDB twin of plans/text_queries.rag_ingest_pipeline — the whole
    composed RAG ingestion job: CDC chunking (the shared byte-exact
    ``cdc_chunks`` CTE chain from the doc_cdc_chunks oracle) → the
    feature-hash embedding recomputed IN SQL (3-gram polynomial hash;
    byte values ≤127 keep every hash < 2^47, so plain BIGINT arithmetic
    — no wraparound to replay; sign = bit 31, slot = h % 64; the
    64-slot ±1 sums are integers, so the L2 norm is bit-exact in any
    summation order, and the float32 cast mirrors the kernel's
    ``astype(np.float32)``) → IVF cell assignment against centroids the
    generator trains on LOCALLY-recomputed chunk embeddings (the same
    pure kernels the Spark pipeline runs: text.cdc_cut_points +
    text.hash_embed_one, then the shared kmeans_fit_mat) → per-cell
    chunk counts + byte volume."""
    import pyarrow.parquet as pq

    from myrecommendsystem_spark.functions.text import (
        cdc_cut_points,
        hash_embed_one,
    )
    from myrecommendsystem_spark.operators.similarity import kmeans_fit_mat
    from myrecommendsystem_spark.plans.text_queries import _CDC_CHUNKS_CTES

    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    rows = []
    for did, text in zip(t["doc_id"].to_pylist(), t["text"].to_pylist()):
        # The SQL twin hashes per-CHARACTER codepoints (ord over
        # regexp_split_to_array) while text.hash_embed_one hashes the
        # utf-8 BYTE stream — identical only while the corpus is pure
        # ASCII (true for the committed testdata; same contract the
        # doc_cdc_chunks oracle leans on).  Fail loudly at oracle-build
        # time instead of as a mysterious red hash.
        if text is not None and not text.isascii():
            raise ValueError(
                f"rag oracle: non-ASCII text in doc_id={did} at {sf_dir} "
                "breaks the codepoint==byte contract between the SQL "
                "twin and text.hash_embed_one"
            )
        data = (text or "").encode("utf-8")
        cuts = cdc_cut_points(data)
        for ci in range(len(cuts) - 1):
            chunk = data[cuts[ci] : cuts[ci + 1]].decode("utf-8", "ignore")
            rows.append((did * 10_000 + ci, hash_embed_one(chunk)))
    if not rows:
        raise ValueError(f"rag oracle: no chunks at {sf_dir}")
    rows.sort(key=lambda r: r[0])
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    if len(ids) > 100_000:
        keep = _sample_ids(ids, 100_000 / len(ids), "ivf")
        mat = mat[keep]
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    cents = kmeans_fit_mat(mat, n_cells=8, seed=42)
    n_cells, dim = cents.shape
    p2, p1 = 1000003 * 1000003, 1000003
    vsums = ",\n         ".join(
        f"SUM(CASE WHEN slot = {k} THEN sgn ELSE 0 END) AS v{k}"
        for k in range(dim)
    )
    sq = " + ".join(f"v{k}*v{k}" for k in range(dim))
    elist = ", ".join(
        f"CAST(CAST(v{k} / nrm AS REAL) AS DOUBLE)" for k in range(dim)
    )
    return f"""
WITH RECURSIVE {_CDC_CHUNKS_CTES},
b AS (SELECT {_lit2(cents)}::DOUBLE[][] AS ct),
grams AS MATERIALIZED (
  SELECT id, chunk_idx, h % 64 AS slot,
         CASE WHEN (h // 2147483648) % 2 = 0 THEN 1.0 ELSE -1.0 END AS sgn
  FROM (
    SELECT id, chunk_idx,
           unnest([ (cs2[i] + 7) * {p2} + (cs2[i+1] + 7) * {p1} + (cs2[i+2] + 7)
                    for i in generate_series(1, len(cs2) - 2) ]) AS h
    FROM (SELECT id, chunk_idx,
                 [CAST(ord(ch) AS BIGINT)
                  for ch in regexp_split_to_array(lower(chunk), '')] AS cs2
          FROM cdc_chunks)
  )
),
vecs AS MATERIALIZED (
  SELECT id, chunk_idx,
         {vsums}
  FROM grams GROUP BY 1, 2
),
evecs AS MATERIALIZED (
  SELECT c.id, c.chunk_idx, c.n_bytes,
         CASE WHEN v.id IS NULL OR nrm = 0 THEN NULL ELSE [{elist}] END AS e
  FROM cdc_chunks c
  LEFT JOIN (SELECT *, sqrt({sq}) AS nrm FROM vecs) v
    ON v.id = c.id AND v.chunk_idx = c.chunk_idx
),
cells AS (
  SELECT id, chunk_idx, n_bytes,
         CASE WHEN e IS NULL THEN 0
              ELSE CAST(list_position(cd, list_max(cd)) - 1 AS INTEGER)
         END AS cell_id
  FROM (
    SELECT id, chunk_idx, n_bytes, e,
           [ list_sum([ e[s] / gn * ct[c][s]
                        for s in generate_series(1, {dim}) ])
             for c in generate_series(1, {n_cells}) ] AS cd
    FROM (SELECT *,
                 GREATEST(sqrt(list_sum([x*x for x in e])), 1e-12) AS gn
          FROM evecs CROSS JOIN b)
  )
)
SELECT CAST(cell_id AS INTEGER) AS cell_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(n_bytes) AS BIGINT) AS bytes
FROM cells GROUP BY cell_id ORDER BY cell_id
"""


@_stamped_cache("embeddings")
def kmeans_clusters_oracle(sf_dir: str) -> str:
    """DuckDB twin of plans/analytics_queries.embedding_kmeans_clusters:
    the inlined 8-cell centroids (same fit), argmax-unit-dot assignment,
    one grouped count."""
    from myrecommendsystem_spark.operators.similarity import kmeans_fit_mat

    cents = kmeans_fit_mat(_train_matrix(sf_dir, "ivf"), n_cells=8, seed=42)
    n_cells, dim = cents.shape
    return f"""
WITH b AS (SELECT {_lit2(cents)}::DOUBLE[][] AS ct),
{_U_CTE},
cells AS (
  SELECT vec_id,
         CAST(list_position(cd, list_max(cd)) - 1 AS INTEGER) AS cluster_id
  FROM (SELECT vec_id,
               [ list_sum([ uv[s] * ct[c][s] for s in generate_series(1,{dim}) ])
                 for c in generate_series(1,{n_cells}) ] AS cd
        FROM u CROSS JOIN b)
)
SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM cells GROUP BY cluster_id ORDER BY cluster_id
"""


@_stamped_cache("embeddings")
def pca_spectrum_oracle(sf_dir: str) -> str:
    """DuckDB twin of plans/text_queries.embedding_pca_spectrum
    (similarity.pca_spectrum over the fit_pca_sample basis).

    The generator runs the SAME shared fit (pca_fit_mat on the
    bit-identical raw matrix) and inlines the EIGENVECTORS; the SQL then
    re-derives every eigenvalue FROM THE DATA as the unbiased variance
    of the projection onto that eigenvector — the textbook identity
    λ_i = Var(e_iᵀx) — plus explained/cumulative ratios from the
    SQL-side sums.  Only top_dim / top_loading_abs (pure functions of
    the inlined basis) ride along as literals, via the shared
    pca_spectrum_rows so the rounding convention is identical.
    Projection variance is centering-invariant, so the SQL skips the
    mean subtraction the Spark fit performs."""
    from myrecommendsystem_spark.operators.similarity import (
        pca_fit_mat,
        pca_spectrum_rows,
    )

    ids, mat = _raw_matrix(sf_dir)
    if len(ids) == 0:
        raise ValueError(f"pca oracle: no embeddings at {sf_dir}")
    if len(ids) > 100_000:
        # past the fit's sample cap the SQL population (all rows) would
        # diverge from the fit population (the hash sample) — refuse
        # loudly; every committed sf is far below the cap
        raise ValueError(
            f"pca oracle: {len(ids)} rows exceeds the 100k fit sample cap"
        )
    _mean, evals, evecs = pca_fit_mat(mat)
    rows = pca_spectrum_rows(evals, evecs)
    d = evecs.shape[0]
    vals = ",\n  ".join(
        f"({comp}, {_lit1(evecs[:, comp - 1])}::DOUBLE[], {td}, {tl!r})"
        for comp, _lam, _ev, _cum, td, tl in rows
    )
    eps = 10.0 ** -11  # compat._eps(6) — pca_spectrum_rows convention
    return f"""
WITH comps(component, evec, top_dim, top_loading_abs) AS (VALUES
  {vals}
),
emb AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
proj AS (
  SELECT c.component, c.top_dim, c.top_loading_abs,
         list_sum([ e.v[i] * c.evec[i]
                    for i in generate_series(1, {d}) ]) AS p
  FROM emb e CROSS JOIN comps c
),
var AS (
  SELECT component, top_dim, top_loading_abs,
         GREATEST(
           (SUM(p*p) - COUNT(*) * AVG(p) * AVG(p)) / (COUNT(*) - 1),
           0.0) AS lam
  FROM proj GROUP BY 1, 2, 3
),
tot AS (SELECT CASE WHEN SUM(lam) = 0 THEN 1.0 ELSE SUM(lam) END AS t
        FROM var)
SELECT CAST(component AS INTEGER) AS component,
       ROUND(lam + {eps!r}, 6) AS eigenvalue,
       ROUND(lam / t + {eps!r}, 6) AS explained_var,
       ROUND(SUM(lam / t) OVER (ORDER BY component) + {eps!r}, 6)
           AS cum_explained,
       CAST(top_dim AS INTEGER) AS top_dim,
       CAST(top_loading_abs AS DOUBLE) AS top_loading_abs
FROM var CROSS JOIN tot
ORDER BY component
"""


@_stamped_cache("embeddings")
def pca_topk_oracle(sf_dir: str) -> str:
    """DuckDB twin of plans/text_queries.ann_topk_pca
    (similarity.pca_topk, n_components=32, k=5, shortlist_factor=8):
    inlined mean + top-32 components from the shared deterministic fit,
    then every SEARCH stage replayed in SQL — center+project, reduced
    unit-cosine (4-dp, vec_id tie-break — the kernel's np.round
    convention), per-query top-40 shortlist, exact unit-dot re-rank on
    TRUE vectors, top-5."""
    from myrecommendsystem_spark.operators.similarity import pca_fit_mat

    n_components, k, shortlist = 32, 5, 40
    ids, mat = _raw_matrix(sf_dir)
    if len(ids) == 0:
        raise ValueError(f"pca oracle: no embeddings at {sf_dir}")
    if len(ids) > 100_000:
        raise ValueError(
            f"pca oracle: {len(ids)} rows exceeds the 100k fit sample cap"
        )
    mean, _evals, evecs = pca_fit_mat(mat)
    comps = evecs[:, :n_components].T  # (r, d)
    d = comps.shape[1]
    return f"""
WITH pc AS (SELECT {_lit2(comps)}::DOUBLE[][] AS pm,
                   {_lit1(mean)}::DOUBLE[] AS mu),
{_U_CTE},
red AS MATERIALIZED (
  SELECT vec_id,
         [ list_sum([ (v[s] - mu[s]) * pm[c][s]
                      for s in generate_series(1, {d}) ])
           for c in generate_series(1, {n_components}) ] AS r
  FROM emb CROSS JOIN pc
),
rn AS MATERIALIZED (
  SELECT vec_id,
         [x / GREATEST(sqrt(list_sum([y*y for y in r])), 1e-12)
          for x in r] AS rv
  FROM red
),
qs AS (SELECT vec_id AS query_id, rv AS qv FROM rn WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, c.vec_id,
         ROUND(list_sum([ c.rv[i] * q.qv[i]
                          for i in generate_series(1, {n_components}) ]),
               4) AS red_score
  FROM rn c CROSS JOIN qs q
  WHERE c.vec_id != q.query_id
),
shortlist AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY red_score DESC, vec_id
           ) AS srnk
    FROM scored)
  WHERE srnk <= {shortlist}
),
exact AS (
  SELECT s.query_id, s.vec_id,
         ROUND(list_sum([cu.uv[i] * qu.uv[i]
                         for i in generate_series(1, len(qu.uv))]), 4)
             AS score
  FROM shortlist s
  JOIN u cu ON cu.vec_id = s.vec_id
  JOIN u qu ON qu.vec_id = s.query_id
)
SELECT query_id, vec_id, score, rnk FROM (
  SELECT query_id, vec_id, score,
         CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY score DESC, vec_id
         ) AS INTEGER) AS rnk
  FROM exact)
WHERE rnk <= {k}
"""


def _langid_ctes() -> str:
    """The doc_lang_id oracle's CTE chain + a weak-label projection —
    shared text so the quality-model twin labels documents with the
    EXACT SQL the (hash-green) doc_lang_id gate verifies."""
    from myrecommendsystem_spark.plans.text_queries import _LEX_VALUES

    return rf"""
lex(lang, tok) AS (VALUES {_LEX_VALUES}),
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
),
lab AS (
    SELECT d.doc_id,
           CASE WHEN COALESCE(b.lang, 'und') = 'en' THEN 1 ELSE 0 END
               AS weak_label
    FROM documents d
    LEFT JOIN (SELECT doc_id, lang FROM best WHERE r = 1) b USING (doc_id)
)""".strip()


@_stamped_cache("documents")
def quality_model_oracle(sf_dir: str) -> str:
    """DuckDB twin of plans/text_queries.doc_quality_model_scores
    (ml/quality.score_documents).

    The generator re-trains the logistic weights OUTSIDE Spark: weak
    labels come from DuckDB itself running the hash-green doc_lang_id
    CTE chain, the fit sample is the same (md5(text), doc_id)-ranked
    cut, features and Newton steps are the SHARED numpy kernels
    (quality.bigram_count_mat / logreg_fit_mat) in the same row order —
    bit-identical (w, b).  The SQL then replays SCORING over every
    document: hashed-bigram slot stream, margin = bias + Σ w[slot],
    sigmoid, round-stable — plus the weak label from the same lang-ID
    chain the Spark side computes with predicted_lang."""
    import duckdb

    from myrecommendsystem_spark.ml.quality import (
        _MAX_TRAIN,
        _N_FEATURES,
        bigram_count_mat,
        logreg_fit_mat,
    )

    ctes = _langid_ctes()
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        )
        lab_rows = con.execute(
            f"WITH {ctes} SELECT d.doc_id, d.text, l.weak_label "
            "FROM documents d JOIN lab l USING (doc_id)"
        ).fetchall()
    finally:
        con.close()
    if not lab_rows:
        raise ValueError(f"quality oracle: no documents at {sf_dir}")
    sample = sorted(
        lab_rows,
        key=lambda r: (hashlib.md5((r[1] or "").encode()).hexdigest(), r[0]),
    )[:_MAX_TRAIN]
    X = bigram_count_mat([r[1] for r in sample])
    y = np.array([float(r[2]) for r in sample], dtype=np.float64)
    w, b = logreg_fit_mat(X, y)
    return f"""
WITH {ctes},
wv AS (SELECT {_lit1(w)}::DOUBLE[] AS w),
sl AS (
  SELECT doc_id,
         [ (ord(cs[i]) * 31 + ord(cs[i+1])) % {_N_FEATURES}
           for i in generate_series(1, len(cs) - 1) ] AS slots
  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '') AS cs
        FROM documents)
),
m AS (
  SELECT doc_id,
         {b!r} + COALESCE(list_sum([w[s + 1] for s in slots]), 0.0) AS margin
  FROM sl CROSS JOIN wv
)
SELECT CAST(m.doc_id AS BIGINT) AS doc_id,
       CAST(l.weak_label AS INTEGER) AS weak_label,
       ROUND(1.0 / (1.0 + exp(-margin)) + 1e-09, 4) AS p_target
FROM m JOIN lab l USING (doc_id)
ORDER BY doc_id
"""


@_stamped_cache("embeddings")
def ann_recall_oracle(sf_dir: str) -> str:
    """DuckDB twin of ann_recall_report: per-query recall@5 of the IVF
    index against the exact brute-force top-5 ground truth.  The IVF
    side nests ivf_topk_oracle verbatim (same trained centroids, same
    probing/rank SQL); the ground-truth side replays the
    ann_topk_bruteforce ranking (round-stable list_cosine_similarity,
    ties broken by vec_id).  Recall joins on id SETS only, so the two
    sides' different-but-equivalent cosine spellings cannot diverge the
    metric."""
    ivf_sql = ivf_topk_oracle(sf_dir)
    cos = sql_round_stable_local("list_cosine_similarity(c.v, q.v)")
    return f"""
WITH ivf AS (
{ivf_sql}
),
bfc AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
bfq AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id < 10),
bf AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, c.vec_id,
           ROW_NUMBER() OVER (
               PARTITION BY q.query_id ORDER BY {cos} DESC, c.vec_id
           ) AS rnk
    FROM bfc c CROSS JOIN bfq q
    WHERE c.vec_id != q.query_id
  ) WHERE rnk <= 5
)
SELECT b.query_id,
       CAST(COUNT(i.vec_id) AS INTEGER) AS hits,
       ROUND(COUNT(i.vec_id) / 5.0 + 1e-09, 4) AS recall
FROM bf b
LEFT JOIN ivf i ON i.query_id = b.query_id AND i.vec_id = b.vec_id
GROUP BY b.query_id
ORDER BY b.query_id
"""
