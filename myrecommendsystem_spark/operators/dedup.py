"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

LLM-data-pipeline extensions.  All four are
DataFrame pipelines over the text fingerprint functions — the only
Python stages are the Arrow-batched fingerprint kernels, and there are
no driver-side loops — and each is shaped for 100 TB:

- exact: one hash-groupBy shuffle on a 16-byte fingerprint.
- MinHash-LSH: shingle → k-hash signature → band buckets → self-join
  *within buckets only* → exact-Jaccard verify.  The only shuffle is on
  (band_idx, band_hash); a bucket-size cap bounds the quadratic blow-up a
  degenerate bucket (boilerplate shingle) would cause.
- SimHash: 64-bit fingerprint → band buckets → hamming verify.  Same
  join-on-bucket shape.
- n-gram Jaccard: exact, over df-capped shingle sets — a shingle
  inverted-index self-join, then one aggregate on the pair key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from myrecommendsystem_spark.functions import text as TXT
from myrecommendsystem_spark.functions.caching import eager_release, release_checkpoint
from myrecommendsystem_spark.operators.parallelism import widen_for_kernel


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact-dup groups: (fingerprint, keep_id, dup_cnt), dup_cnt ≥ 1.

    ``keep_id`` = min id per fingerprint — the canonical survivor.  One
    aggregation on the md5 fingerprint; at 100 TB this is the cheapest
    dedup pass and always runs first to shrink later stages.
    """
    return (
        df.select(
            TXT.exact_fingerprint(F.col(text_col)).alias("fp"),
            F.col(id_col),
        )
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("dup_cnt"),
        )
    )


def dedup_exact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep one row per exact-duplicate group (the min-id survivor)."""
    keep = exact_duplicates(df, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# bucket key of a MinHash band: a pair collides in band i when the i-th
# band hashes are equal
_BAND = ["band_idx", "band_hash"]


def cap_buckets(
    rows: DataFrame,
    keys: list[str],
    max_bucket: int,
    weight: str | None = None,
) -> DataFrame:
    """Rows whose bucket (equal ``keys``) holds at most ``max_bucket``
    ids — the skew cap of every LSH and inverted-index pair join.

    A bucket of n ids makes n² pairs, so a degenerate bucket (a
    boilerplate shingle, a black frame, a byte pattern shared by a huge
    near-identical cluster) would make the bucket join quadratic.
    Dropped buckets are pairs we *choose* not to compare.

    Occupancy is one ``count()`` window over ``keys``, not a groupBy
    joined back: the window's exchange on ``keys`` is the one the
    bucket join (:func:`bucket_pairs`) then reuses.  ``weight`` names a
    column holding how many ids a row stands for (a collapsed clone
    group); it is summed instead of counting rows.
    """
    n = F.count(F.lit(1)) if weight is None else F.sum(weight)
    return (
        rows.withColumn("_bucket_n", n.over(Window.partitionBy(*keys)))
        .filter(F.col("_bucket_n") <= max_bucket)
        .drop("_bucket_n")
    )


def bucket_pairs(
    rows: DataFrame, keys: list[str], ref: DataFrame | None = None
) -> DataFrame:
    """Pairs of rows that share a bucket (equal ``keys``) → (*keys, id_a,
    id_b, and ``<c>_a`` / ``<c>_b`` for every other column).

    Both inputs carry an ``id`` column.  Without ``ref`` this is a
    self-join keeping each unordered pair once (id_a < id_b).  With
    ``ref`` every row of ``rows`` meets every row of ``ref`` in its
    bucket (id_a from ``rows``, id_b from ``ref``); the caller caps only
    ``ref``, so a hot new batch is never silently filtered and each new
    row still meets at most ``max_bucket`` reference rows.  A pair that
    shares several buckets comes once per bucket; the caller reduces
    (distinct, a per-pair count, an exact verify).
    """

    def side(df: DataFrame, s: str) -> DataFrame:
        other = [c for c in df.columns if c not in keys]
        return df.select(*keys, *[F.col(c).alias(f"{c}_{s}") for c in other])

    pairs = side(rows, "a").join(side(rows if ref is None else ref, "b"), keys)
    if ref is None:
        pairs = pairs.filter(F.col("id_a") < F.col("id_b"))
    return pairs


def _recall_by_band(
    truth: DataFrame, cands: DataFrame, band_col: str
) -> DataFrame:
    """Recall-report tail: per ``band_col`` of the exact truth pairs
    (id_a, id_b, band_col), how many there are (``n_true``) and how many
    the distinct candidate pairs ``cands`` caught (``n_caught``)."""
    return (
        truth.join(cands.withColumn("m", F.lit(1)), ["id_a", "id_b"], "left")
        .groupBy(band_col)
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.coalesce(F.sum("m"), F.lit(0)).cast("long").alias("n_caught"),
        )
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.7,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Near-dup pairs: LSH candidates verified by exact shingle Jaccard.

    Returns (id_a, id_b, jaccard) with jaccard ≥ threshold.  The verify
    join ships shingle-hash sets only for candidate ids — at scale that is
    the small side and broadcasts; intersecting int64 arrays instead of
    strings keeps the verify cheap.

    One FUSED signature pass (:func:`_fused_minhash_sigs`) feeds both
    the bands and the verify's shingle hashes.  Tokenizing and hashing
    every doc twice (band pass + shingle pass) was the measured majority
    of the pipeline's sf0.1 wall time.
    """
    sigs = _fused_minhash_sigs(df, id_col, text_col, shingle_n, num_hashes, bands)
    banded = _minhash_bands(sigs)
    cands = bucket_pairs(cap_buckets(banded, _BAND, 1000), _BAND)
    out = _jaccard_verify(
        cands.select("id_a", "id_b").distinct(), sigs, sigs, jaccard_threshold
    )
    return eager_release(out, sigs)


def _fused_minhash_sigs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """(id, s) with ``s`` = (bands, sh): ONE fused Arrow signature pass
    (band keys + shingle hashes, ``minhash_bands_and_shingles``),
    persisted and eagerly materialized so every downstream consumer (the
    bucket cap, both join sides, both verify sides) reads the cache
    instead of racing to recompute the kernel.  Callers release it via
    ``eager_release``."""
    sigs = (
        widen_for_kernel(df)
        .select(
            F.col(id_col).alias("id"),
            TXT.minhash_bands_and_shingles(
                F.col(text_col), num_hashes, shingle_n, bands
            ).alias("s"),
        )
        .persist()
    )
    sigs.count()  # eager: the one Arrow pass runs exactly once
    return sigs


def _minhash_bands(sigs: DataFrame) -> DataFrame:
    """(id, band_idx, band_hash): one row per band of each signature."""
    return sigs.select("id", F.posexplode("s.bands").alias(*_BAND))


def _jaccard_verify(
    cands: DataFrame, sigs_a: DataFrame, sigs_b: DataFrame, threshold: float
) -> DataFrame:
    """(id_a, id_b, jaccard ≥ threshold): exact shingle-hash Jaccard of
    the candidate pairs, id_a's hashes from ``sigs_a``, id_b's from
    ``sigs_b``."""
    a = sigs_a.select(F.col("id").alias("id_a"), F.col("s.sh").alias("sh_a"))
    b = sigs_b.select(F.col("id").alias("id_b"), F.col("s.sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", F.round(inter / union, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_recall_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    probe_max_id: int = 100,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket: int = 1000,
) -> DataFrame:
    """LSH banding S-curve measurement: per exact-Jaccard decile band,
    how many true near-dup pairs exist and how many the banded candidate
    stage caught.

    Returns (jband, n_true, n_caught): ``jband`` = ⌊10·J⌋ over the EXACT
    distinct-shingle-hash Jaccard (band 5 = J ∈ [0.5, 0.6), band 10 =
    identical sets; band 0 — pairs sharing ≥ 1 shingle but J < 0.1 — is
    the REJECTION side of the curve, where n_caught ≈ 0 proves the
    banding doesn't flood the verify stage), ``n_caught`` = true pairs
    the banding emitted as candidates.  This is the acceptance gate a dedup pipeline runs before
    trusting a (bands, rows, max_bucket) configuration on a new corpus —
    the ann_recall_report discipline applied to the near-dup family: the
    measured curve sits on the analytic S-curve 1−(1−J^r)^b and exposes
    both cap-induced misses (degenerate buckets) and threshold placement.

    Scale shape: exact ground truth is the quadratic term, so it is
    measured on a bounded PROBE sample (ids < ``probe_max_id``) while the
    candidate side runs the production banding path over the full corpus
    unchanged.  The truth join is probe-side-bounded — explode the probe
    docs' distinct shingle hashes, inverted-index join against the corpus
    postings, group per pair: O(|Q| · touched postings), never corpus².
    One fused Arrow signature pass (``minhash_bands_and_shingles``) feeds
    both the banding and the truth sides.

    The band index is computed with INTEGER floor-division
    ``(10·|∩|) div |∪|`` — exact in both engines, immune to the
    ``0.3 × 10 = 2.999…`` double-rounding trap a float bucketize hits.
    """
    sigs = _fused_minhash_sigs(df, id_col, text_col, shingle_n, num_hashes, bands)
    banded = _minhash_bands(sigs)
    cands = bucket_pairs(cap_buckets(banded, _BAND, max_bucket), _BAND)
    # every truth pair contains a probe doc, so its id_a = least(...) is
    # always < probe_max_id — Catalyst can't infer that bound through
    # least(), so filter the candidate side explicitly before the recall
    # join (output-identical; candidate GENERATION stays full-corpus so
    # cap/occupancy semantics match the production path exactly)
    cands = (
        cands.select("id_a", "id_b")
        .distinct()
        .filter(F.col("id_a") < probe_max_id)
    )
    # DISTINCT hash sets: grams are distinct per doc but the 31-bit RK
    # hash may collide two grams — the exact-Jaccard contract (and the
    # DuckDB oracle's SELECT DISTINCT hv) is over distinct hash values.
    sh = sigs.select("id", F.array_distinct("s.sh").alias("sh"))
    sizes = sh.select("id", F.size("sh").alias("n"))
    pe = sh.filter(F.col("id") < probe_max_id).select(
        F.col("id").alias("pid"), F.explode("sh").alias("h")
    )
    ae = sh.select(F.col("id").alias("aid"), F.explode("sh").alias("h"))
    # each unordered pair exactly once: probe↔probe pairs only from the
    # smaller id's probe row; probe↔non-probe pairs exist one way round
    tp = (
        pe.join(ae, "h")
        .filter((F.col("aid") >= probe_max_id) | (F.col("aid") > F.col("pid")))
        .select(
            F.least("pid", "aid").alias("id_a"),
            F.greatest("pid", "aid").alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("i"))
    )
    truth = (
        tp.join(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.expr("CAST((10 * i) DIV (na + nb - i) AS INT)").alias("jband"),
        )
    )
    return eager_release(_recall_by_band(truth, cands, "jband"), sigs)


# Pair graphs at or under this edge count run min-label propagation
# driver-side off one bounded Arrow fetch — the graph.py _DRIVER_EDGE_CAP
# venue discipline applied to the dedup closure: a near-dup pair graph is
# output-bounded (candidates are bucket-capped upstream), so virtually
# every dedup closure takes the fast path, while a genuinely huge pair
# graph takes the distributed loop.  The distributed loop costs ~4 jobs
# per round (join, min, checkpoint, fixpoint count) — pure scheduling
# overhead on a clump graph with a few thousand edges (measured ~4 s per
# closure at sf0.1 vs ~0.3 s in-memory).  The venue cannot change a
# CONVERGED answer — (id, min reachable id) is a graph property — but the
# distributed loop truncates at ``max_iter`` rounds while the in-memory
# loop always converges (pointer jumping, O(log V) rounds), so on a
# >cap-edge graph with diameter > ``max_iter`` the distributed labels
# can be unconverged where the driver path's never are.
_DRIVER_PAIR_CAP = 5_000_000


def _components_inmem(src, dst) -> "tuple":
    """Vectorized FastSV (Shiloach-Vishkin with stochastic + aggressive
    hooking and shortcutting — Zhang/Azad/Hu, "FastSV", and Kiveris et
    al.'s star-contraction family) over (src, dst) id arrays → (ids,
    comps).  Plain one-hop min-label propagation moves a label one hop
    per round — a 5M-edge CHAIN would need millions of O(E) rounds, a
    hang.  FastSV hooks each vertex (and its parent)
    under its neighbor's GRANDPARENT and then shortcuts the parent
    forest, contracting tree depth geometrically: O(log V) rounds on any
    graph shape (a 200k chain converges in ~20 regardless of id order).
    Parents only decrease and stay within the component, so the fixpoint
    labels every vertex with its component's minimum id — the same
    answer the distributed loop converges to.  Ids are handled via
    sorted-unique + searchsorted exactly like graph._pagerank_inmem
    (dtype-agnostic)."""
    import numpy as np

    ids = np.unique(np.concatenate([src, dst]))
    s = np.searchsorted(ids, src)
    d = np.searchsorted(ids, dst)
    f = np.arange(len(ids))
    # explicit monotone-progress bound (never spin unbounded): geometric contraction converges in ≤ ~log2(V) + small
    # constant rounds; 128 covers any representable V with huge margin
    for _ in range(128):
        fold = f.copy()
        gf = fold[fold]
        # stochastic hooking: parent(u) hooks under grandparent(v)
        np.minimum.at(f, fold[s], gf[d])
        np.minimum.at(f, fold[d], gf[s])
        # aggressive hooking: u itself hooks under grandparent(v)
        np.minimum.at(f, s, gf[d])
        np.minimum.at(f, d, gf[s])
        # shortcutting: u hooks under its own grandparent
        f = np.minimum(f, gf)
        if (f == fold).all():
            # compress the converged star forest to its roots
            while True:
                g = f[f]
                if (g == f).all():
                    return ids, ids[f]
                f = g
    raise AssertionError("components_inmem failed to converge in 128 rounds")


def connected_components(
    pairs: DataFrame,
    max_iter: int = 20,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Connected components of an undirected pair graph: (id, component).

    ``component`` is the minimum id reachable from ``id`` — min-label
    propagation, one hash join + grouped min per iteration, converging in
    O(graph diameter) rounds.  Near-dup graphs are dense clumps (diameter
    2-3), so the cap is generous; iteration stops early at fixpoint
    (checked with one count per round).  ``localCheckpoint`` truncates
    the lineage each round — without it the plan doubles per iteration
    and the job dies long before 100 TB does.

    Pair graphs at or under ``_DRIVER_PAIR_CAP`` edges run the identical
    propagation in numpy off one Arrow fetch — see the cap's
    comment; both venues converge to the same fixpoint, but only the
    driver path is guaranteed to REACH it on any shape (pointer jumping)
    — the distributed loop stops after ``max_iter`` rounds, i.e. graphs
    over the cap with diameter > ``max_iter`` may come back unconverged.

    This is the step that turns near-dup PAIRS into dedup DECISIONS:
    survivors = min id per component (transitive closure), matching the
    exact-dup pass's min-id rule — applied by :func:`min_id_survivors`
    (drop list) and :func:`min_id_keep_list` (keep list with sizes).
    """
    # ONE run of the (often expensive) upstream pair pipeline feeds the
    # venue decision, the driver fetch, AND the distributed loop's edge
    # relation, instead of the count and the fetch each re-executing it.
    # Deliberately a localCheckpoint, NOT persist (both were measured):
    # a cached subplan materializes under the cached-plan AQE
    # restriction (no output-partitioning changes → no partition
    # coalescing), which quadrupled task counts at bench scale and
    # costs real shuffle parallelism tuning at 100 TB; the checkpoint
    # runs the pipeline with full AQE and the probe count over its
    # materialized blocks is near-free.
    fwd = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).localCheckpoint(eager=True)
    n_edges = fwd.count()
    if n_edges <= _DRIVER_PAIR_CAP:
        from myrecommendsystem_spark.operators.graph import (
            _collect_edges_arrow,
        )

        spark = pairs.sparkSession
        id_type = pairs.schema[id_a].dataType.simpleString()
        if n_edges == 0:
            release_checkpoint(fwd)
            return spark.createDataFrame([], f"id {id_type}, comp {id_type}")
        pdf = _collect_edges_arrow(fwd)
        release_checkpoint(fwd)
        ids, comps = _components_inmem(
            pdf["src"].to_numpy(), pdf["dst"].to_numpy()
        )
        import pandas as pd

        return spark.createDataFrame(
            pd.DataFrame({"id": ids, "comp": comps}),
            schema=f"id {id_type}, comp {id_type}",
        )
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint(eager=True)
    release_checkpoint(fwd)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("comp").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                labels.id,
                F.least(
                    F.col("comp"), F.coalesce(F.col("nmin"), F.col("comp"))
                ).alias("comp"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def min_id_survivors(
    pairs: DataFrame, population: DataFrame, id_col: str
) -> DataFrame:
    """The near-dup keep rule as a drop list: ``population`` rows minus
    every id that is not its component's min (:func:`connected_components`
    over ``pairs``), so each cluster keeps its min id and unpaired rows
    ride along.  ``population`` keeps its own columns."""
    dropped = (
        connected_components(pairs)
        .filter(F.col("comp") != F.col("id"))
        .select(F.col("id").alias(id_col))
    )
    return population.join(dropped, id_col, "left_anti")


def min_id_keep_list(
    pairs: DataFrame, ids: DataFrame, id_col: str
) -> DataFrame:
    """The near-dup keep rule as a keep list → (id_col, cluster_size):
    each component's min id with the component's size, plus every id of
    ``ids`` (a one-column ``id_col`` relation) that no pair touches, at
    size 1; ordered by id."""
    comps = connected_components(pairs)
    sizes = comps.groupBy("comp").agg(
        F.count(F.lit(1)).cast("int").alias("cluster_size")
    )
    keepers = (
        comps.join(sizes, "comp")
        .filter(F.col("id") == F.col("comp"))
        .select(F.col("id").alias(id_col), "cluster_size")
    )
    singletons = ids.join(
        comps.select(F.col("id").alias(id_col)), id_col, "left_anti"
    ).select(id_col, F.lit(1).cast("int").alias("cluster_size"))
    return keepers.unionByName(singletons).orderBy(id_col)


def dedup_near_survivors(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.7,
    shingle_n: int = 3,
) -> DataFrame:
    """Rows surviving transitive MinHash near-dedup (min-id per cluster).

    Pipeline: LSH candidates → exact-Jaccard verify → connected
    components → keep one representative per component (plus every row
    that matched no near-dup pair).
    """
    pairs = minhash_near_duplicates(
        df, id_col, text_col, jaccard_threshold, shingle_n
    )
    return min_id_survivors(pairs, df, id_col)


def ngram_jaccard_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    max_df: int = 50,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted shingle index.

    End-to-end EXACT dedup (unlike the MinHash/SimHash families, which
    are probabilistic): (id_a < id_b, jaccard ≥ threshold) over df-capped
    shingle sets.  Fully relational — shingle explode, document-frequency
    cap, self-join on shingle, grouped intersection count — so it is
    DuckDB-oracle-checkable, the driver-green representative of the dedup
    family (``dedup_ngram_jaccard``).

    ``max_df`` is the scale guard: a shingle occurring in D documents
    produces D² join pairs, and boilerplate shingles (headers, license
    text) have D in the millions at corpus scale.  Dropping shingles with
    document frequency > max_df bounds every join bucket at max_df² pairs
    — the standard stop-shingle move — and Jaccard is then DEFINED over
    the capped sets on both engines, keeping the semantics deterministic
    rather than best-effort.  One shuffle on the shingle string, one on
    the (id_a, id_b) pair key; both well-distributed after the cap.
    """
    sh = widen_for_kernel(df).select(
        F.col(id_col).alias("id"),
        F.explode(TXT.shingles(F.col(text_col), shingle_n)).alias("s"),
    )
    # feeds sizes + both join sides; released via eager_release below
    shf = cap_buckets(sh, ["s"], max_df).persist()
    sizes = shf.groupBy("id").agg(F.count("*").alias("n_sh"))
    inter = (
        bucket_pairs(shf, ["s"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("double").alias("inter"))
    )
    from myrecommendsystem_spark.functions.compat import round_stable

    out = (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "n_sh": "na"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n_sh": "nb"}), "id_b")
        .select(
            "id_a",
            "id_b",
            round_stable(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return eager_release(out, shf)


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 8,
    max_bucket: int = 1000,
) -> DataFrame:
    """SimHash near-dup pairs: byte-banded fingerprint buckets + hamming.

    Pigeonhole: two 64-bit fingerprints within hamming d collide exactly
    on at least one of ``bands`` bands when d < bands, so bands >
    max_hamming gives recall 1.0 — verification is exact, no false
    positives.  The fingerprint is ONE BIGINT: band extraction is
    ``shiftright & mask`` and the verify is ``bit_count(a XOR b)`` — the
    whole pipeline after the fingerprint UDF is codegen expressions, and
    the only shuffle is on (band_idx, band_val).

    ``max_bucket`` drops degenerate buckets (a byte pattern shared by a
    huge near-identical cluster) — same skew guard as the MinHash path;
    dropped buckets only ever lose pairs the remaining 7 bands can still
    recover unless the docs disagree in every band.
    """
    fp = (
        widen_for_kernel(df)
        .filter(F.col(text_col).isNotNull())  # NULL text: no fingerprint
        .select(
            F.col(id_col).alias("id"),
            TXT.simhash64(F.col(text_col)).alias("fp"),
        )
    )
    return fingerprint_near_duplicates(fp, max_hamming, bands, max_bucket)


# bucket key of a fingerprint byte-band
_FP_BAND = ["band_idx", "band_val"]


def fingerprint_near_duplicates(
    fp: DataFrame,
    max_hamming: int,
    bands: int = 8,
    max_bucket: int = 1000,
    _force_collapse: bool | None = None,
) -> DataFrame:
    """Banded near-dup pairs over ANY (id, fp) 64-bit fingerprint
    relation → (id_a, id_b, hamming ≤ max_hamming).

    The fingerprint-agnostic tail of :func:`simhash_near_duplicates`,
    so image dHash and audio reuse the identical pipeline: byte-band
    bucketing (shiftright & mask), max_bucket skew cap
    (:func:`cap_buckets`), bucket self-join (:func:`bucket_pairs`),
    ``bit_count(a XOR b)`` verify.  Everything after the fingerprint is
    codegen; the shuffles are keyed on fp and (band_idx, band_val).
    Note the pigeonhole guarantee (recall 1.0) needs max_hamming <
    bands; above it the bands are a recall/cost dial exactly like
    MinHash-LSH banding.

    **Adaptive exact-fingerprint pre-collapse** (the SCALE.md mitigation
    for the audio pipeline's output-driven 0.89 exponent): when
    exact-equal fingerprints are plentiful, only DISTINCT fingerprints
    enter the banding self-join — a clone group of g identical
    fingerprints contributes 1 banding row instead of g·bands
    candidate-join rows PER BAND, so the Σ bucket² term shrinks
    quadratically in the clone factor (measured: audio exponent 0.89 →
    0.24 at 4×/16×, identical pair counts).  Output is reconstructed
    afterwards: fp-level near-dup pairs expand back through group
    members (two fp-keyed joins), and intra-group pairs (hamming 0)
    come from a fp-keyed self-join of surviving groups.

    The collapse costs ~4 extra small-relation stages, which DOUBLES
    wall time on a corpus without big clone groups — where it saves
    nothing (measured quiet-host 16×: dHash 4.5 s → 9.1 s at 99.9 %
    distinct fps; audio 4.7 s → 10.4 s at 93 % distinct spread over
    SMALL groups) — so the strategy is a two-stage scalar probe, both
    stages bounded driver hops:

    1. count/count_distinct over the 8-byte fingerprints (two longs).
       dup = n − d small ⇒ the direct path's excess join volume
       bands·Σ(g²−g) ≤ bands·(dup+1)² is trivially affordable — run
       direct, probe done.
    2. otherwise compute Σ(g²−g) EXACTLY from the clone-group counts
       (one groupBy over distinct fps; the relation is persisted and
       REUSED as the collapse path's groups input, so stage 2 is never
       wasted work).  Collapse only when the excess candidate volume
       bands·Σ(g²−g) dwarfs the per-stage overhead —
       > max(10 M rows, 20·n) — i.e. genuinely clone-heavy corpora
       (recrawls, mirrored assets), where it shrinks the self-join
       quadratically in the clone factor and keeps winning as n grows.

    BOTH paths are output-identical (verified: identical pair counts
    and hash-gated results across all probe corpora): the max_bucket
    cap counts IDS per bucket in each (group sizes are the cap's
    ``weight`` — clones of one fingerprint always share every bucket),
    survival of a clone group in ≥ 1 capped bucket is exactly the
    both-ids-co-located condition, and hamming is a function of the fp
    pair alone, so the branch can never change results — only the plan.
    """
    bits_per_band = 64 // bands
    mask = (1 << bits_per_band) - 1
    band_array = F.array(
        *[
            F.shiftright(F.col("fp"), b * bits_per_band).bitwiseAND(F.lit(mask))
            for b in range(bands)
        ]
    )
    members = fp.persist()  # every path reads it ≥ 2×s — one kernel pass
    groups = None
    if _force_collapse is None:  # adaptive (the production path)
        stats = members.agg(
            F.count(F.lit(1)).alias("n"), F.count_distinct("fp").alias("d")
        ).first()
        dup_count = stats.n - stats.d
        collapse = False
        if dup_count > max(1000, stats.n // 100):
            groups = members.groupBy("fp").agg(
                F.count(F.lit(1)).alias("grp_n")
            ).persist()
            excess = groups.agg(
                F.sum(F.col("grp_n") * F.col("grp_n") - F.col("grp_n"))
            ).first()[0] or 0
            collapse = bands * excess > max(10_000_000, 20 * stats.n)
            if not collapse:
                groups.unpersist()
                groups = None
    else:  # test/tuning override: pin one strategy, skip the probe
        collapse = _force_collapse
    if collapse and groups is None:
        groups = members.groupBy("fp").agg(
            F.count(F.lit(1)).alias("grp_n")
        ).persist()
    if not collapse:
        # ---- direct path: band ids, bucket self-join, verify ----
        banded = members.select(
            "id", "fp", F.posexplode(band_array).alias(*_FP_BAND)
        )
        out = (
            bucket_pairs(cap_buckets(banded, _FP_BAND, max_bucket), _FP_BAND)
            .select(
                "id_a",
                "id_b",
                TXT.hamming64(F.col("fp_a"), F.col("fp_b")).alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
            .dropDuplicates(["id_a", "id_b"])
        )
        return eager_release(out, members)
    # ---- pre-collapse path: band DISTINCT fps, expand afterwards ----
    banded = groups.select(
        F.col("fp").alias("id"),
        "grp_n",
        F.posexplode(band_array).alias(*_FP_BAND),
    )
    banded = banded.persist()  # two join sides — don't re-band twice
    # the cap counts IDs per bucket, not distinct fps
    capped = cap_buckets(banded, _FP_BAND, max_bucket, weight="grp_n").drop(
        "grp_n"
    )
    fp_pairs = (
        bucket_pairs(capped, _FP_BAND)
        .select(
            F.col("id_a").alias("fp_a"),
            F.col("id_b").alias("fp_b"),
            TXT.hamming64(F.col("id_a"), F.col("id_b")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["fp_a", "fp_b"])
    )
    ma = members.select(F.col("id").alias("ida"), F.col("fp").alias("fp_a"))
    mb = members.select(F.col("id").alias("idb"), F.col("fp").alias("fp_b"))
    cross = fp_pairs.join(ma, "fp_a").join(mb, "fp_b").select(
        F.least("ida", "idb").alias("id_a"),
        F.greatest("ida", "idb").alias("id_b"),
        "hamming",
    )
    surviving = capped.select(F.col("id").alias("fp")).distinct()
    kept = members.join(surviving, "fp")
    intra = bucket_pairs(kept, ["fp"]).select(
        "id_a", "id_b", F.lit(0).cast("integer").alias("hamming")
    )
    out = cross.unionByName(intra)
    return eager_release(out, members, banded, groups)


def winnowing_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 16,
    guarantee: int = 8,
) -> DataFrame:
    """MOSS winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03) over the
    Rabin-Karp rolling hashes → (doc_id, pos, fp), the robust
    fingerprint SELECTION the raw rolling family lacks: in every run of
    ``guarantee`` consecutive window hashes keep the minimum (rightmost
    on ties), giving expected density 2/(guarantee+1) with the
    guarantee that any substring match of length ≥ window + guarantee
    − 1 shares at least one SELECTED fingerprint — the index behind
    plagiarism/attribution-style overlap detection at a fraction of
    the full rolling index's size.

    Scale shape: selection is PER-DOCUMENT LOCAL — no shuffle, no
    window function, the corpus is scanned once, and the selection is
    FUSED into the rolling-hash Arrow kernel
    (``functions/text.winnowed_fingerprints``: one vectorized
    sliding-min per doc on top of the already-fused hashing — the
    expression-level nested-transform formulation evaluated HOFs
    interpreted per window, measured ~8 s vs ~2 s at sf0.1, same
    output).  The rightmost-min tie-break packs (hash, position) into
    one BIGINT — h·2³¹ + (2³¹−1−pos) — so a single int64 ``min``
    picks min hash then max position in pure integer arithmetic both
    engines replay exactly.  Documents shorter than ``window`` bytes
    (including empty STRINGS) hash once via the kernel's short-doc path
    and that hash is always selected; NULL text yields an EMPTY
    selection array from the kernel, so ``explode`` drops the doc
    entirely — matching the SQL oracle, whose shingle expansion emits
    no rows for NULL (a None→"" coercion would emit the empty-text
    hash for NULL docs).
    """
    winnowed = TXT.winnowed_fingerprints(
        F.col(text_col), window=window, guarantee=guarantee
    )
    return (
        widen_for_kernel(docs).select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.array_distinct(winnowed)).alias("v"),
        )
        .select(
            "doc_id",
            (F.lit(TXT.WINNOW_MAXP) - F.col("v") % F.lit(TXT.WINNOW_SHIFT))
            .cast("int")
            .alias("pos"),
            F.expr(f"CAST(v DIV {TXT.WINNOW_SHIFT} AS BIGINT)").alias("fp"),
        )
    )


def winnowing_overlap_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 16,
    guarantee: int = 8,
    min_shared: int = 2,
    max_doc_freq: int = 100,
) -> DataFrame:
    """Substring-overlap pairs from winnowed fingerprints →
    (id_a, id_b, n_shared): docs sharing ≥ ``min_shared`` selected
    fingerprint VALUES (position-independent — a moved paragraph still
    matches).  The inverted-index join runs over the winnowed set
    (≈ 2/(guarantee+1) of the full rolling index), and fingerprints
    shared by more than ``max_doc_freq`` documents are dropped before
    pairing — the standard boilerplate/skew cap: a fp in f docs costs
    f² pair rows, so Σf² is bounded by max_doc_freq·Σf.  Shuffles:
    one on fp (distinct + frequency), one on the pair key — never an
    all-pairs product.
    """
    fps = winnowing_fingerprints(docs, id_col, text_col, window, guarantee)
    kept = cap_buckets(
        fps.select(F.col("doc_id").alias("id"), "fp").distinct(),
        ["fp"],
        max_doc_freq,
    )
    return (
        bucket_pairs(kept, ["fp"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("int").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnowing_cross_corpus_pairs(
    new_docs: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 16,
    guarantee: int = 8,
    min_shared: int = 2,
    max_doc_freq: int = 100,
) -> DataFrame:
    """Substring-overlap matches BETWEEN corpora →
    (new_id, ref_id, n_shared): new docs sharing ≥ ``min_shared``
    winnowed fingerprint VALUES with a held-corpus doc — the
    attribution/plagiarism-style ingest gate (MOSS overlap applied
    cross-corpus, the convention every other dedup family already has:
    cf. :func:`minhash_cross_corpus_pairs`,
    ``corpus_quality.cross_corpus_dedup``).

    Shape: each side is winnowed independently (per-doc-local Arrow
    selection, no shuffle); the inverted-index join keys NEW against
    REFERENCE on fp — never a self-join of the union, so candidate
    volume is |new ∩ ref fingerprints|, not (|new|+|ref|)².  The
    ``max_doc_freq`` boilerplate cap applies to the REFERENCE side
    only (the held corpus carries the boilerplate; an uncapped new
    batch can't inflate Σdf² because each new fp row joins ≤
    ``max_doc_freq`` ref rows — the bound is max_doc_freq·|new fps|).
    Shuffles: one on fp per side (distinct), the ref-frequency window
    reusing the ref exchange, one on the pair key.
    """
    def _fps(d: DataFrame) -> DataFrame:
        return (
            winnowing_fingerprints(d, id_col, text_col, window, guarantee)
            .select(F.col("doc_id").alias("id"), "fp")
            .distinct()
        )

    ref_kept = cap_buckets(_fps(reference), ["fp"], max_doc_freq)
    return (
        bucket_pairs(_fps(new_docs), ["fp"], ref=ref_kept)
        .groupBy(F.col("id_a").alias("new_id"), F.col("id_b").alias("ref_id"))
        .agg(F.count(F.lit(1)).cast("int").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnowing_cross_corpus_survivors(
    new_docs: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 16,
    guarantee: int = 8,
    min_shared: int = 2,
    max_doc_freq: int = 100,
) -> DataFrame:
    """Rows of ``new_docs`` with NO ≥ ``min_shared``-fingerprint
    winnowing overlap in ``reference`` — the ingest-gate composition of
    :func:`winnowing_cross_corpus_pairs` (anti join on matched new
    ids), the keep-list convention every other cross-corpus family has
    (:func:`cross_corpus_near_survivors`,
    ``corpus_quality.cross_corpus_dedup``).  Same scale shape as the
    pair query plus one anti join on the (small) matched-id set."""
    matched = (
        winnowing_cross_corpus_pairs(
            new_docs,
            reference,
            id_col=id_col,
            text_col=text_col,
            window=window,
            guarantee=guarantee,
            min_shared=min_shared,
            max_doc_freq=max_doc_freq,
        )
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return new_docs.join(matched, id_col, "left_anti")


def minhash_cross_corpus_pairs(
    new_docs: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup matches BETWEEN corpora: (new_id, ref_id, jaccard ≥ t).

    The near-match extension of exact cross-corpus dedup
    (corpus_quality.cross_corpus_dedup): an incremental crawl batch is
    checked against the held corpus for *near* recrawls — boilerplate
    drift, timestamp injection, ad rotation — that exact fingerprints
    miss.  Lee et al. (2022)-style pretraining hygiene, per-batch.

    Shape: each side runs the SAME fused signature kernel once
    (bands + shingle hashes in one Arrow pass, persisted); candidates
    come from a (band_idx, band_hash)-keyed join of the NEW side against
    the reference — never a self-join of the union, so candidate volume
    is |new ∩ ref buckets|, not (|new|+|ref|)².  The reference side
    applies the same ``max_bucket`` degenerate-bucket cap; verification
    intersects int64 shingle-hash arrays for candidate ids only.
    """
    def _sigs(d: DataFrame) -> DataFrame:
        return _fused_minhash_sigs(
            d, id_col, text_col, shingle_n, num_hashes, bands
        )

    sig_new, sig_ref = _sigs(new_docs), _sigs(reference)
    ref_capped = cap_buckets(_minhash_bands(sig_ref), _BAND, max_bucket)
    cands = (
        bucket_pairs(_minhash_bands(sig_new), _BAND, ref=ref_capped)
        .select("id_a", "id_b")
        .distinct()
    )
    out = _jaccard_verify(cands, sig_new, sig_ref, jaccard_threshold).select(
        F.col("id_a").alias("new_id"), F.col("id_b").alias("ref_id"), "jaccard"
    )
    return eager_release(out, sig_new, sig_ref)


def cross_corpus_near_survivors(
    new_docs: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Rows of ``new_docs`` with NO near-duplicate in ``reference`` —
    the ingest-gate composition of :func:`minhash_cross_corpus_pairs`
    (anti join on matched new ids)."""
    matched = minhash_cross_corpus_pairs(
        new_docs,
        reference,
        id_col=id_col,
        text_col=text_col,
        jaccard_threshold=jaccard_threshold,
    ).select(F.col("new_id").alias(id_col))
    return new_docs.join(matched, id_col, "left_anti")


def substring_overlap_pairs(
    docs: DataFrame,
    window: int = 16,
    min_shared: int = 8,
    max_bucket: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Byte-level substring-overlap pairs: (id_a, id_b, shared_windows).

    The EXACT-SUBSTRING dedup modality (Lee et al. 2022 deduplicate long
    repeated spans that survive document-level near-dup checks —
    licenses, templates, quoted passages): two docs sharing any
    ``window``-byte run share a Rabin-Karp rolling fingerprint, and a
    pair is reported when it shares ≥ ``min_shared`` DISTINCT window
    fingerprints (≈ a common span of ``window + min_shared − 1`` bytes,
    contiguity not proven — this is the candidate detector; span
    extraction is a per-pair follow-up on the matched docs only).

    Shape: one Arrow fingerprint pass per doc, explode DISTINCT
    fingerprints, inverted-index self-join keyed on the fingerprint with
    the standard ``max_bucket`` degenerate-bucket cap (a fingerprint in
    D docs makes D² pairs), then a grouped count ≥ threshold.  Same
    bucket-join scale discipline as the MinHash path.

    ONE fp shuffle + ONE kernel run total before the pair aggregate:
    the bucket cap (:func:`cap_buckets`) is a count() window over the fp
    partition, and the capped relation is ``localCheckpoint``ed between
    the cap and the pair join so both self-join sides read the SAME
    materialized rows instead of each re-running the Arrow kernel
    (exchange reuse can't kick in once AQE broadcasts one side).
    Measured 9.0 → 2.5 s warm at sf0.1 against a groupBy+join-back cap
    without the checkpoint.  The checkpoint is executor-local storage
    sized like a shuffle of the capped relation.  Tradeoffs vs a
    persist()/eager_release shape, accepted deliberately: checkpointed
    partitions live until the RDD is GC'd rather than being released
    the moment the pair aggregate is consumed, and executor loss fails
    the job instead of recomputing from lineage (localCheckpoint
    truncates it) — at 100 TB run this stage with external shuffle /
    decommissioning rather than relying on lineage replay.
    """
    fps = widen_for_kernel(docs).select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(TXT.rolling_fingerprints(F.col(text_col), window))
        ).alias("fp"),
    )
    capped = cap_buckets(fps, ["fp"], max_bucket).localCheckpoint(eager=False)
    return (
        bucket_pairs(capped, ["fp"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("int").alias("shared_windows"))
        .filter(F.col("shared_windows") >= min_shared)
    )


def edit_distance_pairs(
    df: DataFrame,
    col: str,
    max_bucket: int = 1000,
) -> DataFrame:
    """All distinct-value pairs within Levenshtein distance 1 →
    (val_a, val_b, lev), via symmetric-deletion blocking (SymSpell).

    Two strings are within edit distance 1 iff they share a member of
    their deletion neighborhoods D(s) = {s} ∪ {s minus one char}:
    equality shares s itself; a substitution shares the string with the
    differing position deleted from each side; an insert/delete means
    the shorter string IS a deletion of the longer.  So the candidate
    join is an equi-join on deletion variants — O(N·L) blocking keys
    instead of the N² cross join — followed by one exact
    ``levenshtein`` verify.  Variant expansion is pure built-ins
    (sequence → transform → explode, ``Column.substr`` with column
    positions: whole-stage codegen, no Python); ``max_bucket`` caps
    pathological shared variants exactly like the MinHash band cap.
    This is the typo-dedup / fuzzy-entity-resolution kernel at the
    string-key scale where MinHash shingles are too coarse.
    """
    v = F.col("val")
    vals = (
        df.select(F.col(col).alias("val"))
        .filter(v.isNotNull())
        .distinct()
    )
    # D(s): i = 0 keeps s; i in [1, len] deletes the i-th char (1-based).
    delete_i = lambda i: F.concat(  # noqa: E731
        v.substr(F.lit(1), i - 1), v.substr(i + 1, F.length(v))
    )
    variants = vals.select(
        "val",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.length(v)),
                    lambda i: F.when(i == F.lit(0), v).otherwise(delete_i(i)),
                )
            )
        ).alias("variant"),
    )
    capped = cap_buckets(variants, ["variant"], max_bucket)
    cands = (
        bucket_pairs(capped.withColumnRenamed("val", "id"), ["variant"])
        .select(F.col("id_a").alias("val_a"), F.col("id_b").alias("val_b"))
        .distinct()
    )
    return cands.select(
        "val_a",
        "val_b",
        F.levenshtein("val_a", "val_b").cast("int").alias("lev"),
    ).filter(F.col("lev") <= 1)


def chunk_dedup_docs(
    docs: DataFrame,
    divisor: int = 64,
    window: int = 16,
    max_size: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sub-document (chunk-level) dedup: drop every content-defined chunk
    whose exact bytes appeared earlier in the corpus and rebuild each
    document from its surviving chunks — the CCNet/RefinedWeb move of
    deduplicating at paragraph granularity so boilerplate shared across
    otherwise-distinct pages is removed without dropping whole documents.

    "Earlier" is the deterministic global order ``(id, chunk_idx)``: the
    first occurrence of a chunk (including the first within a single
    document) survives, every later copy is dropped.  Returns one row per
    input document::

        (doc_id, clean_text, n_chunks, n_dup_chunks, dropped_bytes)

    Scale shape (the reason this is not "explode and groupBy the text"):

    - chunk text NEVER shuffles.  The winner decision runs on a slim
      ``(fp=md5(chunk), id, chunk_idx, n_bytes)`` relation — a 16-byte
      digest shuffle on ``fp``, then a digest-sized groupBy back to one
      ``kept_idx`` int array per document.
    - documents shuffle ONCE (the join of the kept-index arrays back to
      the raw text on ``id``); the rebuild then RE-CHUNKS each document
      locally with the same deterministic cut kernel
      (functions.text.cdc_cut_points) and concatenates the kept indices
      in one Arrow pass.  Chunking is computed twice — trading a cheap
      columnar scan for a second corpus-sized shuffle, the right side of
      that trade at 100 TB.
    """
    import pandas as _pd

    chunks = TXT.content_defined_chunks(
        docs, divisor=divisor, window=window, max_size=max_size,
        id_col=id_col, text_col=text_col,
    )
    slim = chunks.select(
        "id", "chunk_idx", "n_bytes", F.md5("chunk").alias("fp")
    )
    w = Window.partitionBy("fp").orderBy("id", "chunk_idx")
    ranked = slim.withColumn("rn", F.row_number().over(w))
    per_doc = ranked.groupBy("id").agg(
        F.sort_array(
            F.collect_list(F.when(F.col("rn") == 1, F.col("chunk_idx")))
        ).alias("kept_idx"),
        F.count(F.lit(1)).cast("int").alias("n_chunks"),
        F.sum((F.col("rn") > 1).cast("int")).cast("int").alias("n_dup_chunks"),
        F.sum(
            F.when(F.col("rn") > 1, F.col("n_bytes")).otherwise(F.lit(0))
        ).cast("bigint").alias("dropped_bytes"),
    )

    joined = (
        docs.select(
            F.col(id_col).alias("id"), F.col(text_col).alias("text")
        )
        .join(per_doc, "id", "left")
    )

    def _rebuild(batches):
        for pdf in batches:
            out_text = []
            for t, kept in zip(pdf["text"], pdf["kept_idx"]):
                if kept is None or len(kept) == 0:
                    out_text.append("")
                    continue
                data = (t or "").encode("utf-8")
                cuts = TXT.cdc_cut_points(data, divisor, window, max_size)
                keep = set(int(k) for k in kept)
                out_text.append(
                    "".join(
                        data[cuts[ci]:cuts[ci + 1]].decode(
                            "utf-8", errors="ignore"
                        )
                        for ci in range(len(cuts) - 1)
                        if ci in keep
                    )
                )
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["id"],
                    "clean_text": out_text,
                    "n_chunks": pdf["n_chunks"].fillna(0).astype("int32"),
                    "n_dup_chunks": pdf["n_dup_chunks"].fillna(0).astype(
                        "int32"
                    ),
                    "dropped_bytes": pdf["dropped_bytes"].fillna(0).astype(
                        "int64"
                    ),
                }
            )

    return joined.mapInPandas(
        _rebuild,
        "doc_id long, clean_text string, n_chunks int, "
        "n_dup_chunks int, dropped_bytes long",
    )
