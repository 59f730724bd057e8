"""Iterative graph algorithms on DataFrames — PageRank.

Complements ``dedup.connected_components`` (the other iterative closure
in the engine): PageRank over a product co-occurrence / similarity graph
is the classic item-importance prior for recommenders, and at corpus
scale it ranks near-duplicate clusters and citation-ish link structures.

Spark-first shape: each iteration is one join + one aggregate keyed on
the edge source/destination (shuffle on node id); the rank relation is
``localCheckpoint``-truncated every few rounds so the lineage does not
grow linearly with iterations (the same discipline as
``connected_components``).  The node count and nothing else crosses the
driver — a metadata-sized scalar.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F

# Edge lists at or under this row count run the power iteration
# driver-side off one bounded collect — the same venue-sizing discipline
# as the BPE trainer (_DRIVER_VOCAB_CAP) and the ANN quantizers: a
# product/item graph is catalog-bounded (like a vocabulary), so
# virtually every recommender graph takes the fast path, while web-scale
# link graphs exceed the cap and take the distributed loop.  At test
# scale the distributed loop is pure scheduling overhead (~0.33 s per
# tiny iteration measured at sf0.1); the in-memory fold is identical
# arithmetic, deterministically ordered.  Driver footprint at the cap:
# the Arrow fetch (_collect_edges_arrow) lands 5M edges as two int64
# columns ≈ 80 MB + one transient Arrow copy — small against any
# realistic driver heap (a Row-object collect would be the multi-GB
# risk).
_DRIVER_EDGE_CAP = 5_000_000


def _collect_edges_arrow(edges: DataFrame):
    """Bounded driver fetch of a ≤``_DRIVER_EDGE_CAP`` edge list as a
    pandas frame via Arrow batches with self-destruct, NOT ``collect()``
    Row objects: per-edge cost drops from a boxed Row (~100+ bytes) to
    two primitive array slots, and self-destruct frees each Arrow batch
    as it converts, so the driver peak is ~one copy of the columnar data
    instead of several GB of Row overhead near the cap.  The Arrow fetch
    and the self-destructing conversion are requested here directly, not
    through ``toPandas()`` and its session confs, so the session's conf
    (and any later user ``toPandas()`` on it) is never changed."""
    import pyarrow as pa

    batches = edges._collect_as_arrow(
        split_batches=True, empty_list_if_zero_records=False
    )
    table = pa.Table.from_batches(batches)
    del batches  # the table holds the only reference: self-destruct frees
    return table.to_pandas(
        self_destruct=True, split_blocks=True, use_threads=False
    )


def _pagerank_inmem(
    src: np.ndarray, dst: np.ndarray, damping: float, iterations: int
) -> tuple[np.ndarray, np.ndarray]:
    """numpy power iteration over (src, dst) id arrays → (ids, ranks).

    Mirrors the distributed loop's arithmetic expression-for-expression
    ((1-d)/n + d*(in_mass + dmass/n); contrib = rank/deg); edges are
    sorted by (dst, src) first so the in-mass summation order — and
    therefore the float result — is independent of input partitioning.

    Position mapping is ``searchsorted`` against the sorted unique ids —
    dtype-agnostic (int, string/UUID, any orderable id works; an
    ``int(v)`` dict would raise on non-integer ids) and
    vectorized, with positions identical to the old dict (both index
    into the same sorted-unique array), so float results are unchanged.
    """
    ids = np.unique(np.concatenate([src, dst]))
    s = np.searchsorted(ids, src)
    d = np.searchsorted(ids, dst)
    order = np.lexsort((s, d))
    s, d = s[order], d[order]
    n = len(ids)
    deg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = deg == 0.0
    ranks = np.full(n, 1.0 / n)
    for _ in range(iterations):
        in_mass = np.zeros(n)
        np.add.at(in_mass, d, ranks[s] / deg[s])
        dmass = float(ranks[dangling].sum())
        ranks = (1.0 - damping) / n + damping * (in_mass + dmass / n)
    return ids, ranks


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_every: int = 3,
    driver_edge_cap: int = _DRIVER_EDGE_CAP,
) -> DataFrame:
    """Standard power-iteration PageRank → (id, rank), Σ rank = 1.

    ``edges`` is a DIRECTED edge list; feed both directions for an
    undirected graph (e.g. an item-similarity matrix already stores
    symmetric pairs).  Dangling-node mass is redistributed uniformly —
    the textbook formulation, so ranks are a true probability
    distribution (pinned by tests).

    Venue gate: at or under ``driver_edge_cap`` edges the loop runs
    in driver memory off one bounded collect (see ``_DRIVER_EDGE_CAP``);
    above it, each iteration is one edges⋈ranks shuffle join + aggregate
    with the out-degree pre-divided into the checkpointed edge list.
    Both paths are pinned equal (rounded to the query's 6 digits) in
    tests/test_graph.py.
    """
    src, dst = F.col(src_col), F.col(dst_col)
    # Materialize the edge list ONCE: every iteration re-reads it, and a
    # lazy edge plan (e.g. the kNN similarity build) would otherwise be
    # recomputed from scratch per round — the same discipline as
    # bfs_distances (measured 7.5 s → 2.9 s at sf0.1 on the kNN graph,
    # 8 iterations).
    edges = edges.select(src, dst).localCheckpoint(eager=True)
    from pyspark.sql.types import DoubleType, StructField, StructType

    # Empty and non-empty results carry the INPUT's id type (a
    # hardcoded int schema on the empty branch breaks downstream
    # unions when the data's ids are long/string).
    out_schema = StructType(
        [
            StructField("id", edges.schema.fields[0].dataType),
            StructField("rank", DoubleType()),
        ]
    )
    if edges.count() <= driver_edge_cap:
        pdf = _collect_edges_arrow(edges)  # bounded by contract: cap'd
        if len(pdf) == 0:
            return edges.sparkSession.createDataFrame([], out_schema)
        ids, rk = _pagerank_inmem(
            pdf.iloc[:, 0].to_numpy(),
            pdf.iloc[:, 1].to_numpy(),
            damping,
            iterations,
        )
        return edges.sparkSession.createDataFrame(
            list(zip(ids.tolist(), rk.tolist())), out_schema
        )
    nodes = (
        edges.select(src.alias("id"))
        .unionByName(edges.select(dst.alias("id")))
        .distinct()
    )
    nodes = nodes.localCheckpoint(eager=True)  # reused every iteration
    n = nodes.count()  # metadata-sized driver scalar
    if n == 0:
        return edges.sparkSession.createDataFrame([], out_schema)
    out_deg = edges.groupBy(src.alias("id")).agg(
        F.count(F.lit(1)).cast("double").alias("deg")
    )
    # The out-degree is loop-invariant: pre-join it
    # into the checkpointed edge list ONCE so each iteration is a single
    # edges⋈ranks join + aggregate instead of ranks⋈out_deg + edges⋈·.
    # deg rides per edge and contrib stays rank/deg — the identical
    # floating expression the oracle replays, so hashes are unchanged.
    edges_w = (
        edges.select(src.alias("id"), dst.alias("to"))
        .join(out_deg, "id")
        .localCheckpoint(eager=True)
    )
    # Dangling-node set is loop-invariant too: nodes with no out-edges.
    # On symmetric graphs (every similarity edge stored both ways) it is
    # EMPTY, and the per-iteration dangling aggregate is skipped outright.
    dangling_nodes = nodes.join(
        edges_w.select("id"), "id", "left_anti"
    ).localCheckpoint(eager=True)
    n_dangling = dangling_nodes.count()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for i in range(iterations):
        contribs = (
            edges_w.join(ranks, "id")
            .select(
                F.col("to").alias("id"),
                (F.col("rank") / F.col("deg")).alias("contrib"),
            )
            .groupBy("id")
            .agg(F.sum("contrib").alias("in_mass"))
        )
        new_ranks = nodes.join(contribs, "id", "left")
        if n_dangling:
            # dangling mass: rank held by nodes with no out-edges,
            # spread uniformly — a 1-row aggregate riding a broadcast
            dangling = ranks.join(dangling_nodes, "id", "left_semi").agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass")
            )
            new_ranks = new_ranks.crossJoin(F.broadcast(dangling))
            dmass = F.col("dmass")
        else:
            dmass = F.lit(0.0)
        ranks = new_ranks.select(
            "id",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping)
                * (F.coalesce(F.col("in_mass"), F.lit(0.0)) + dmass / n)
            ).alias("rank"),
        )
        if (i + 1) % checkpoint_every == 0 or i == iterations - 1:
            # truncate lineage: plan depth stays O(checkpoint_every)
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def bfs_distances(
    edges: DataFrame,
    seed: int,
    max_hops: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    driver_edge_cap: int = _DRIVER_EDGE_CAP,
) -> DataFrame:
    """Shortest hop-distance from ``seed`` to every node reachable in
    ``max_hops`` → (id, dist).

    The frontier-expansion BFS: each round joins the previous frontier
    against the edge list and anti-joins already-settled nodes, so a
    node's distance is fixed the first time it is reached (hop count is
    the BFS invariant — no min-aggregate needed).  Per round: one
    shuffle join keyed on node id + one anti join against the settled
    set; the settled relation is ``localCheckpoint``-truncated so plan
    depth stays O(1) per hop.  The loop bound is ``max_hops`` (fixed),
    not convergence — deterministic cost, and the SQL twin is a bounded
    recursive CTE (DuckDB ``WITH RECURSIVE``), which Spark has no native
    operator for: this IS the Spark-side expression of recursive SQL.

    Venue gate as in :func:`pagerank`: catalog-bounded edge lists
    (≤ ``driver_edge_cap``) run the frontier expansion driver-side off
    one bounded collect — BFS is integer-exact, so the venues agree
    bit-for-bit (pinned in tests/test_graph.py).
    """
    spark = edges.sparkSession
    src, dst = F.col(src_col), F.col(dst_col)
    # Materialize the edge list ONCE: every hop re-reads it, and a lazy
    # edge plan (e.g. a similarity build) would otherwise recompute from
    # scratch per hop — measured 11 s → 2.3 s at sf0.1 on the kNN graph.
    edges = edges.select(src, dst).localCheckpoint(eager=True)
    from pyspark.sql.types import (
        IntegerType,
        IntegralType,
        LongType,
        StructField,
        StructType,
    )

    # Integral ids keep the long-widened output (both venues emit
    # long — existing oracles pin it); any other id type
    # (string/UUID) passes through unchanged
    # in BOTH venues instead of null-ing out under a long cast.
    id_type = edges.schema.fields[0].dataType
    out_id_type = LongType() if isinstance(id_type, IntegralType) else id_type
    out_schema = StructType(
        [StructField("id", out_id_type), StructField("dist", IntegerType())]
    )
    if edges.count() <= driver_edge_cap:
        pdf = _collect_edges_arrow(edges)  # bounded by contract: cap'd
        adj: dict = {}
        for u, v in zip(pdf.iloc[:, 0].tolist(), pdf.iloc[:, 1].tolist()):
            adj.setdefault(u, []).append(v)
        dist = {seed: 0}
        frontier_py = [seed]
        for hop in range(1, max_hops + 1):
            nxt = {
                d
                for u in frontier_py
                for d in adj.get(u, ())
                if d not in dist
            }
            if not nxt:
                break
            for d in nxt:
                dist[d] = hop
            frontier_py = list(nxt)
        return spark.createDataFrame(sorted(dist.items()), out_schema)
    settled = spark.createDataFrame([(seed, 0)], out_schema)
    settled = settled.localCheckpoint(eager=True)
    frontier = settled.select("id")
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(edges, frontier["id"] == src)
            .select(dst.cast(out_id_type).alias("id"))
            .distinct()
        )
        # checkpoint the NEW set itself: the settled union reads it back
        # instead of recomputing the join, and the emptiness probe below
        # is a metadata-cheap scan of materialized partitions
        new = (
            nxt.join(settled, "id", "left_anti")
            .withColumn("dist", F.lit(hop))
            .localCheckpoint(eager=True)
        )
        settled = settled.unionByName(new).localCheckpoint(eager=True)
        frontier = new.select("id")
        if new.isEmpty():  # graph exhausted before the hop cap
            break
    return settled
