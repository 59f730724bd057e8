"""Query registry — every operator from SURVEY.md §2 as a named query.

Each :class:`QuerySpec` pairs a Spark DataFrame builder with the ANSI-SQL
oracle DuckDB runs over the same parquet tables.  The driver compares
row-count + schema + order-insensitive value hash at sf=0.01
(``__spark_entry__.py`` contract).  Conventions that keep the two engines
hash-identical:

- every computed column is aliased identically on both sides;
- COUNT(*) is cast to BIGINT in DuckDB (its native COUNT is hugeint);
- floating aggregates are ROUNDed on both sides (summation order is
  engine-dependent);
- timestamps/dates in outputs are formatted to strings on both sides.

The ratings relation used by recommender-semantics queries is derived from
``events`` (see ``io.readers.events_as_ratings``); its oracle twin is the
``ratings`` CTE below.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from myrecommendsystem_spark.functions.compat import sql_round_stable
from myrecommendsystem_spark.io import readers
from myrecommendsystem_spark.operators import stats

Builder = Callable[[SparkSession, str], DataFrame]

# DuckDB twin of io.readers.events_as_ratings — keep in sync.
RATINGS_CTE = """
ratings AS (
    SELECT CAST(user_id AS INTEGER) AS userId,
           CAST(regexp_extract(props, '[0-9]+', 0) AS INTEGER) AS productId,
           value AS score,
           ts
    FROM events
)
""".strip()


# The scale the external driver resolves oracles at (its CORRECTNESS
# contract runs Spark and DuckDB side-by-side at sf0.01).  Data-dependent
# lazy oracles (see plans/ann_oracles.py) train their inlined constants
# from this directory when the driver calls oracle_sql(); local replays
# resolve at their own sf_dir instead (resolve_oracle).  Overridable for
# hosts with the testdata elsewhere.
import os as _os

DRIVER_ORACLE_SF_DIR = _os.environ.get(
    "DRIVER_ORACLE_SF_DIR", "/root/testdata/sf0.01"
)


def resolve_oracle(oracle, sf_dir: str) -> str | None:
    """A QuerySpec oracle is a SQL string, None (rows-only), or a
    ``Callable[[str], str]`` building the SQL for a given sf_dir — the
    shape for oracles whose inlined constants are trained on
    the data (quantized-ANN codebooks).  Resolve to a plain string."""
    return oracle(sf_dir) if callable(oracle) else oracle


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    # SQL string | Callable[[sf_dir], str] (lazy, data-dependent
    # constants) | None → driver records rows-only check
    oracle: str | Callable[[str], str] | None
    doc: str = ""
    defer: bool = False  # True → register behind the established gated set
    # Round the query was registered in (0 = pre-r7 era).  The window
    # derivation (expected_driver_window) only fronts queries with
    # ``since < round_no``: a query registered DURING round N has no
    # driver row yet by construction and fronts the ROUND N+1 window,
    # not its own — the post-backlog registration policy, encoded.
    since: int = 0


REGISTRY: list[QuerySpec] = []


def register(
    name: str,
    oracle: str | Callable[[str], str] | None,
    doc: str = "",
    defer: bool = False,
    since: int = 0,
) -> Callable[[Builder], Builder]:
    def deco(fn: Builder) -> Builder:
        REGISTRY.append(
            QuerySpec(
                name=name,
                builder=fn,
                oracle=oracle,
                doc=doc,
                defer=defer,
                since=since,
            )
        )
        return fn

    return deco


# Driver window.  The external driver verifies exactly the 50-entry
# PREFIX of ``all_queries()`` each round and records the result as
# CORRECTNESS_r{N}.json.  The window is derived from those committed
# artifacts (:func:`expected_driver_window`); ``all_queries()`` order
# carries no semantics beyond this prefix.  The package ``__init__``
# assigns DRIVER_WINDOW once every query module has registered.
DRIVER_WINDOW: list[str] = []


def _correctness_artifacts(artifact_dir: str | None) -> list[tuple[int, str]]:
    """(round, path) of every committed CORRECTNESS_r{N}.json."""
    import glob
    import os
    import re

    if artifact_dir is None:
        artifact_dir = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
    out = []
    for path in sorted(glob.glob(os.path.join(artifact_dir, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m is not None:
            out.append((int(m.group(1)), path))
    return out


def next_driver_window() -> list[str]:
    """The window for the round after the newest committed artifact."""
    rounds = [r for r, _ in _correctness_artifacts(None)]
    return expected_driver_window(max(rounds, default=0) + 1)


def expected_driver_window(
    round_no: int, artifact_dir: str | None = None, size: int = 50
) -> list[str]:
    """Derive the round-``round_no`` driver window from the committed
    CORRECTNESS_r{N}.json artifacts with N < ``round_no`` — the window
    composition rule:

    1. never driver-verified, oracle-gated (registration order);
    2. never driver-verified, rows-only (registration order);
    3. stale-oracle re-checks: gated NOW but every recorded driver row
       carries ``err == "no_oracle"`` (the row predates the hash gate);
    4. red-hash re-checks: gated queries with recorded
       driver rows but NO hash-green row and not all ``no_oracle`` —
       i.e. a hash gate that once FAILED (or errored) at the driver and
       would otherwise never be rescheduled by tiers 1-3 (no green row
       exists for the padding tier to pick up either);
    5. padding to ``size``: hash-green re-checks, stalest first (latest
       green round ascending, registration order within a round).

    Deterministic given the committed artifacts; ``DRIVER_WINDOW`` is
    this derivation for the next round (:func:`next_driver_window`).
    No tier is added for queries changed after their last green driver
    row: every change replays the gated queries it touches at sf0.01
    against the oracle before it lands.
    """
    import json

    seen: dict[str, list[tuple[int, dict]]] = {}
    for rnd, path in _correctness_artifacts(artifact_dir):
        if rnd >= round_no:
            continue
        with open(path) as f:
            for name, row in json.load(f).items():
                seen.setdefault(name, []).append((rnd, row))
    # same-round registrations (since == round_no) front the NEXT
    # rotation, not their own — they cannot appear in a window that was
    # published before they existed
    eligible = [s for s in REGISTRY if s.since < round_no]
    reg_idx = {s.name: i for i, s in enumerate(REGISTRY)}
    gated = {s.name for s in eligible if s.oracle is not None}
    never_gated = [s.name for s in eligible if s.name not in seen and s.name in gated]
    never_rows = [
        s.name for s in eligible if s.name not in seen and s.name not in gated
    ]
    stale = [
        s.name
        for s in eligible
        if s.name in seen
        and s.name in gated
        and all(row.get("err") == "no_oracle" for _, row in seen[s.name])
    ]
    red = [
        s.name
        for s in eligible
        if s.name in seen
        and s.name in gated
        and s.name not in stale
        and not any(row.get("hash_match") for _, row in seen[s.name])
    ]
    front = never_gated + never_rows + stale + red
    green = sorted(
        (max(r for r, row in rows if row.get("hash_match")), reg_idx[name], name)
        for name, rows in seen.items()
        if name in reg_idx
        and name not in front
        and any(row.get("hash_match") for _, row in rows)
    )
    pad = [name for _, _, name in green[: max(0, size - len(front))]]
    return (front + pad)[:size]


def _ordered() -> list[QuerySpec]:
    """Rotation front first (see ``DRIVER_WINDOW``), then the rest in
    three tiers with registration order preserved within each:

    1. established oracle-gated queries — prior driver-green rows;
    2. deferred oracle-gated queries (``defer=True``) — new additions,
       replayed locally by tests/test_registry_oracle at driver scale;
    3. rows-only queries — ops whose outputs aren't SQL-reproducible
       (ALS, hash-family sketches); the weakest check trails.
    """
    front_rank = {n: i for i, n in enumerate(DRIVER_WINDOW)}
    front = sorted(
        (s for s in REGISTRY if s.name in front_rank),
        key=lambda s: front_rank[s.name],
    )
    rest = [s for s in REGISTRY if s.name not in front_rank]
    gated = [s for s in rest if s.oracle is not None and not s.defer]
    deferred = [s for s in rest if s.oracle is not None and s.defer]
    rows_only = [s for s in rest if s.oracle is None]
    return front + gated + deferred + rows_only


def all_queries() -> dict[str, Builder]:
    return {spec.name: spec.builder for spec in _ordered()}


def all_oracle_sql() -> dict[str, str]:
    """Driver contract: plain SQL strings, lazy oracles resolved at the
    driver's sf0.01 (the only scale the driver compares at; path
    overridable via $DRIVER_ORACLE_SF_DIR).

    A lazy oracle that fails to resolve — testdata missing/empty on this
    host — degrades THAT entry to rows-only (omitted here, exactly as if
    ``oracle=None``) instead of poisoning the whole enumeration: one
    unreadable file must not turn every gated query red."""
    out: dict[str, str] = {}
    for spec in _ordered():
        if spec.oracle is None:
            continue
        try:
            out[spec.name] = resolve_oracle(spec.oracle, DRIVER_ORACLE_SF_DIR)
        except Exception as exc:  # noqa: BLE001 — degrade, don't poison
            import sys

            print(
                f"all_oracle_sql: {spec.name} degraded to rows-only "
                f"(lazy oracle failed to resolve: {exc})",
                file=sys.stderr,
            )
    return out


# ---------------------------------------------------------------------------
# Statistics family (StatisticsRecommender — SURVEY.md §2.4 A1-A3, F1, O1)
# ---------------------------------------------------------------------------


@register(
    "stats_rate_more_products",
    f"""
WITH {RATINGS_CTE}
SELECT productId, CAST(COUNT(*) AS BIGINT) AS cnt
FROM ratings
GROUP BY productId
ORDER BY cnt DESC, productId
""",
    doc="A1: per-product rating count (StatisticsRecommender.scala:54)",
)
def q_rate_more(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.rate_more_products(readers.events_as_ratings(spark, sf_dir))


@register(
    "stats_rate_more_recently_products",
    f"""
WITH {RATINGS_CTE}
SELECT CAST(strftime(ts, '%Y%m%d') AS INTEGER) AS period,
       productId,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM ratings
GROUP BY period, productId
ORDER BY period DESC, cnt DESC, productId
""",
    doc="A2+F1+O1: per-(day, product) count, recent first "
    "(StatisticsRecommender.scala:79-86; day granularity because the "
    "testdata spans one month)",
)
def q_rate_more_recently(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.rate_more_recently_products(
        readers.events_as_ratings(spark, sf_dir), period_format="yyyyMMdd"
    )


@register(
    "stats_average_products",
    f"""
WITH {RATINGS_CTE}
SELECT productId, {sql_round_stable('AVG(score)', 4)} AS avg_score
FROM ratings
GROUP BY productId
ORDER BY productId
""",
    doc="A3: per-product mean score (StatisticsRecommender.scala:101)",
)
def q_average_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.average_products(readers.events_as_ratings(spark, sf_dir))
