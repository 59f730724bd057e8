"""Physical-plan quality pins — the 100 TB checklist, asserted.

Correctness tests prove the right rows come out; these prove the right
PLAN produces them: filters pushed to the parquet scan, columns pruned,
small sides broadcast, aggregates split partial/final, codegen engaged,
and reused relations actually reused.  Each assertion is a property that
silently degrading would not change any result — only the 1000-executor
bill.
"""

from __future__ import annotations

from pathlib import Path

import pytest

from myrecommendsystem_spark.plans import registry

SF = "/root/testdata/sf0.001"
REPO_ROOT = Path(__file__).resolve().parent.parent


def _executed(spark, name: str) -> str:
    df = registry.all_queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_column_pruning(spark):
    plan = _executed(spark, "filter_project_lineitem")
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    # filters reach the scan
    assert "PushedFilters: [" in scan and "IsNotNull" in scan
    # projection pruning: lineitem has 16 columns; the scan must read few
    read_schema = scan.split("ReadSchema:")[1] if "ReadSchema:" in scan else scan
    assert read_schema.count(",") < 8, f"scan reads too many columns: {scan}"


def test_small_dims_broadcast(spark):
    plan = _executed(spark, "cross_join_region_nation")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_anti_join_is_broadcast_at_small_scale(spark):
    # left-anti against a small right side must not sort-merge
    plan = _executed(spark, "anti_join_unseen")
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_partial_aggregation_split(spark):
    """groupBy().agg() must map-side combine (partial + final HashAggregate)
    — the reference's groupByKey ships full rows instead."""
    plan = _executed(spark, "stats_rate_more_products")
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan


def test_whole_stage_codegen_engaged(spark):
    # AQE prints the initial plan until first execution — run the query,
    # then inspect the finalized adaptive plan for codegen stages.
    df = registry.all_queries()["stats_average_products"](spark, SF)
    df.collect()  # count() would build a separate QueryExecution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    # codegen stages print as `*(n)` prefixes in the final plan
    assert "*(1)" in plan or "WholeStageCodegen" in plan


def test_stream_recs_batch_reuses_sim_matrix(spark):
    """The item-CF sim matrix feeds two join branches; it must come from
    one cached relation, not two full recomputes of the self-join."""
    plan = _executed(spark, "stream_recs_batch")
    # both consumers read the cache (InMemoryRelation pretty-prints its
    # child subtree, so raw scan counts in the string are inflated — the
    # two InMemoryTableScan nodes are the property that matters)
    assert plan.count("InMemoryTableScan") >= 2


def test_q5_pipeline_pushdown_and_broadcast(spark):
    """6-way join: the date filter must reach the orders scan and the
    dimension joins must broadcast (no sort-merge at this scale)."""
    df = registry.all_queries()["revenue_by_nation"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    orders_scan = next(
        l for l in plan.splitlines() if "FileScan" in l and "orders" in l
    )
    assert "o_orderdate" in orders_scan.split("DataFilters:")[1]


def test_topk_uses_window_not_global_sort(spark):
    """Per-group top-k must be a partitioned window (spillable, no global
    collect), matching SURVEY.md §2.5's design call."""
    plan = _executed(spark, "topk_orders_per_customer")
    assert "RunningWindowFunction" in plan or "Window" in plan


@pytest.mark.parametrize(
    "name",
    [
        "doc_token_counts",
        "doc_quality_scores",
        "dedup_exact_groups",
        "doc_lang_id",
        "doc_tfidf_top_terms",
    ],
)
def test_text_pipelines_have_no_python_stages(spark, name):
    """Token counting / quality / exact dedup are pure Catalyst — a Python
    eval node appearing here means someone reintroduced a slow-path UDF."""
    plan = _executed(spark, name)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, f"{name} gained a Python stage: {marker}"


def test_rollup_single_pass(spark):
    """rollup must be ONE Expand + aggregate over one fact scan — not one
    scan per grouping set — and the dims must broadcast."""
    plan = _executed(spark, "rollup_revenue_region_nation")
    assert plan.count("Expand") == 1
    assert plan.count("FileScan parquet") <= 4  # orders + 3 dims, each once
    assert "BroadcastHashJoin" in plan


def test_rolling_frames_single_window_exchange(spark):
    """both frame specs partition on user_id — one shuffle must serve both
    Window operators (no second hashpartitioning exchange)."""
    plan = _executed(spark, "events_rolling_frames")
    assert plan.count("Window") >= 1
    ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(ex) == 1, f"expected one window shuffle, got: {ex}"


def test_tfidf_doc_count_is_broadcast_not_collected(spark):
    """the corpus doc-count N must ride a broadcast join into the scoring
    expression — a driver-side collect would serialize the whole plan."""
    plan = _executed(spark, "doc_tfidf_top_terms")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CollectLimit" not in plan


def test_outer_join_no_python_and_two_agg_levels(spark):
    """Q13 shape: the left-outer join must stay a hash join (broadcast at
    this scale; AQE may pick SMJ at 100 TB — both fine, never nested-loop),
    and both aggregation levels must split partial/final."""
    plan = _executed(spark, "outer_join_custdist")
    assert "LeftOuter" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4  # two groupBys × partial+final
    assert "Python" not in plan


def test_set_ops_compile_to_joins_not_python(spark):
    """intersect/exceptAll must lower to Catalyst join/aggregate operators
    — no Python stages, no cartesian fallback."""
    plan = _executed(spark, "set_ops_order_status")
    assert "CartesianProduct" not in plan and "Python" not in plan
    assert "Join" in plan


def test_lag_single_window_exchange(spark):
    """LAG is an offset window function: exactly one shuffle on user_id
    serves it; no frame buffer, no Python stages."""
    plan = _executed(spark, "events_lag_delta")
    assert plan.count("Window") >= 1
    assert "Python" not in plan
    # one exchange for the window partition + one for the final orderBy
    # (range partitioning); nothing else.
    assert plan.count("Exchange") <= 3, plan


def test_set_ops_reuses_cached_distinct_inputs(spark):
    """f_cust/o_cust each feed two set-op branches (intersect + except);
    both must come from cached relations so the orders parquet is scanned
    once per side, not once per branch."""
    plan = _executed(spark, "set_ops_order_status")
    assert plan.count("InMemoryTableScan") >= 4  # 2 relations × 2 consumers


def test_exists_shapes_lower_to_hash_semi_anti(spark):
    """Q4/Q21 shapes: correlated EXISTS/NOT EXISTS must be hash semi/anti
    joins with the non-equi conjunct as a join residual — a nested-loop
    fallback would turn the fact self-pairing O(n²) at scale."""
    plan = _executed(spark, "q4_order_priority_exists")
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan

    plan = _executed(spark, "q21_late_exclusive_suppliers")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "Python" not in plan


def test_q17_decorrelates_to_agg_join_not_window(spark):
    """Correlated scalar AVG per part: partial-agg + equi join back on the
    key.  No window sort over the fact, no nested loop, map-side combine
    on the per-part aggregate."""
    plan = _executed(spark, "q17_small_quantity_revenue")
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "partial_avg" in plan


def test_q22_scalar_subquery_is_broadcast_not_collect(spark):
    """The global-average cutoff must ride a 1-row broadcast join; the anti
    join on custkey must be a hash join."""
    plan = _executed(spark, "q22_idle_rich_customers")
    assert "BroadcastExchange" in plan
    assert "LeftAnti" in plan
    assert "CollectLimit" not in plan and "Python" not in plan


def test_cube_single_expand_pass(spark):
    """CUBE(flag, status) = one Expand + partial/final HashAggregate over
    ONE scan of the fact — not four scans unioned."""
    plan = _executed(spark, "cube_lineitem_status")
    assert plan.count("Expand") == 1
    assert plan.count("FileScan") == 1
    assert plan.count("HashAggregate") >= 2


def test_q6_all_filters_reach_scan(spark):
    """Q6 is THE pushdown benchmark: date range, discount range, and
    quantity cap are all plain column predicates — every one must appear
    in the lineitem scan's pushed/data filters, and the plan is scan+agg
    only (no shuffle besides the 1-partition final agg)."""
    plan = _executed(spark, "q6_revenue_forecast")
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in scan, f"{col} not pushed to scan: {scan}"
    assert "Join" not in plan


def test_q19_implied_conjuncts_prune_both_scans(spark):
    """The OR-of-conjunct-groups can't cross the join, but the implied
    single-table conjuncts must: brand IN (...) on the part scan, quantity
    range on the lineitem scan, with the disjunction as post-join filter."""
    plan = _executed(spark, "q19_disjunctive_revenue")
    part_scan = next(
        l for l in plan.splitlines() if "FileScan" in l and "/part" in l
    )
    li_scan = next(
        l for l in plan.splitlines() if "FileScan" in l and "lineitem" in l
    )
    assert "p_brand" in part_scan
    assert "l_quantity" in li_scan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q15_scans_lineitem_once_via_cache(spark):
    """The revenue CTE feeds both the scalar MAX and the probe; the persist
    must make both consumers read the cache — one lineitem scan total."""
    plan = _executed(spark, "q15_top_supplier")
    assert plan.count("InMemoryTableScan") >= 2
    assert "CollectLimit" not in plan


def test_q11_value_agg_reused_for_cut_and_probe(spark):
    """val is compared against a fraction of its own total: both readers
    must hit the cached aggregate, and the cut rides a broadcast."""
    plan = _executed(spark, "q11_important_parts")
    assert plan.count("InMemoryTableScan") >= 2
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_q2_min_decorrelation_no_nested_loop(spark):
    """Correlated MIN → per-part aggregate + equality join back.  No
    nested-loop join, no cartesian, no window sort over the fact."""
    plan = _executed(spark, "q2_min_cost_supplier")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan


def test_q10_topk_is_take_ordered(spark):
    """Global top-20 over an aggregate must be TakeOrderedAndProject —
    never a full global sort materialization."""
    plan = _executed(spark, "q10_returned_items")
    assert "TakeOrderedAndProject" in plan


def test_q12_q16_hash_joins_no_python(spark):
    """Non-equi residual (Q12) and NOT-IN blacklist (Q16) both stay in
    hash-join land with zero Python stages."""
    for name in ("q12_priority_linestatus", "q16_part_supplier_cnt"):
        plan = _executed(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "Python" not in plan, name
    assert "LeftAnti" in _executed(spark, "q16_part_supplier_cnt")


def test_global_row_numbers_distributed_shape(spark):
    """The distributed numbering must never move all rows into one task:
    no data-side Window (the mid-decomposition replaces row_number), the
    one SinglePartition exchange sits above the P-row partition-count
    aggregate (map-side combined), and both consumers read the cached
    range-shuffled relation."""
    plan = _executed(spark, "global_row_numbers")
    assert "rangepartitioning" in plan
    assert plan.count("Exchange SinglePartition") <= 1
    assert "partial_count" in plan  # offsets side aggregates BEFORE moving
    assert "row_number" not in plan  # no window over the data side
    assert plan.count("InMemoryTableScan") >= 2  # cache serves both passes


def test_funnel_is_two_aggregates_no_join(spark):
    """Funnel sequencing must stay the O(N) conditional-MIN formulation:
    two aggregation levels over one scan, never an event-pair join."""
    plan = _executed(spark, "events_funnel_conversion")
    assert "Join" not in plan
    assert plan.count("FileScan") == 1
    assert plan.count("HashAggregate") >= 4


def test_two_phase_distinct_no_expand(spark):
    """The dedupe-then-count rewrite: two partial/final aggregate pairs,
    no Expand node, no single-task distinct buffer."""
    plan = _executed(spark, "events_distinct_products_two_phase")
    assert "Expand" not in plan
    assert plan.count("HashAggregate") >= 4
    assert "Exchange SinglePartition" not in plan


def test_top_terms_take_ordered(spark):
    plan = _executed(spark, "doc_top_terms_global")
    assert "TakeOrderedAndProject" in plan
    assert "Python" not in plan


def test_latest_by_key_single_window_shuffle(spark):
    """rn=1 keep-latest: one keyed shuffle; Spark's WindowGroupLimit
    pushes the rank cut below the sort (partial+final pair is fine)."""
    plan = _executed(spark, "events_latest_per_user")
    assert "Window" in plan
    assert "Python" not in plan
    ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(ex) == 1, ex


def test_unpivot_is_single_expand_single_scan(spark):
    plan = _executed(spark, "lineitem_measures_unpivot")
    assert plan.count("Expand") == 1
    assert plan.count("FileScan") == 1
    assert "Python" not in plan


def test_gapfill_no_cartesian_no_python(spark):
    """grid × obs must stay an equi join on (key, bucket); the sequence
    explode is a Generate node, not a nested-loop join."""
    plan = _executed(spark, "events_hourly_gapfill")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" in plan
    assert "Python" not in plan


def test_snapshot_diff_full_outer_hash_join(spark):
    """The diff's FULL OUTER join must stay a hash/sort-merge join on the
    key — never a nested loop — and the whole path is Python-free."""
    plan = _executed(spark, "orders_snapshot_diff")
    assert "FullOuter" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def _driver_verified_names():
    """Names with a recorded driver row in any committed CORRECTNESS
    artifact — the ground truth the window rotation is derived from."""
    import json

    seen = set()
    for _, path in registry._correctness_artifacts(str(REPO_ROOT)):
        with open(path) as f:
            seen |= set(json.load(f))
    return seen


def test_driver_window_rotation_is_exact_prefix():
    """The round-8 rotation must (a) name only real queries, (b) fill the
    driver's 50-entry window exactly, and (c) be the literal prefix of
    all_queries() — a regression here silently un-verifies queries."""
    names = [s.name for s in registry._ordered()]
    assert len(registry.DRIVER_WINDOW) == 50
    assert names[:50] == registry.DRIVER_WINDOW
    assert len(names) == len(set(names))


def test_driver_window_derived_from_correctness_artifacts():
    """The window must be derivable from the recorded
    CORRECTNESS_r0*.json artifacts, not a hand-list that can go stale.

    Invariants: (a) every unverified query is either at the exact front
    of the window or a declared same-round addition (``defer=True`` —
    the NEXT rotation's front); (b) window padding re-checks all HAVE a
    prior driver row; (c) no established (non-defer) query hides
    unverified behind the window.  When the r06 artifact lands, (a)
    becomes vacuous for this window and the next rotation refreshes it."""
    seen = _driver_verified_names()
    ordered = registry._ordered()
    names = [s.name for s in ordered]
    defer = {s.name for s in ordered if s.defer}
    window = registry.DRIVER_WINDOW
    never_in_window = [n for n in names if n not in seen and n in window]
    # (a): unverified window members sit at the exact front
    assert never_in_window == window[: len(never_in_window)]
    # (b): everything after the unverified block is a genuine re-check
    assert all(n in seen for n in window[len(never_in_window) :])
    # (c): unverified queries behind the window are all declared defers
    hidden = [n for n in names if n not in seen and n not in window]
    assert all(n in defer for n in hidden), [n for n in hidden if n not in defer]


def test_next_round_window_derivation_is_ready(tmp_path):
    """Dry-run the next rotation: with a synthetic artifact for the
    current window's round (hash rows for gated members, rows-only rows
    for the rest), the derivation for the round after must front
    exactly that round's registrations (no driver row can exist for
    them by construction), gated before rows-only, then pad with
    hash-green re-checks to exactly 50 unique real names.  If this
    breaks, the next round's window breaks."""
    import json
    import shutil

    gated = {s.name for s in registry.REGISTRY if s.oracle is not None}
    artifacts = registry._correctness_artifacts(str(REPO_ROOT))
    for _, path in artifacts:
        shutil.copy(path, tmp_path)
    current = max(r for r, _ in artifacts) + 1
    assert registry.DRIVER_WINDOW == registry.expected_driver_window(current)
    fake = {
        name: (
            {"hash_match": True, "rows_match": True, "err": None}
            if name in gated
            else {"hash_match": None, "rows_match": True, "err": "no_oracle"}
        )
        for name in registry.DRIVER_WINDOW
    }
    (tmp_path / f"CORRECTNESS_r{current}.json").write_text(json.dumps(fake))
    nxt = registry.expected_driver_window(current + 1, str(tmp_path))
    names = {s.name for s in registry.REGISTRY}
    new = [s for s in registry.REGISTRY if s.since == current]
    expected_front = [s.name for s in new if s.oracle is not None] + [
        s.name for s in new if s.oracle is None
    ]
    assert len(nxt) == 50
    assert len(set(nxt)) == 50
    assert set(nxt) <= names
    assert nxt[: len(expected_front)] == expected_front
    # every padding entry is a genuine re-check with a hash-green row
    assert all(n in names for n in nxt[len(expected_front) :])


def test_coverage_md_gate_labels_match_registry():
    """COVERAGE.md's ``(oracle)`` / ``(rows)``
    gate labels drift when a query is upgraded rows-only → hash-gated
    (dedup_minhash_pairs/_simhash_pairs sat stale since r6; the sweep
    found five more).  Diff every label that names a registered query
    against the registry's actual oracle status — prose stays honest or
    CI says so."""
    import re

    text = (REPO_ROOT / "COVERAGE.md").read_text()
    gated = {s.name: s.oracle is not None for s in registry.REGISTRY}
    mismatched = [
        (name, label)
        for name, label in re.findall(
            r"`([a-z0-9_]+)`\s*\(\**(oracle|rows)\**[);:,\s]", text
        )
        if name in gated and (label == "oracle") != gated[name]
    ]
    assert not mismatched, mismatched


def test_two_digit_round_artifacts_are_parsed(tmp_path):
    """From round 10 on the artifact filenames
    grow a second digit (CORRECTNESS_r10.json).  The derivation's glob +
    regex must pick them up — a green row recorded ONLY in a two-digit
    artifact must keep its query out of the never-verified front and
    rank it FRESHEST in the padding tier (latest green round = 10 beats
    the synthetic round-1 rows)."""
    import json

    gated = [s.name for s in registry.REGISTRY if s.oracle is not None]
    target = gated[0]
    green = {"hash_match": True, "rows_match": True, "err": None}
    # every query green in round 1 EXCEPT the target...
    art1 = {s.name: green for s in registry.REGISTRY if s.name != target}
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(art1))
    # ...which is green only in the two-digit round-10 artifact
    (tmp_path / "CORRECTNESS_r10.json").write_text(json.dumps({target: green}))
    win = registry.expected_driver_window(11, artifact_dir=str(tmp_path))
    assert len(win) == 50 and len(set(win)) == 50
    # parsed: target is verified (not fronted) and, being the freshest
    # green (round 10 vs round 1), is NOT picked as stalest padding
    assert target not in win


def test_oracle_enumeration_degrades_per_entry_not_globally(monkeypatch):
    """A lazy (data-dependent) oracle that cannot resolve
    — testdata dir missing on this host — must degrade only ITS entry to
    rows-only, never poison the whole ``all_oracle_sql()`` map.  With the
    resolution dir pointed at a nonexistent path, every static-SQL entry
    must still enumerate and every lazy entry must be dropped (not
    raised); the dir is env-overridable for hosts with data elsewhere."""
    lazy = {s.name for s in registry.REGISTRY if callable(s.oracle)}
    static = {
        s.name
        for s in registry.REGISTRY
        if s.oracle is not None and not callable(s.oracle)
    }
    assert lazy, "expected data-dependent lazy oracles in the registry"
    monkeypatch.setattr(
        registry, "DRIVER_ORACLE_SF_DIR", "/nonexistent/sfX"
    )
    got = registry.all_oracle_sql()  # pre-fix: raised FileNotFoundError
    assert static <= set(got)
    assert not (lazy & set(got))
    assert all(isinstance(v, str) for v in got.values())


def test_red_hash_queries_are_rescheduled(tmp_path):
    """A gated query whose only driver rows are
    hash-RED (rows exist, not ``no_oracle``, never hash-green) must be
    rescheduled by the mechanical rule — after the stale-oracle tier,
    before the hash-green padding.  Synthetic artifacts: one green query,
    one red query, one stale (``no_oracle``-only) query."""
    import json

    gated = [s.name for s in registry.REGISTRY if s.oracle is not None]
    red, stale = gated[0], gated[1]
    art = {}
    for s in registry.REGISTRY:
        if s.name == red:
            art[s.name] = {"hash_match": False, "rows_match": True, "err": None}
        elif s.name == stale or s.oracle is None:
            art[s.name] = {
                "hash_match": None,
                "rows_match": True,
                "err": "no_oracle",
            }
        else:
            art[s.name] = {"hash_match": True, "rows_match": True, "err": None}
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(art))
    win = registry.expected_driver_window(99, artifact_dir=str(tmp_path))
    # never-verified tiers are empty; stale fronts, red follows, then
    # hash-green padding — pre-fix, `red` matched no tier and vanished
    assert win[0] == stale
    assert win[1] == red
    assert len(win) == 50 and len(set(win)) == 50


def test_driver_window_schemas_are_flat(spark, sf_dir):
    """The driver's pandas canonicalizer crashes on array/map/struct
    cells (r01 ``approx_distinct_users`` precedent) — every query in the
    50-entry window must return a flat schema."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    qs = registry.all_queries()
    for name in registry.DRIVER_WINDOW:
        schema = qs[name](spark, sf_dir).schema
        bad = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        assert not bad, f"{name} returns nested columns {bad}"


def test_headline_shuffle_counts_pinned(spark):
    """The per-query plan pins check SHAPES;
    nothing caught a new shuffle sneaking into an unpinned query.  This
    pins the number of shuffle Exchange nodes (BroadcastExchange is a
    different token and deliberately NOT counted — broadcasts are the
    cheap alternative this pin should never discourage) in every
    headline query's executed plan at sf0.001 against the committed
    tests/shuffle_counts.json.  A GROWN count fails — at 100 TB an
    extra shuffle is the regression that matters most; a SHRUNK count
    also fails, with instructions, so improvements get recorded rather
    than silently eroding the pin.  Regenerate after an intentional
    plan change:

        MRS_REGEN_SHUFFLE_PINS=1 python -m pytest \\
            tests/test_plans.py::test_headline_shuffle_counts_pinned
    """
    import json
    import os
    import re

    import bench

    pin_path = REPO_ROOT / "tests" / "shuffle_counts.json"
    qs = registry.all_queries()
    counts = {}
    for name in bench.HEADLINE:
        if name not in qs:
            continue
        plan = qs[name](spark, SF)._jdf.queryExecution().executedPlan().toString()
        counts[name] = len(re.findall(r"\bExchange\b", plan))
    if os.environ.get("MRS_REGEN_SHUFFLE_PINS"):
        pin_path.write_text(json.dumps(counts, indent=1, sort_keys=True))
        return
    pins = json.loads(pin_path.read_text())
    grown = {n: (pins[n], c) for n, c in counts.items() if n in pins and c > pins[n]}
    assert not grown, f"shuffle count GREW (pinned, now): {grown}"
    shrunk = {n: (pins[n], c) for n, c in counts.items() if n in pins and c < pins[n]}
    assert not shrunk, (
        f"shuffle count shrank (pinned, now): {shrunk} — nice, "
        "re-pin with MRS_REGEN_SHUFFLE_PINS=1"
    )
    missing = [n for n in counts if n not in pins]
    assert not missing, (
        f"headline queries without a shuffle pin: {missing} — "
        "re-pin with MRS_REGEN_SHUFFLE_PINS=1"
    )


@pytest.mark.parametrize(
    "name", ["media_near_dup_pairs", "audio_near_dup_pairs"]
)
def test_fingerprint_near_dup_python_is_fingerprint_only(spark, name):
    """Each perceptual near-dup pipeline's ONE Python stage is the
    fingerprint kernel (the decode boundary — image dHash / audio HK);
    everything downstream — banding, bucket cap, pair join, bit_count
    verify — must be codegen.  ``fingerprint_near_duplicates``
    checkpoints its result (eager_release), which would collapse the
    executed plan to ExistingRDD, so the pin reads the plan under the
    caching.lazy_plans inspection hook.  The lazy plan caches the banded
    side for its three consumers; the cached subtree carries the single
    MapInPandas and the pair join keys on the band bucket (no
    corpus-sized join keys, no cartesian)."""
    from myrecommendsystem_spark.functions import caching

    import re as _re

    with caching.lazy_plans():
        df = registry.all_queries()[name](spark, SF)
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        # the executed plan prints InMemoryTableScan leaves without the
        # cached subtree — read the kernel count from the analyzed plan
        full = qe.analyzed().toString()
    spark.catalog.clearCache()
    # ">= 1" would let a SECOND Python stage slip in —
    # the exact regression this pin guards.  The analyzed plan prints
    # the persisted fingerprint subtree once per reference (expr ids
    # differ per copy), so count DISTINCT kernels after normalizing
    # expr ids: exactly ONE distinct mapInPandas signature may appear.
    kernels = {
        _re.sub(r"#\d+", "", line[line.find("apInPandas") - 1 :])
        for line in full.splitlines()
        if "apInPandas" in line
    }
    assert len(kernels) == 1, kernels
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan and marker not in full
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the pair self-join keys on the band bucket
    assert "band_idx" in plan and "band_val" in plan


def test_quality_model_scoring_is_pure_codegen(spark):
    """Round-9 quality-model contract: SCORING never runs Python — the
    257 weights fold through one codegen aggregate per document (the
    fit is a bounded driver-side collect, invisible to this plan)."""
    plan = _executed(spark, "doc_quality_model_scores")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, f"scoring gained a Python stage: {marker}"


def test_hygiene_funnel_reads_checkpointed_keep_sets(spark):
    """The corpus-hygiene keep-ID sets are localCheckpointed (ids only —
    payloads never enter checkpoint storage), so the funnel's four
    stage aggregates re-join pinned ids instead of re-running the
    text-heavy passes per branch: the final plan reads ExistingRDD
    scans and contains NO Generate (gram-explode) node — the
    contamination kernel ran exactly once, while its keep set
    materialized."""
    plan = _executed(spark, "corpus_clean_pipeline")
    assert "ExistingRDD" in plan
    assert "Generate" not in plan, plan


def test_substring_overlap_kernel_runs_once(spark):
    """The fingerprint inverted index must be materialized ONCE and fed
    to both self-join sides: the capped relation is localCheckpointed,
    so the final pair-join plan reads the checkpointed rows (ExistingRDD
    scan) and contains NO ArrowEvalPython stage — the shape that
    re-ran the Arrow kernel per join side measured ~2x slower and would
    double the corpus scan at 100 TB."""
    from myrecommendsystem_spark.io import readers
    from myrecommendsystem_spark.operators import dedup

    docs = readers.load_table(spark, SF, "documents")
    out = dedup.substring_overlap_pairs(docs, window=16, min_shared=8)
    assert out.count() > 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 0, plan
    assert "ExistingRDD" in plan


def test_decontamination_broadcasts_bench_no_python(spark):
    plan = _executed(spark, "doc_decontamination")
    assert "BroadcastHashJoin" in plan  # bench grams are the broadcast side
    assert "Python" not in plan  # pure JVM: shingles are array expressions


def test_grouping_sets_single_expand_pass(spark):
    plan = _executed(spark, "revenue_grouping_sets")
    assert plan.count("Expand") == 1  # 3 grouping sets, ONE scan
    assert "Python" not in plan


def test_repetition_signals_stay_jvm_side(spark):
    plan = _executed(spark, "doc_repetition_signals")
    assert "Python" not in plan


def test_next_item_examples_single_shuffle(spark):
    plan = _executed(spark, "ratings_next_item_examples")
    # one userId exchange serves the ordering window; nothing else moves
    assert plan.count("Exchange") == 1
    assert "Python" not in plan


def test_winsorize_broadcasts_cut_table(spark):
    plan = _executed(spark, "events_value_winsorized")
    assert "BroadcastHashJoin" in plan  # per-type cuts never shuffle the facts
    assert "Python" not in plan


def test_division_broadcasts_universe_count(spark):
    """Relational division: the universe count must ride a broadcast —
    never a shuffled join — and the pair-distinct + count path is
    Python-free."""
    plan = _executed(spark, "suppliers_covering_all_types")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_ohlc_windows_share_one_exchange(spark):
    """Both row-number flags and the final aggregate key on
    (event_type, hour): one exchange serves all three."""
    plan = _executed(spark, "events_ohlc_hourly")
    assert plan.count("Exchange") <= 2  # keyed exchange + final order
    assert "Python" not in plan


def test_integrity_report_no_cartesian_no_python(spark):
    plan = _executed(spark, "lineitem_integrity_report")
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_scd2_single_user_exchange(spark):
    """Both LEAD expressions ride the same (user_id) window exchange."""
    plan = _executed(spark, "events_scd2_intervals")
    assert plan.count("Window") == 1
    assert "Python" not in plan


def test_mixture_resample_fraction_broadcast(spark):
    """The per-stratum fraction table joins broadcast; membership filter
    is a codegen expression, no Python anywhere."""
    plan = _executed(spark, "docs_mixture_resample")
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan


def test_session_examples_share_one_shuffle(spark):
    plan = _executed(spark, "ratings_session_examples")
    # session-id window and per-session history window ride ONE exchange
    assert plan.count("Exchange") == 1
    assert "Python" not in plan


def test_mad_outliers_broadcasts_stat_tables(spark):
    """events_value_mad_outliers: the 5-row med/mad relations must ride
    broadcast joins — a shuffle join keyed on 5 event types would put
    the whole fact table through a 5-key exchange (skew by design)."""
    plan = _executed(spark, "events_value_mad_outliers")
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    assert "SortMergeJoin" not in plan


def test_fuzzy_pairs_no_cartesian(spark):
    """part_name_fuzzy_pairs: SymSpell blocking must stay an equi-join
    on deletion variants — any nested-loop/cartesian means the blocking
    silently degraded to the N^2 oracle shape."""
    plan = _executed(spark, "part_name_fuzzy_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cdc_final_state_single_window_pass(spark):
    """events_cdc_final_state: last-writer-wins must be ONE keyed window
    (one Exchange on the key), never a join of the log against itself."""
    plan = _executed(spark, "events_cdc_final_state")
    assert plan.count("RunningWindowFunction") + plan.count("Window") >= 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_embedding_outliers_broadcast_model(spark):
    """embedding_outlier_scores: the 64-row centroid and the 1-row
    moments must ride broadcasts — shuffling the dim stream against a
    64-row table would exchange the whole corpus on `pos`."""
    plan = _executed(spark, "embedding_outlier_scores")
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 2, plan[:2000]


def test_growth_accounting_reuses_checkpointed_activity(spark):
    """users_growth_accounting: the distinct-activity relation feeds 4
    branches via localCheckpoint scans — no branch may recompute the
    events scan+distinct (plan shows checkpointed RDD scans, and the
    raw parquet appears at most once)."""
    plan = _executed(spark, "users_growth_accounting")
    assert plan.count("Scan ExistingRDD") >= 3, plan[:2000]
    assert plan.count("FileScan parquet") <= 1


def test_skyline_two_phase_no_global_window(spark):
    """The distributed skyline must keep both window passes partitioned:
    the only SinglePartition exchanges allowed are the 32-row bucket-max
    relation and the final broadcast/sort — never the data side."""
    plan = _executed(spark, "parts_skyline")
    assert "CartesianProduct" not in plan
    assert "Python" not in plan
    # the data-side window is partitioned by bkt
    assert "partitionBy=[bkt" in plan or "hashpartitioning(bkt" in plan


def test_late_arrivals_two_phase_no_global_window(spark):
    """Watermark audit: running max must be bucket-local; the global
    prefix comes from the 32-row bucket-max side only."""
    plan = _executed(spark, "events_late_arrivals")
    assert "Python" not in plan
    assert "hashpartitioning(bkt" in plan
    # no window over an un-bucketed global ordering of the data side:
    # every Window node in the plan mentions the bucket key or runs on
    # the 32-row side (which shows as SinglePartition above an agg)
    data_windows = [
        l for l in plan.splitlines()
        if "Window [" in l and "bkt" not in l
    ]
    assert len(data_windows) <= 1  # only the 32-row prefix-max window


def test_collocations_materializes_then_releases(spark):
    """PMI collocation mining: the heavy exploded relations are persisted,
    consumed by every branch, then released via eager_release — the plan
    handed back is a bounded sort over the 20-row checkpoint, and no
    cached relation outlives the call."""
    sc = spark.sparkContext
    before = sc._jsc.sc().getPersistentRDDs().size()
    plan = _executed(spark, "doc_collocations_pmi")
    after = sc._jsc.sc().getPersistentRDDs().size()
    assert "Python" not in plan
    assert "Generate explode" not in plan  # heavy work already materialized
    assert "ExistingRDD" in plan
    # only the 20-row result checkpoint may remain (released on GC);
    # the two corpus-sized caches must be gone
    assert after - before <= 1


def test_time_to_convert_no_cartesian(spark):
    plan = _executed(spark, "events_time_to_convert")
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_band_join_is_equi_on_bucket_never_nested_loop(spark):
    """The |Δprice|<=5 band predicate must ride as a residual on a
    bucket equi join — an inequality-only join would fall back to
    BroadcastNestedLoopJoin (O(n^2) probes at scale)."""
    plan = _executed(spark, "parts_price_band_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "bkt" in plan  # the synthetic equi key is in the join
    assert "Python" not in plan


def test_rollup_chain_single_raw_scan(spark):
    """The hour grain must re-aggregate the MINUTE relation, not rescan
    events: one FileScan, two partial/final aggregate pairs."""
    plan = _executed(spark, "events_rollup_two_level")
    assert plan.count("FileScan") == 1
    assert plan.count("HashAggregate") >= 4
    assert "Python" not in plan


def test_simhash_fingerprint_hashing_is_codegen(spark):
    """The md5-derived token hash (functions.text.md5_hash64) must stay
    a pure codegen expression: the fingerprint stage's ONLY Python is
    the single Arrow vote kernel — token hashing that fell back to a
    Python UDF would put an interpreted stage on every corpus token at
    100 TB."""
    from pyspark.sql import functions as F

    from myrecommendsystem_spark.functions import text as TXT
    from myrecommendsystem_spark.io import readers

    docs = readers.load_table(spark, SF, "documents")
    fp = docs.select("doc_id", TXT.simhash64(F.col("text")).alias("fp"))
    fp.collect()
    plan = fp._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan  # the vote kernel only
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python
    assert "md5" in plan and "conv" in plan  # hashing inlined in codegen


def test_minhash_candidates_single_kernel_pass(spark):
    """minhash_near_duplicates materializes the fused bands+shingles
    kernel ONCE (persisted, eagerly counted) and eager_release hands
    back a checkpointed result: downstream consumers read an
    ExistingRDD scan with NO Python stage — re-running the signature
    kernel per consumer was the measured majority of the pipeline's
    sf0.1 wall time before the fusion."""
    from myrecommendsystem_spark.io import readers
    from myrecommendsystem_spark.operators import dedup

    docs = readers.load_table(spark, SF, "documents")
    out = dedup.minhash_near_duplicates(docs, jaccard_threshold=0.5)
    assert out.count() > 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # (sig-cache release after consumption is pinned in test_caching.py)


def test_aqe_skew_join_fires_on_leaf_join(spark):
    """Two skew defenses coexist and this pins the boundary between
    them: AQE's OptimizeSkewedJoin splits a skewed sort-merge join when
    the join is stage-leaf (skew=true in the final plan), but it CANNOT
    apply when the join output must stay hash-distributed for a
    downstream same-key aggregate — which is precisely the case the
    explicit salted-join operator (revenue_by_priority_salted) covers.
    Thresholds are tightened so a 90%-hot key skews at test scale."""
    import re

    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 < 9, 0)
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("v"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.lit("dim").alias("d")
        )
        # (a) leaf join: AQE splits the hot partition
        j = left.join(right, "k")
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert re.search(r"skew=true", plan), plan
        # (b) join feeding a same-key aggregate: the hash requirement
        # blocks the split — the manual salting rewrite is the defense
        agg = left.join(right, "k").groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        agg.collect()
        plan2 = agg._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan2
        assert not re.search(r"skew=true", plan2)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
