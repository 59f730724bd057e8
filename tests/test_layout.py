"""Storage-layout operators: partition pruning, bucketed joins, salting.

These are the write-side levers that decide 100 TB join/scan cost; the
tests assert the PLAN effects (pruned partitions, zero shuffle exchanges),
not just row equality.
"""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from myrecommendsystem_spark.io.writers import (
    drop_table,
    write_bucketed_table,
    write_overwrite,
)
from myrecommendsystem_spark.operators.skew import salted_join


def test_partitioned_write_prunes(spark, tmp_path):
    df = spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") % 7).alias("bucket"),
        (F.col("id") * 2).alias("payload"),
    )
    path = str(tmp_path / "part")
    write_overwrite(df, path, partition_by=["bucket"], sort_by=["id"])

    back = spark.read.parquet(path).filter(F.col("bucket") == 3)
    assert back.count() == df.filter(F.col("id") % 7 == 3).count()
    plan = back._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    # the partition predicate must prune at planning time, not filter rows
    assert "PartitionFilters: [" in scan and "bucket" in scan.split(
        "PartitionFilters:"
    )[1].split("]")[0]


def test_bucketed_join_has_no_shuffle(spark):
    left_name = f"t_left_{uuid.uuid4().hex[:8]}"
    right_name = f"t_right_{uuid.uuid4().hex[:8]}"
    left = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("a")
    )
    right = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") * 5).alias("b")
    )
    try:
        write_bucketed_table(left, left_name, ["k"], num_buckets=8, sort_by=["k"])
        write_bucketed_table(right, right_name, ["k"], num_buckets=8, sort_by=["k"])
        joined = spark.table(left_name).join(spark.table(right_name), "k")
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-located buckets: the join needs NO shuffle exchange at all
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() == 5000
    finally:
        drop_table(spark, left_name)
        drop_table(spark, right_name)


def test_salted_join_matches_plain_join(spark):
    # skewed: 90% of rows share key 1
    skewed = spark.range(0, 2000).select(
        F.when(F.col("id") % 10 < 9, 1).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    dim = spark.createDataFrame(
        [(1, "hot"), (10, "cold"), (30, "cold")], "k long, label string"
    )
    plain = {(r.k, r.v, r.label) for r in skewed.join(dim, "k").collect()}
    salted = {
        (r.k, r.v, r.label)
        for r in salted_join(skewed, dim, ["k"], salt_factor=4).collect()
    }
    assert salted == plain and len(plain) > 1500


def test_table_stamp_detects_regeneration(spark, tmp_path):
    """Caches keyed on sf_dir alone go stale when the data under a
    reused dir is regenerated in-process (the ann_oracles cache keys on
    the stamp for that reason).  table_stamp must change when a table is rewritten (even same row
    count), be stable across reads, and degrade to a constant for
    unstattable paths."""
    import time

    from myrecommendsystem_spark.io.readers import table_stamp

    sf = str(tmp_path)
    df1 = spark.range(10).select(F.col("id").alias("doc_id"))
    df1.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    s1 = table_stamp(sf, "documents")
    assert s1 == table_stamp(sf, "documents")  # stable across reads
    time.sleep(0.05)  # ensure mtime_ns moves even on coarse filesystems
    df1.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    assert table_stamp(sf, "documents") != s1  # rewrite invalidates
    assert table_stamp(sf, "nonexistent") == ("unstattable",)


def test_no_module_level_memo_dicts():
    """No query keeps state between calls: a module-level name bound to
    an empty dict is a per-process memo, which serves a repeat call
    over rewritten data a stale result and makes every timed repeat a
    cache hit — so no module of the package binds one."""
    import ast
    import pathlib

    import myrecommendsystem_spark

    root = pathlib.Path(myrecommendsystem_spark.__file__).parent
    memos = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            value = getattr(node, "value", None)
            if not isinstance(node, (ast.Assign, ast.AnnAssign)):
                continue
            if (isinstance(value, ast.Dict) and not value.keys) or (
                isinstance(value, ast.Call)
                and getattr(value.func, "id", None) == "dict"
                and not value.args
                and not value.keywords
            ):
                memos.append(f"{path.relative_to(root)}:{node.lineno}")
    assert memos == []


def test_min_id_survivor_rule_lives_in_dedup():
    """The near-dup keep rule (a connected_components row survives when
    its ``comp`` equals its ``id``) is spelled once, in
    operators/dedup.py's ``min_id_survivors`` and ``min_id_keep_list``:
    no other module of the package compares ``F.col("comp")`` with
    ``F.col("id")``."""
    import ast
    import pathlib

    import myrecommendsystem_spark

    def col_name(node):
        if (
            isinstance(node, ast.Call)
            and getattr(node.func, "attr", None) == "col"
            and len(node.args) == 1
            and isinstance(node.args[0], ast.Constant)
        ):
            return node.args[0].value
        return None

    root = pathlib.Path(myrecommendsystem_spark.__file__).parent
    copies = []
    for path in sorted(root.rglob("*.py")):
        if path.relative_to(root).as_posix() == "operators/dedup.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Compare) and len(node.comparators) == 1:
                names = {col_name(node.left), col_name(node.comparators[0])}
                if names == {"comp", "id"}:
                    copies.append(f"{path.relative_to(root)}:{node.lineno}")
    assert copies == []


def test_no_shadowed_test_definitions():
    """No two module-level functions or classes in one tests/*.py file
    share a name: Python keeps the last definition silently, so the
    first one never runs."""
    import ast
    import collections
    import pathlib

    dups = []
    for path in sorted(pathlib.Path(__file__).parent.glob("*.py")):
        names = collections.Counter(
            node.name
            for node in ast.parse(path.read_text()).body
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            )
        )
        dups += [f"{path.name}::{n}" for n, c in names.items() if c > 1]
    assert dups == []


def test_skew_profile_recommends_salt_for_whale_key(spark):
    """A whale key (80% of rows) gets rec_salt ≈ its share of the
    partition budget; a key that fits one balanced task gets 1; ranking
    and cumulative shares are deterministic (count desc, key asc)."""
    from myrecommendsystem_spark.operators.skew import skew_profile

    df = spark.range(0, 1000).select(
        F.when(F.col("id") < 800, F.lit("whale"))
        .when(F.col("id") < 900, F.lit("mid"))
        .otherwise((F.col("id") % 10).cast("string"))
        .alias("k")
    )
    rows = skew_profile(df, ["k"], top_n=3, num_partitions=10).orderBy(
        "rnk"
    ).collect()
    assert [r.key for r in rows] == ["whale", "mid", "0"]
    assert [r.cnt for r in rows] == [800, 100, 10]
    # target = ceil(1000/10) = 100 rows/task: whale needs 8-way salt,
    # mid exactly fills one task, a tail key is far under budget
    assert [r.rec_salt for r in rows] == [8, 1, 1]
    assert rows[0].share == 0.8 and rows[1].cum_share == 0.9
    # top_n bounds the report even with 12 distinct keys
    assert len(rows) == 3


def test_skew_profile_plan_avoids_global_sort(spark):
    """The heavy-hitter pick must plan TakeOrderedAndProject
    (per-partition heaps + driver merge of top_n), never a full sort
    of the distinct-key relation — the 100 TB scale contract."""
    from myrecommendsystem_spark.operators.skew import skew_profile

    df = spark.range(0, 1000).select((F.col("id") % 50).cast("string").alias("k"))
    plan = (
        skew_profile(df, ["k"], top_n=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_adaptive_salted_join_matches_plain_and_salts_in_plan(spark):
    """Close the skew loop: the salt factor
    comes from skew_profile's rec_salt via a one-row broadcast, never a
    hand-tuned constant or a driver collect.  Contract: (a) answer-
    identical to the plain join on a whale-key corpus; (b) with the
    small side pinned to sort-merge, the executed plan shows the SALTED
    exchange — hashpartitioning on (key…, __salt); (c) a uniform corpus
    degenerates to salt_n=1 and still matches the plain join; (d) the
    parameter guards raise on nonsense."""
    import pytest

    from myrecommendsystem_spark.operators.skew import (
        adaptive_salted_join,
        salted_join,
        skew_profile,
    )

    skewed = spark.range(0, 2000).select(
        F.when(F.col("id") % 10 < 9, 1).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    dim = spark.createDataFrame(
        [(1, "hot"), (10, "cold"), (30, "cold")], "k long, label string"
    )
    plain = {(r.k, r.v, r.label) for r in skewed.join(dim, "k").collect()}
    out = adaptive_salted_join(
        skewed, dim, ["k"], num_partitions=10, small_hint="merge"
    )
    got = {(r.k, r.v, r.label) for r in out.collect()}
    assert got == plain and len(plain) > 1500  # (a)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the join itself is keyed on (k, __salt): a SortMergeJoin whose
    # exchanges carry the salt column next to the user key
    assert "SortMergeJoin" in plan
    assert "hashpartitioning(k" in plan and "__salt" in plan  # (b)
    uniform = spark.range(0, 300).select(
        (F.col("id") % 3 + 1).alias("k"), F.col("id").alias("v")
    )
    uplain = {(r.k, r.v, r.label) for r in uniform.join(dim, "k").collect()}
    ugot = {
        (r.k, r.v, r.label)
        for r in adaptive_salted_join(
            uniform, dim, ["k"], num_partitions=10
        ).collect()
    }
    assert ugot == uplain  # (c)
    with pytest.raises(ValueError):  # (d) — argument guards
        adaptive_salted_join(skewed, dim, ["k"], num_partitions=0)
    with pytest.raises(ValueError):
        skew_profile(skewed, ["k"], num_partitions=-3)
    with pytest.raises(ValueError):
        salted_join(skewed, dim, ["k"], salt_factor=0)


def test_salted_join_rejects_right_and_full_outer(spark):
    """The small side is replicated once per
    salt value, so an unmatched small-side row under how='right'/'full'
    would emit salt_factor null-extended copies instead of one.  Both
    salted joins must refuse those join types up front; the supported
    left-flank types still work and stay answer-identical."""
    import pytest

    from myrecommendsystem_spark.operators.skew import (
        adaptive_salted_join,
        salted_join,
    )

    skewed = spark.range(0, 200).select(
        F.when(F.col("id") % 10 < 9, 1).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    dim = spark.createDataFrame(
        [(1, "hot"), (10, "cold"), (9999, "unmatched")], "k long, label string"
    )
    for bad in ("right", "rightouter", "right_outer", "full", "fullouter",
                "full_outer", "outer"):
        with pytest.raises(ValueError, match="replicated"):
            salted_join(skewed, dim, ["k"], salt_factor=4, how=bad)
        with pytest.raises(ValueError, match="replicated"):
            adaptive_salted_join(skewed, dim, ["k"], how=bad)
    # the left-flank types remain answer-identical to the plain join
    for ok in ("left", "left_semi", "left_anti"):
        plain = skewed.join(dim, "k", ok).collect()
        got = salted_join(skewed, dim, ["k"], salt_factor=4, how=ok).collect()
        key = lambda r: tuple(str(x) for x in r)
        assert sorted(map(key, got)) == sorted(map(key, plain)), ok


def test_salt_levels_full_row_duplicates(spark):
    """A whale key whose rows are LITERAL
    duplicates (common in event logs) defeats a pure row-hash salt —
    every copy lands on one reducer and the levelling guarantee
    silently degrades.  The salt mixes in the partition-local row
    ordinal, so a corpus of identical rows must still fan out across
    every salt value, near-uniformly, and the join stays answer-
    identical."""
    from myrecommendsystem_spark.operators.skew import (
        _SALT,
        _salt_col,
        salted_join,
    )

    # 4000 literally identical rows in 4 input partitions
    dup = spark.range(0, 4000, 1, 4).select(
        F.lit(1).alias("k"), F.lit("same").alias("v")
    )
    salt_n = 8
    hist = (
        dup.withColumn(
            _SALT, _salt_col([F.col("k"), F.col("v")], F.lit(salt_n))
        )
        .groupBy(_SALT)
        .count()
        .collect()
    )
    sizes = {r[_SALT]: r["count"] for r in hist}
    assert len(sizes) == salt_n  # every salt value is hit
    assert max(sizes.values()) <= 2 * min(sizes.values())  # level, not lumpy
    dim = spark.createDataFrame([(1, "hot")], "k long, label string")
    got = salted_join(dup, dim, ["k"], salt_factor=salt_n).collect()
    assert len(got) == 4000 and all(r.label == "hot" for r in got)


def test_adaptive_salted_group_count_matches_plain_and_salts_in_plan(spark):
    """The groupBy half of the skew loop.  The
    salt factor comes from skew_profile's rec_salt via a one-row
    broadcast (no driver hop, no hand-tuned constant); the partial
    aggregate's exchange carries (keys…, __salt); answers match the
    plain groupBy().count() on whale-key AND uniform corpora."""
    from myrecommendsystem_spark.operators.skew import (
        adaptive_salted_group_count,
    )

    skewed = spark.range(0, 3000).select(
        F.when(F.col("id") % 10 < 9, 1).otherwise(F.col("id") % 50).alias("k")
    )
    plain = {(r.k, r["count"]) for r in skewed.groupBy("k").count().collect()}
    out = adaptive_salted_group_count(skewed, ["k"], num_partitions=10)
    got = {(r.k, r.cnt) for r in out.collect()}
    assert got == plain
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(k" in plan and "__salt" in plan
    uniform = spark.range(0, 300).select((F.col("id") % 3).alias("k"))
    uplain = {(r.k, r["count"]) for r in uniform.groupBy("k").count().collect()}
    ugot = {
        (r.k, r.cnt)
        for r in adaptive_salted_group_count(
            uniform, ["k"], num_partitions=10
        ).collect()
    }
    assert ugot == uplain
    import pytest

    with pytest.raises(ValueError):
        adaptive_salted_group_count(skewed, ["k"], num_partitions=0)


def test_salted_distinct_set_matches_plain_and_partitions_exactly(spark):
    """The adaptive salt's real venue — a
    set-valued aggregate with no partial-aggregation escape hatch.
    The salt keys on the VALUE hash, so each distinct value lands in
    exactly one (key, salt) bucket: partial sets are disjoint, their
    sizes sum to the exact distinct count, and the flattened merge
    equals the plain sort_array(collect_set).  Verified on a whale-key
    corpus with literal duplicate rows (the row-hash trap), a forced
    salt_n > 1, NULL values (ignored, COUNT(DISTINCT) semantics), and
    a uniform corpus (degenerates to the plain two-stage plan)."""
    from myrecommendsystem_spark.operators.skew import (
        _SALT,
        salted_distinct_set,
    )

    # whale key 1 carries 2700 rows over 81 distinct values (each value
    # duplicated ~33× — literal copies); tail keys get a few values
    # each; key 99 carries only NULLs
    skewed = (
        spark.range(0, 3000)
        .select(
            F.when(F.col("id") % 10 < 9, 1)
            .otherwise(F.col("id") % 50 + 10)
            .alias("k"),
            F.when(F.col("id") % 10 < 9, (F.col("id") % 90).cast("long"))
            .otherwise(F.col("id") % 7)
            .alias("v"),
        )
        .union(
            spark.createDataFrame(
                [(99, None), (99, None)], "k long, v long"
            )
        )
    )
    forced = spark.createDataFrame([(6,)], "rec_salt int")
    out = salted_distinct_set(skewed, ["k"], "v", profile=forced)
    got = {
        (r.k, r.n_distinct, tuple(r.distinct_values)) for r in out.collect()
    }
    plain = {
        (r.k, r.n, tuple(r.vals))
        for r in skewed.groupBy("k")
        .agg(
            F.countDistinct("v").cast("bigint").alias("n"),
            F.sort_array(F.collect_set("v")).alias("vals"),
        )
        .collect()
    }
    assert got == plain
    # the all-NULL key survives with an empty set, not a dropped row
    assert (99, 0, ()) in got
    # the salted-partial exchange is in the executed plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(k" in plan and _SALT in plan
    # with the forced salt the whale's partial sets genuinely split:
    # >1 (key, salt) partial row for the whale key, disjoint by size
    partials = (
        skewed.filter("k = 1 AND v IS NOT NULL")
        .withColumn(
            _SALT, F.pmod(F.xxhash64(F.col("v")), F.lit(6).cast("bigint"))
        )
        .groupBy(_SALT)
        .agg(F.countDistinct("v").alias("d"))
        .collect()
    )
    assert len(partials) > 1
    whale_d = next(n for k, n, _ in got if k == 1)
    assert sum(r.d for r in partials) == whale_d  # disjoint partition
    # uniform corpus degenerates (adaptive profile path, salt_n=1)
    uniform = spark.range(0, 300).select(
        (F.col("id") % 3).alias("k"), (F.col("id") % 11).alias("v")
    )
    ugot = {
        (r.k, r.n_distinct, tuple(r.distinct_values))
        for r in salted_distinct_set(
            uniform, ["k"], "v", num_partitions=10
        ).collect()
    }
    uplain = {
        (r.k, r.n, tuple(r.vals))
        for r in uniform.groupBy("k")
        .agg(
            F.countDistinct("v").cast("bigint").alias("n"),
            F.sort_array(F.collect_set("v")).alias("vals"),
        )
        .collect()
    }
    assert ugot == uplain
    import pytest

    with pytest.raises(ValueError):
        salted_distinct_set(skewed, ["k"], "v", num_partitions=0)


def test_skew_profile_null_and_composite_keys_not_merged(spark):
    """Counts group on the RAW key columns: NULL is not merged with
    empty string, and composite keys are never merged by the display
    rendering (('US', NULL) vs (NULL, 'US') are distinct keys)."""
    from pyspark.sql import Row

    from myrecommendsystem_spark.operators.skew import skew_profile

    df = spark.createDataFrame(
        [Row(a="US", b=None)] * 5
        + [Row(a=None, b="US")] * 3
        + [Row(a="US", b="US")] * 2,
        "a string, b string",
    )
    rows = skew_profile(df, ["a", "b"], top_n=10, num_partitions=10).collect()
    got = {r.key: r.cnt for r in rows}
    assert got == {"US|<NULL>": 5, "<NULL>|US": 3, "US|US": 2}

    single = spark.createDataFrame(
        [Row(k=None)] * 4 + [Row(k="")] * 2, "k string"
    )
    srows = skew_profile(single, ["k"], top_n=10).collect()
    assert {r.key: r.cnt for r in srows} == {"<NULL>": 4, "": 2}
