"""IO format breadth: JSON-lines and ORC read/write round-trips.

The reference ingests only delimited text (DataLoader.scala:38-50); a
production pipeline also interchanges JSONL (log shippers, LLM training
shards) and ORC (Hive-lineage warehouses).  Both paths reuse the same
engine confs as the parquet reader so nanos-timestamp/UTC behavior is
format-independent.
"""

from __future__ import annotations

from pyspark.sql import functions as F, types as T

from myrecommendsystem_spark.io import readers, writers
from myrecommendsystem_spark.plans.ingest_queries import RATINGS_JSONL

RATING_DDL = "userId INT, productId INT, score DOUBLE, ts_sec INT"


def test_read_jsonl_fixture_schema_and_rows(spark):
    df = readers.read_jsonl(spark, RATINGS_JSONL, RATING_DDL)
    assert df.schema.simpleString() == (
        "struct<userId:int,productId:int,score:double,ts_sec:int>"
    )
    assert df.count() == 300


def test_jsonl_round_trip(spark, tmp_path):
    src = readers.read_jsonl(spark, RATINGS_JSONL, RATING_DDL)
    out = str(tmp_path / "jsonl_rt")
    writers.write_overwrite(src, out, fmt="json")
    back = readers.read_jsonl(spark, out, RATING_DDL)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_jsonl_corrupt_line_is_null_not_fatal(spark, tmp_path):
    p = tmp_path / "bad.jsonl"
    p.write_text('{"userId":1,"productId":2,"score":3.0,"ts_sec":4}\nnot json\n')
    df = readers.read_jsonl(spark, str(p), RATING_DDL)
    rows = df.collect()
    assert len(rows) == 2  # permissive: corrupt line yields a null row
    assert sum(r.userId is not None for r in rows) == 1


def test_orc_round_trip_partitioned(spark, sf_dir, tmp_path):
    src = readers.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    out = str(tmp_path / "orders_orc")
    writers.write_overwrite(
        src, out, partition_by=["o_orderstatus"], sort_by=["o_orderkey"], fmt="orc"
    )
    back = readers.read_orc(spark, out).select(*src.columns)
    assert back.count() == src.count()
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_orc_scan_gets_pushdown_and_pruning(spark, sf_dir, tmp_path):
    """ORC must keep the two scan properties parquet has: predicate
    pushdown into the file reader and partition pruning from the layout."""
    src = readers.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    out = str(tmp_path / "orders_orc_plan")
    writers.write_overwrite(src, out, partition_by=["o_orderstatus"], fmt="orc")
    q = (
        readers.read_orc(spark, out)
        .filter((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 1000.0))
        .select("o_orderkey")
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "o_totalprice" in plan
    # partition filter must NOT appear as a data filter — it prunes directories
    assert "PartitionFilters: [" in plan


def test_load_table_leaves_engine_session_conf_alone(
    spark, sf_dir, monkeypatch
):
    """A ``get_spark`` session already has the readers' confs (UTC,
    nanos parquet timestamps), so reads make no ``RuntimeConfig.set``
    call, and ``events.ts`` still arrives as a timestamp."""
    conf_cls = type(spark.conf)
    set_keys = []
    real_set = conf_cls.set

    def _recording_set(self, key, *args, **kwargs):
        set_keys.append(key)
        return real_set(self, key, *args, **kwargs)

    monkeypatch.setattr(conf_cls, "set", _recording_set)
    events = readers.load_table(spark, sf_dir, "events")
    readers.load_table(spark, sf_dir, "documents")
    assert set_keys == []
    assert isinstance(
        events.schema["ts"].dataType, (T.TimestampType, T.TimestampNTZType)
    )
