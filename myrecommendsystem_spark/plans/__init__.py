from myrecommendsystem_spark.plans import registry
from myrecommendsystem_spark.plans.registry import (  # noqa: F401
    QuerySpec,
    all_queries,
    all_oracle_sql,
    REGISTRY,
)

# Importing a query module registers its queries (side-effectful decorators).
from myrecommendsystem_spark.plans import ingest_queries  # noqa: E402,F401
from myrecommendsystem_spark.plans import tpch_queries  # noqa: E402,F401
from myrecommendsystem_spark.plans import subquery_queries  # noqa: E402,F401
from myrecommendsystem_spark.plans import tpch_full_queries  # noqa: E402,F401
from myrecommendsystem_spark.plans import ml_queries  # noqa: E402,F401
from myrecommendsystem_spark.plans import text_queries  # noqa: E402,F401
from myrecommendsystem_spark.plans import streaming_queries  # noqa: E402,F401
from myrecommendsystem_spark.plans import multimodal_queries  # noqa: E402,F401
from myrecommendsystem_spark.plans import analytics_queries  # noqa: E402,F401
from myrecommendsystem_spark.plans import tokenizer_queries  # noqa: E402,F401

# Every query is registered now, so the driver window can be derived.
registry.DRIVER_WINDOW = registry.next_driver_window()
