"""Catalog: loads the driver testdata parquet tables and registers the
derived kalytical-domain views (see domain.py) as temp views on the session.

At cluster scale the base tables would be external catalog tables (partitioned
by date for `events`, bucketed by key for the big joins); here they are plain
parquet reads — Catalyst still gets pushdown + pruning. Derived domain tables
are small (O(suppliers) and O(events)) and are cached after first use.

Reference parity: this module replaces kalytical's MongoDbDataProvider
collection handles (reference data_provider.py:16-27) with DataFrames.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import domain

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Temp views are session-global, so only ONE sf_dir can be registered per
# session at a time. Track the current one and re-register (unpersisting the
# previous domain caches) whenever a query targets a different sf_dir — the
# driver mixes sf0.001 (entry smoke) and sf0.01 (oracle gate) on one session.
# operators.common.reset_session_state clears both dicts with its memos.
_CURRENT_SF: dict[tuple[str, int], str] = {}
_CACHED_DFS: dict[tuple[str, int], list[DataFrame]] = {}


def register(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, cache_domain: bool = True) -> None:
    """Register base parquet tables and derived domain views as temp views."""
    # (app id, JVM session identity hash): temp views are SESSION-scoped,
    # so the key must distinguish sibling sessions, but must not alias a
    # stopped session whose py4j wrapper address got reused (id() would)
    sid = (spark.sparkContext.applicationId, spark._jsparkSession.hashCode())
    if _CURRENT_SF.get(sid) == sf_dir:
        return
    for df in _CACHED_DFS.pop(sid, []):
        try:
            df.unpersist()
        except Exception:
            pass
    from .session import tune_session

    tune_session(spark)
    # The driver testdata stores events.ts as parquet TIMESTAMP(NANOS), which
    # Spark cannot read natively (micros max). Read nanos as long and convert
    # with exact integer division; oracle SQL works on a millisecond-truncated
    # view (events_ms) so Spark and DuckDB compare identical values.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for name in domain.BASE_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        df = spark.read.parquet(path)
        for field in df.schema.fields:
            if field.name == "ts" and field.dataType.simpleString() == "bigint":
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        df.createOrReplaceTempView(name)
    cached: list[DataFrame] = []
    for name in domain.DOMAIN_TABLES:
        df = spark.sql(domain.domain_select(name))
        if cache_domain and name != "sup_n":
            df = df.cache()
            cached.append(df)
        df.createOrReplaceTempView(name)
    _register_defs_full(spark)
    _CURRENT_SF[sid] = sf_dir
    _CACHED_DFS[sid] = cached
    # the memos of an sf_dir no session of this app still has registered
    # (the old one, after a switch) can never be read again: unpersist
    # their blocks too (late import: operators.common imports this module)
    from .operators.common import evict_unregistered_memos

    evict_unregistered_memos(sid[0])


def _register_defs_full(spark: SparkSession) -> None:
    """Spark-native struct/map form of the pipeline catalog, mirroring the
    reference PipelineHeaderModel shape (pipeline_models.py:22-43):
    triggers_on STRUCT<operator, pipeline_uuids ARRAY<STRING>> and
    tags MAP<STRING,STRING>. The oracle side keeps the flat/edge form, so
    queries over this view must project flat output columns."""
    defs = spark.table("pipeline_defs")
    edges = spark.table("dag_edges")
    deps = edges.groupBy("pipeline_uuid").agg(
        F.sort_array(F.collect_list("upstream_uuid")).alias("dep_uuids")
    )
    full = (
        defs.join(deps, "pipeline_uuid", "left")
        .withColumn(
            "triggers_on",
            F.when(
                F.col("trigger_operator").isNotNull(),
                F.struct(
                    F.col("trigger_operator").alias("operator"),
                    F.col("dep_uuids").alias("pipeline_uuids"),
                ),
            ),
        )
        .withColumn(
            "tags",
            F.map_filter(
                F.map_from_arrays(
                    F.array(F.lit("team"), F.lit("tier")),
                    F.array("tag_team", "tag_tier"),
                ),
                lambda k, v: v.isNotNull(),
            ),
        )
        .drop("dep_uuids")
    )
    full.createOrReplaceTempView("pipeline_defs_full")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    register(spark, sf_dir)
    return spark.table(name)


def tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    register(spark, sf_dir)
    return tuple(spark.table(n) for n in names)
