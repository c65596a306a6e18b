"""SparkSession factory tuned for the pipeline.

Defaults target local[N] testing but every knob is the one you'd set on a
1000-executor cluster: AQE on (runtime coalesce + skew-join), Arrow
transport for the few pandas UDFs, explicit shuffle partitioning.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "loongcollector-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    On a real cluster you would omit ``master`` and let spark-submit set it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # map_concat(labels, map(k, v)) is the codegen "set label" op in
        # prom relabel — LAST_WIN makes it an upsert instead of an error
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # parquet writes: LZ4 is the reference's DEFAULT send-path
        # compressor (FlusherSLS.cpp:559 creates the compressor with
        # CompressType::LZ4; zstd is the opt-in) — and on the
        # write-dominated sink stage it compresses several times faster
        # at modest ratio cost. Override via extra_conf for zstd sinks.
        .config("spark.sql.parquet.compression.codec", "lz4")
        # InferFiltersFromGenerate turns every explode(expr.field) into a
        # Filter(size(expr.field) > 0 AND isnotnull(...)) that predicate
        # pushdown then sinks BELOW the projection — so the generator's
        # child expression is evaluated again in the filter. For cheap
        # array columns that's free; every explode in this engine sits on
        # top of an expensive parse (from_json on OTLP/loki payloads,
        # split on raw log text), which ends up evaluated 3-4x per row
        # (measured 4x from_json sites in the otel trace plan; excluding
        # the rule cut the warm parse 1.96s -> 0.42s on 100k rows at
        # local[32]). Non-outer explode already drops null/empty arrays,
        # so removing the inferred filter cannot change results — it only
        # removes the redundant re-parse. Guarded by a plan-shape
        # regression test (tests/test_plans.py: single from_json site).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
