"""Per-stage / per-partition metrics + lineage records.

The reference instruments every plugin/component with
``in_events_total / out_events_total / discarded_events_total /
total_process_time_ms`` (core/monitor/metric_constants/
MetricConstants.h:80-171, ComponentMetrics.cpp:23-64). The Spark analog:

* stage-level in/out/dropped counts — computed as cheap aggregates over
  the (cached) stage frames and collected into a metrics record list the
  runner writes as ``_metrics`` next to the sinks;
* per-partition lineage — ``spark_partition_id()`` + per-partition row
  counts and (conv_id, turn_idx) min/max ranges, written as ``_lineage``.
  This is what makes a resumed run auditable: each partition's output
  range is recorded with the manifest.

Timing is wall-clock per stage action on the driver (the per-thread
process-time counters of the reference have no per-task analog worth the
instrumentation cost; stage wall time is the actionable number).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F


@dataclass
class StageMetric:
    stage: str
    in_rows: int
    out_rows: int
    dropped_rows: int
    wall_ms: float


@dataclass
class MetricsCollector:
    records: list[StageMetric] = field(default_factory=list)

    def record_stage(self, stage: str, in_rows: int, out_rows: int,
                     wall_ms: float) -> None:
        self.records.append(
            StageMetric(stage, in_rows, out_rows, max(in_rows - out_rows, 0), wall_ms)
        )

    def timed_count(self, stage: str, df_in_rows: int, df_out: DataFrame) -> int:
        t0 = time.monotonic()
        out_rows = df_out.count()
        self.record_stage(stage, df_in_rows, out_rows, (time.monotonic() - t0) * 1e3)
        return out_rows

    def to_rows(self) -> list[dict]:
        return [vars(r) for r in self.records]


def partition_lineage(df: DataFrame,
                      order_keys: tuple[str, str] = ("conv_id", "turn_idx")) -> DataFrame:
    """Per-partition lineage record: partition id, row count, key ranges.
    One narrow aggregation — no extra shuffle beyond the final tiny agg."""
    k1, k2 = order_keys
    return (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(
            F.count("*").alias("n_rows"),
            F.min(k1).alias(f"min_{k1}"),
            F.max(k1).alias(f"max_{k1}"),
            F.min(k2).alias(f"min_{k2}"),
            F.max(k2).alias(f"max_{k2}"),
        )
        .withColumnRenamed("_pid", "partition_id")
    )
