"""Per-sink windowed aggregate counters + lineage ids.

Semantics matched:

* per-sink counters are the Spark analog of the reference's per-flusher
  self-monitor metrics (out_events_total etc., MetricConstants.h:80-171) —
  but keyed by EVENT-time tumbling windows (window(ts)), a superset of the
  reference's processing-time-only flush windows (FlushStrategy.h:54-58);
* ``__pack_id__`` lineage (aggregator_base.go:139-147: prefix + monotonic
  seq per group) — ours must be DETERMINISTIC under retries/resume, so it
  derives from data, never from monotonically_increasing_id:
  ``pack_id = md5(conv_id)[:16] || '-' || turn_block``.

Counters are additive ⇒ Spark's partial (map-side) aggregation applies;
the shuffle carries only (window, sink, keys) partials, not rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def with_pack_id(df: DataFrame, group_key: str = "conv_id",
                 order_key: str = "turn_idx", block: int = 1024) -> DataFrame:
    """Deterministic lineage id: groups of ``block`` consecutive turns of a
    conversation share a pack id — the analog of the reference's ≤1024-log
    LogGroup with its __pack_id__ tag (aggregator_base.go:93-147), derived
    purely from data so a resumed run reproduces identical ids."""
    prefix = F.substring(F.md5(F.col(group_key).cast("binary")), 1, 16)
    seq = F.floor(F.col(order_key).cast("long") / F.lit(block)).cast("long")
    return df.withColumn(
        "__pack_id__", F.concat_ws("-", prefix, F.format_string("%x", seq))
    )


def melt_sink_counters(
    routed: DataFrame,
    rules,
    window_duration: str = "1 hour",
    keys: tuple[str, ...] = ("role",),
    ts_col: str = "ts",
) -> DataFrame:
    """Single-pass counters across ALL sinks: melt the per-sink boolean
    bits into an exploded sink-name column, then one partial-aggregated
    groupBy — one scan of the routed frame instead of one filtered scan
    per sink. Output: (sink, window_start, keys..., n_rows) — the rows
    of each sink counted per tumbling event-time window and key combo."""
    from loongcollector_spark.routing import SINK_PREFIX

    sink_names = F.filter(
        F.array(*[
            F.when(F.col(SINK_PREFIX + r.name), F.lit(r.name)) for r in rules
        ]),
        lambda x: x.isNotNull(),
    )
    return (
        routed.select(
            F.explode(sink_names).alias("sink"),
            F.window(F.col(ts_col), window_duration).getField("start").alias("window_start"),
            *[F.col(k) for k in keys],
        )
        .groupBy("sink", "window_start", *keys)
        .agg(F.count("*").alias("n_rows"))
        .select("sink", "window_start", *keys, "n_rows")
    )
