"""Log→metric reshaping and value-group aggregation.

* processor_log_to_metric: the engine-native reshape —
  ``__name__/__labels__/__value__/__time_nano__`` with LITERAL metric
  names (the MetricValues dict key is the name) and ``k=v|...`` labels;
  this is the contract the suite's downstream encoders/oracles pin.
* processor_log_to_sls_metric (processor_log_to_sls_metric.go:32-51):
  the reference-exact Go twin — metric NAME read from a log FIELD
  (``MetricValues: {nameField: valueField}``, names[name] at :312-322),
  labels sorted and joined ``k1#$#v1|k2#$#v2`` (converter
  KeyValueSeparator/LabelSeparator, converter_sls_metric.go:45-46,
  83-91), CustomMetricLabels constants, per-row validation that drops
  the WHOLE log on any failure (continue TraverseLogArray), and
  MetricTimeKey second/ms/µs/ns digit-strings padded to ns by length
  (:256-276).
* aggregator_content_value_group (aggregator_content_value_group.go:66-80):
  group logs by the values of GroupKeys → per-group counts/tags.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from loongcollector_spark.operators import register


@register("processor_log_to_metric", keys={"MetricLabelKeys", "MetricValues", "LabelSeparator", "TsKey"})
def log_to_metric(cfg: dict):
    label_keys = sorted(cfg.get("MetricLabelKeys", []))
    values = cfg["MetricValues"]  # {name_literal_or_key: value_key}
    label_sep = cfg.get("LabelSeparator", "|")
    ts_key = cfg.get("TsKey", "ts")

    def run(df):
        labels = F.concat_ws(
            label_sep,
            *[F.concat(F.lit(k + "="), F.col(k).cast("string")) for k in label_keys],
        )
        # ONE pass: a per-name union would duplicate the whole upstream
        # subtree (scan + parse + any window) once per metric — explode
        # an inline (name, value) array instead (measured 3.2 s → half
        # on the sf0.1 suite for two metrics)
        metric = F.explode(
            F.array(*[
                F.struct(
                    F.lit(name).alias("__name__"),
                    F.col(value_key).try_cast("double").alias("__value__"),
                )
                for name, value_key in values.items()
            ])
        )
        return df.select(
            metric.alias("_m"),
            labels.alias("__labels__"),
            # cast: unix_micros rejects TIMESTAMP_NTZ inputs (UTC
            # session, so ntz->tz is identity)
            (F.unix_micros(F.col(ts_key).cast("timestamp")) * 1000
             ).alias("__time_nano__"),
        ).select(
            F.col("_m.__name__").alias("__name__"),
            "__labels__",
            F.col("_m.__value__").alias("__value__"),
            "__time_nano__",
        )

    return run


_NAME_RX = "^[a-zA-Z_:][a-zA-Z0-9_:]*$"


@register("processor_log_to_sls_metric",
          keys={"MetricTimeKey", "MetricLabelKeys", "MetricValues",
                "CustomMetricLabels", "IgnoreError", "TsKey"})
def log_to_sls_metric(cfg: dict):
    """Reference-exact Go twin (see module docstring). ``IgnoreError``
    only controls the reference's self-monitor logging — dropped rows
    are dropped either way, so it is accepted and has no plan effect.
    ``TsKey`` (engine extension, default ``ts``) supplies the log time
    when MetricTimeKey is unset."""
    time_key = cfg.get("MetricTimeKey", "")
    label_keys = cfg.get("MetricLabelKeys", []) or []
    values = cfg["MetricValues"]  # {name_FIELD: value_FIELD}
    custom = cfg.get("CustomMetricLabels", {}) or {}
    ts_key = cfg.get("TsKey", "ts")
    import re as _re

    for k in list(label_keys) + list(custom):
        if not _re.match("^[a-zA-Z_][a-zA-Z0-9_]*$", k):
            raise ValueError(f"invalid metric label key {k!r}")

    def run(df):
        bad_label = F.lit(False)
        for k in label_keys:
            v = F.col(k)
            bad_label = bad_label | v.isNull() \
                | v.cast("string").contains("|") \
                | v.cast("string").contains("#$#")
        bad = bad_label
        for name_field, value_field in values.items():
            bad = bad | ~F.coalesce(
                F.col(name_field).cast("string").rlike(_NAME_RX), F.lit(False))
            bad = bad | F.col(value_field).cast("string").try_cast(
                "double").isNull()
        pairs = F.array(*(
            [F.struct(F.lit(k).alias("k"),
                      F.col(k).cast("string").alias("v"))
             for k in label_keys]
            + [F.struct(F.lit(k).alias("k"), F.lit(v).alias("v"))
               for k, v in custom.items()]
        ))
        if "__labels__" in df.columns:
            # an incoming __labels__ content contributes its pairs
            # (processor_log_to_sls_metric.go:189-216); malformed pairs
            # or keys colliding with configured label fields drop the log
            inc = F.transform(
                F.split(F.coalesce(F.col("__labels__"), F.lit("")), r"\|"),
                lambda p: F.struct(
                    F.split_part(p, F.lit("#$#"), F.lit(1)).alias("k"),
                    F.split_part(p, F.lit("#$#"), F.lit(2)).alias("v"),
                ),
            )
            has_inc = F.coalesce(F.col("__labels__") != "", F.lit(False))
            bad_inc = F.exists(
                inc,
                lambda s: ~s["k"].rlike("^[a-zA-Z_][a-zA-Z0-9_]*$")
                | (s["v"] == "")
                | s["k"].isin(list(label_keys)),
            )
            bad = bad | (has_inc & bad_inc)
            pairs = F.when(has_inc, F.concat(pairs, inc)).otherwise(pairs)
        labels = F.array_join(
            F.transform(F.array_sort(pairs),
                        lambda s: F.concat(s["k"], F.lit("#$#"), s["v"])),
            "|",
        )
        if time_key:
            tv = F.col(time_key).cast("string")
            valid_t = tv.rlike("^[0-9]+$") & F.length(tv).isin(10, 13, 16, 19)
            bad = bad | ~F.coalesce(valid_t, F.lit(False))
            time_nano = F.rpad(tv, 19, "0")
        elif ts_key in df.columns:
            time_nano = (
                F.unix_micros(F.col(ts_key).cast("timestamp")) * 1000
            ).cast("string")
        else:
            time_nano = F.lit(None).cast("string")
        metric = F.explode(F.array(*[
            F.struct(
                F.col(name_field).cast("string").alias("__name__"),
                F.col(value_field).cast("string").alias("__value__"),
            )
            for name_field, value_field in values.items()
        ]))
        return (
            df.filter(~F.coalesce(bad, F.lit(True)))
            .select(metric.alias("_m"), labels.alias("__labels__"),
                    time_nano.alias("__time_nano__"))
            .select(
                F.col("_m.__name__").alias("__name__"),
                "__labels__",
                F.col("_m.__value__").alias("__value__"),
                "__time_nano__",
            )
        )

    return run


@register("aggregator_content_value_group", keys={"GroupKeys"})
def content_value_group(cfg: dict):
    """Group logs by the VALUES of GroupKeys — one LogGroup per distinct
    combo, group-key tags attached, events RETAINED
    (aggregator_content_value_group.go:121,160-177: the aggregator
    re-batches, it never drops). Spark shape: hash-partition on the
    group keys so each group's events are co-located for the downstream
    batch/flush, rows unchanged (the grouping columns ARE the tags)."""
    keys = cfg["GroupKeys"]

    def run(df):
        return df.repartition(*[F.col(k) for k in keys])

    return run


@register("aggregator_logstore_router",
          keys={"MaxLogGroupCount", "MaxLogCount", "PackFlag", "Topic",
                "DropDisMatch", "SourceKey", "NoMatchError",
                "RouterRegex", "RouterLogstore"})
def aggregator_logstore_router(cfg: dict):
    """aggregator_logstore_router (plugins/aggregator/logstorerouter/
    aggregator_router.go:43-52,98-112): ordered RouterRegex → the matching
    RouterLogstore, FULL-match first-wins on SourceKey's value; unmatched
    logs go to the default logstore ('') unless DropDisMatch. Spark shape:
    one codegen routing column ``__logstore__`` (the per-sink fan-out
    filters on it downstream — routing.py multi-sink path), plus the
    baseagg Topic tag it wraps."""
    from loongcollector_spark.routing import logstore_router_column

    regexes = cfg.get("RouterRegex", [])
    stores = cfg.get("RouterLogstore", [])
    if len(regexes) != len(stores):
        raise ValueError(
            f"router regex count {len(regexes)}, logstore count {len(stores)}")
    source_key = cfg.get("SourceKey", "")
    drop_dis_match = bool(cfg.get("DropDisMatch", False))
    topic = cfg.get("Topic", "")

    def run(df):
        src = source_key or "content"
        if src not in df.columns:
            # reference: a log without SourceKey goes to the default
            # aggregator (or is dropped under DropDisMatch)
            out = df.withColumn(
                "__logstore__",
                F.lit(None).cast("string") if drop_dis_match else F.lit(""))
        else:
            out = df.withColumn(
                "__logstore__",
                logstore_router_column(
                    src, list(zip(regexes, stores)),
                    default=None if drop_dis_match else ""),
            )
        if drop_dis_match:
            out = out.filter(F.col("__logstore__").isNotNull())
        if topic:
            out = out.withColumn("__topic__", F.lit(topic))
        return out

    return run


@register("aggregator_shardhash",
          keys={"SourceKeys", "ShardCount", "Topic", "Connector",
                "ErrIfKeyNotFound", "EnablePackID"})
def aggregator_shardhash(cfg: dict):
    """aggregator_shardhash (plugins/aggregator/shardhash/
    aggregator_shardhash.go:67-73,157-161,165-188): bucket =
    hash(join(SourceKeys values, Connector)) % ShardCount, ShardCount a
    power of two in [1, 512]. Spark analog: a codegen ``__shardhash__``
    int column via xxhash64 (the documented stand-in for Go
    xxhash.Sum64 — same family, different seed, same distribution
    contract; oracle `shardhash_distribution` pins the distribution).
    Missing keys contribute '' exactly like the reference's not-found
    branch (:176-186). The bucket column then drives the salted
    repartition — this is the hot-key shard knob of the pipeline
    (``routing.shardhash_bucket`` is the canonical single-column form)."""
    source_keys = cfg.get("SourceKeys") or []
    if not source_keys:
        raise ValueError("aggregator_shardhash must specify SourceKeys")
    shard_count = int(cfg.get("ShardCount", 8))
    if shard_count <= 0 or shard_count > 512:
        raise ValueError(
            f"invalid ShardCount: {shard_count}, range [1, 512]")
    if shard_count & (shard_count - 1):
        raise ValueError(f"ShardCount must be a power of two: {shard_count}")
    connector = cfg.get("Connector", "_")
    topic = cfg.get("Topic", "")
    enable_pack = bool(cfg.get("EnablePackID", False))

    def run(df):
        # absent columns join as '' (reference appends the empty value)
        vals = [
            F.coalesce(F.col(k).cast("string"), F.lit(""))
            if k in df.columns else F.lit("")
            for k in source_keys
        ]
        joined = F.concat_ws(connector, *vals)
        out = df.withColumn(
            "__shardhash__",
            F.pmod(F.xxhash64(joined), F.lit(shard_count)).cast("int"))
        if enable_pack:
            out = aggregator_base({})(out)
        if topic:
            out = out.withColumn("__topic__", F.lit(topic))
        return out

    return run


@register("aggregator_base",
          keys={"MaxLogGroupCount", "MaxLogCount", "PackFlag", "Topic"})
def aggregator_base(cfg: dict):
    """aggregator_base (plugins/aggregator/baseagg/aggregator_base.go:
    26-29,40-47): LogGroups hold at most MaxLogCount logs; each log is
    tagged with its group's deterministic ``__pack_id__`` (prefix + hex
    chunk seq, :139-147) when PackFlag is on, and Topic lands as a
    ``__topic__`` column. Chunk semantics match the pb encoders'
    ``_chunked``: chunk k holds the group's logs
    [k*MaxLogCount, (k+1)*MaxLogCount) in order. MaxLogGroupCount is a
    flush-pressure trigger — in this engine that's the streaming trigger
    or ``flusher_table``'s MaxRecordsPerFile (flushers.py), so the key is
    accepted but has no per-row effect.

    Scale note: the rank needs one window shuffle over (group, order).
    When the order column is already a dense per-group index (transcripts
    turn_idx), ``aggregate.with_pack_id`` computes the same chunks
    shuffle-free — the pipeline plan uses that path; this operator is the
    reference-exact count-based twin for arbitrary order columns."""
    max_logs = int(cfg.get("MaxLogCount", 1024))
    if max_logs < 1:
        raise ValueError(f"MaxLogCount must be >= 1, got {max_logs}")
    pack_flag = bool(cfg.get("PackFlag", True))
    topic = cfg.get("Topic", "")

    def run(df):
        from pyspark.sql.window import Window

        out = df
        if pack_flag:
            group = next(
                (c for c in ("conv_id", "_ingest_file") if c in df.columns), None)
            order = next(
                (c for c in ("turn_idx", "_line_idx") if c in df.columns), None)
            if group is not None and order is not None:
                w = Window.partitionBy(group).orderBy(order)
                seq = F.floor((F.row_number().over(w) - 1) / max_logs)
                out = out.withColumn(
                    "__pack_id__",
                    F.concat_ws(
                        "-",
                        F.substring(F.md5(F.col(group).cast("binary")), 1, 16),
                        F.format_string("%x", seq.cast("long")),
                    ),
                )
        if topic:
            out = out.withColumn("__topic__", F.lit(topic))
        return out

    return run


@register("aggregator_context", keys={"SourceKeys", "OrderKeys"})
def aggregator_context(cfg: dict):
    """aggregator_context (aggregator_context.go): keep per-source log
    order across grouping — each source's events stay contiguous and
    in sequence. Spark shape: hash-partition on the source identity,
    then sort within partitions on (source, offset) — order within a
    source is total, no global sort. Defaults use the input_file
    provenance pair; transcripts pipelines pass (conv_id, turn_idx)."""
    src_keys = cfg.get("SourceKeys")
    order_keys = cfg.get("OrderKeys")

    def run(df):
        srcs = src_keys or [
            c for c in ("_ingest_file", "conv_id") if c in df.columns][:1]
        orders = order_keys or [
            c for c in ("_line_idx", "turn_idx") if c in df.columns][:1]
        if not srcs:
            return df
        return df.repartition(*[F.col(c) for c in srcs]) \
            .sortWithinPartitions(*srcs, *orders)

    return run


@register("aggregator_default", keys={"SourceKeys", "OrderKeys"})
def aggregator_default(cfg: dict):
    """aggregator_default (plugins/aggregator/aggregator_default.go:51-55):
    the reference registers it as a NewAggregatorContext — identical
    semantics to aggregator_context, under the name most configs use."""
    return aggregator_context(cfg)
