"""Batcher — event-batch assignment with the reference's flush
strategy (core/collection_pipeline/batch/Batcher.h + FlushStrategy.h).

The reference groups events into batches per source and flushes a batch
when, AFTER adding an event, the batch holds >= MinCnt events OR >=
MinSizeBytes bytes (EventFlushStrategy::NeedFlushByCnt/BySize;
timeouts are wall-clock send-path pressure — in this engine that is the
streaming trigger / ``flusher_table``'s MaxRecordsPerFile (flushers.py),
as SURVEY §2.6 maps it).
What was previously only "≈ covered by the writer knobs" is modeled
exactly here: ``batcher_assign`` reproduces the greedy segmentation —
walk the group's events in order, accumulate count and bytes, close the
batch the moment either threshold is reached, reset, continue.

Why not a cumsum trick: greedy reset segmentation is NOT expressible as
``floor(cumsum/cap)`` — each boundary depends on where the previous
boundary landed (the same sequential class as the multiline FSM). The
per-group walk runs Arrow-batched in ``applyInPandas`` (group size is a
conversation, bounded); the DuckDB oracle replays the identical greedy
walk as a recursive CTE, so batch ids are hash-checked, not assumed.

Scale shape: one hash partition by group key (the shuffle the batcher
always implies), then a linear in-memory walk per group; downstream
writers key files on (group, batch_seq). Skewed groups are bounded by
MaxLogCount-style upstream chunking (aggregator_base)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from loongcollector_spark.operators import register


def batcher_assign(
    df: DataFrame,
    group_cols=("conv_id",),
    order_col: str = "turn_idx",
    size_col: str = "text",
    min_cnt: int = 8,
    min_size_bytes: int = 512,
) -> DataFrame:
    """Input rows + ``batch_seq`` (0-based per group) + ``event_bytes``
    (the UTF-8 size the strategy accumulates — ``length_utf8`` of the
    size column, 0 for NULL)."""
    group_cols = list(group_cols)
    base_schema = df.select(
        *group_cols, order_col,
        F.octet_length(F.coalesce(F.col(size_col), F.lit("")))
        .alias("event_bytes")).schema
    out_schema = T.StructType(
        list(base_schema.fields)
        + [T.StructField("batch_seq", T.IntegerType())])

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort")
        seqs = []
        seq = cnt = size = 0
        for b in pdf["event_bytes"]:
            seqs.append(seq)
            cnt += 1
            size += int(b)
            if cnt >= min_cnt or size >= min_size_bytes:
                seq += 1
                cnt = size = 0
        pdf = pdf.copy()
        pdf["batch_seq"] = seqs
        return pdf

    base = df.select(
        *group_cols, order_col,
        F.octet_length(F.coalesce(F.col(size_col), F.lit("")))
        .alias("event_bytes"),
    )
    return base.groupBy(*group_cols).applyInPandas(walk, out_schema)


@register("batcher",
          keys={"MinCnt", "MinSizeBytes", "GroupKey", "OrderKey",
                "SizeKey"})
def batcher(cfg: dict):
    """Registry twin of the event flush strategy's count/size gates
    (FlushStrategy.h:26-57; the reference wires MinCnt/MinSizeBytes
    from DefaultFlushStrategyOptions, Batcher.h:98-100)."""
    def run(df: DataFrame) -> DataFrame:
        return batcher_assign(
            df,
            group_cols=tuple(cfg.get("GroupKey", ["conv_id"])),
            order_col=str(cfg.get("OrderKey", "turn_idx")),
            size_col=str(cfg.get("SizeKey", "text")),
            min_cnt=int(cfg.get("MinCnt", 8)),
            min_size_bytes=int(cfg.get("MinSizeBytes", 512)),
        )

    return run
