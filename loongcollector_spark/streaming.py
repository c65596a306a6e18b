"""Structured Streaming mode — the continuous-collector analog.

The reference is a long-running agent: file tails feed bounded queues,
processors run per group, batchers flush on size/count/timeout
(Batcher.h:41-140, FlushStrategy.h:39-58). The Spark mapping:

* source: ``readStream`` file source over the transcripts directory — new
  files are the "tailed" input (per-file event order preserved by the
  (conv_id, turn_idx) sort contract instead of file offsets);
* processors: the SAME parse→enrich→route transform as batch mode
  (plans/pipeline.transcript_pipeline) — per-batch semantics are pure
  functions, so one code path serves both engines;
* sinks: ``foreachBatch`` writes every routed sink branch from one
  cached micro-batch (router copy-minimization, Router.cpp:60-82), plus
  a per-batch metrics/lineage record keyed by batch_id — the streaming
  equivalent of the ``__pack_id__`` lineage;
* flush timeout: the trigger interval; ``availableNow`` drains bounded
  input for tests;
* exactly-once: the streaming checkpoint (WAL + file-source log) replaces
  the batch manifest; sink writes are append-per-batch with batch_id
  columns so replays are idempotent to dedup.
* event-time windows + watermark: ``windowed_counter_stream`` — a
  SUPERSET of the reference (processing-time-only flush, no watermarks:
  FlushStrategy.h:54-58); late rows beyond the watermark are dropped
  instead of mis-bucketed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from loongcollector_spark import routing
from loongcollector_spark.checkpoint import write_text
from loongcollector_spark.plans.pipeline import DEFAULT_SINK_RULES, transcript_pipeline
from loongcollector_spark.routing import SinkRule

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def transcripts_stream(spark: SparkSession, input_dir: str,
                       max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over a transcripts parquet directory (the
    input_file tail analog; maxFilesPerTrigger = the bounded-queue knob)."""
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def run_streaming_pipeline(
    stream_df: DataFrame,
    out_dir: str,
    rules: list[SinkRule] | None = None,
    available_now: bool = True,
):
    """parse→enrich→route each micro-batch; write all sinks + metrics from
    ONE cached frame per batch. Returns the StreamingQuery."""
    rules = rules or DEFAULT_SINK_RULES

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        import json as _json

        # in-file (conv_id, turn_idx) order, as the batch path keeps it;
        # the sink filters below are narrow, so each file inherits it
        routed = (
            transcript_pipeline(batch_df, rules)
            .withColumn("_batch_id", F.lit(batch_id))
            .sortWithinPartitions("conv_id", "turn_idx")
        )
        routed = routed.persist()
        try:
            # all sink writes read the same cached batch frame — submit
            # them concurrently so the scheduler overlaps them (same
            # overlap contract as the batch run_pipeline; measured
            # 158k -> 241k turns/s at local[32], 4x16-file batches)
            from concurrent.futures import ThreadPoolExecutor

            def write_sink(rule):
                sdf = routing.sink_frame(routed, rule, rules)
                sdf.write.mode("append").parquet(
                    f"{out_dir}/sinks/{rule.name}")
                return f"sink:{rule.name}"

            with ThreadPoolExecutor(len(rules)) as ex:
                stages = list(ex.map(write_sink, rules))
            write_text(
                batch_df.sparkSession,
                f"{out_dir}/_stream_metrics/batch-{batch_id}.json",
                "".join(_json.dumps({"batch_id": batch_id, "stage": stage})
                        + "\n" for stage in stages),
            )
        finally:
            routed.unpersist()

    writer = (
        stream_df.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def rate_limit_stream(
    stream_df: DataFrame,
    fields: tuple[str, ...] = ("role",),
    rate_per_sec: float = 10.0,
    burst: int | None = None,
):
    """Streaming token-bucket rate limit per distinct ``fields`` combo —
    the stateful twin of processor_rate_limit (token_bucket.go:21-50):
    each key's bucket refills ``rate_per_sec`` tokens per event-time
    second up to ``burst``; rows that find an empty bucket are dropped.

    This is the custom-stateful-operator pattern: applyInPandasWithState
    keeps (tokens, last event-time) per key across micro-batches; within
    a batch rows are admitted in event-time order, vectorized per Arrow
    batch. Returns a DataFrame of admitted rows (same schema as input).
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    burst = burst if burst is not None else max(int(rate_per_sec), 1)
    out_schema = stream_df.schema
    state_schema = "tokens double, last_ts double"

    def limit(key, pdf_iter, state: GroupState):
        if state.exists:
            tokens, last_ts = state.get
        else:
            tokens, last_ts = float(burst), float("-inf")
        for pdf in pdf_iter:
            # admit in event-time order; stable sort keeps the Arrow
            # batch order for ties (schema-generic — the operator takes
            # arbitrary fields, so no other column can be assumed)
            pdf = pdf.sort_values("ts", kind="stable")
            ts = pdf["ts"].astype("int64").to_numpy() / 1e9
            keep = []
            for t in ts:
                if last_ts != float("-inf") and t > last_ts:
                    tokens = min(float(burst), tokens + (t - last_ts) * rate_per_sec)
                last_ts = max(last_ts, t)
                if tokens >= 1.0:
                    tokens -= 1.0
                    keep.append(True)
                else:
                    keep.append(False)
            out = pdf[pd.Series(keep, index=pdf.index)]
            if len(out):
                yield out
        state.update((tokens, last_ts))

    return (
        stream_df.groupBy(*[F.col(f) for f in fields])
        .applyInPandasWithState(
            limit, out_schema, state_schema, "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def windowed_counter_stream(
    stream_df: DataFrame,
    out_dir: str,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    keys: tuple[str, ...] = ("role",),
    available_now: bool = True,
):
    """Event-time windowed counters with a watermark — append-mode parquet
    (a window finalizes once the watermark passes; late data beyond it is
    dropped, the documented superset of the reference's processing-time
    flush)."""
    agg = (
        stream_df.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("w"), *keys)
        .agg(F.count("*").alias("n_rows"))
        .select(F.col("w.start").alias("window_start"), *keys, "n_rows")
    )
    writer = (
        agg.writeStream.format("parquet")
        .option("path", f"{out_dir}/counters")
        .option("checkpointLocation", f"{out_dir}/_counter_checkpoint")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def session_counter_stream(
    stream_df: DataFrame,
    out_dir: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    key: str = "conv_id",
    available_now: bool = True,
):
    """Streaming gap sessionization — the continuous twin of
    ``functions.temporal.sessionize``: Spark's native ``session_window``
    merges events whose gaps are under ``gap`` into one growing window
    per key, finalizes a session once the watermark passes its end, and
    emits (key, session_start, session_end, n_events) in append mode.

    Same boundary rule as the batch operator for sub-gap spacing; state
    per key is one open window, bounded by the watermark horizon — the
    shape a 10^12-turn continuous ingest needs (exact session indices
    over all history belong to the batch pass)."""
    agg = (
        stream_df.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), key)
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col(key),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    writer = (
        agg.writeStream.format("parquet")
        .option("path", f"{out_dir}/sessions")
        .option("checkpointLocation", f"{out_dir}/_session_checkpoint")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_exact_dedup(
    stream_df: DataFrame,
    out_dir: str,
    keys: tuple[str, ...] = ("fp",),
    text_col: str = "text",
    watermark: str = "2 hours",
    available_now: bool = True,
):
    """Streaming exact dedup: first arrival of each content fingerprint
    wins, duplicates across micro-batches are dropped by Spark's
    bounded-state ``dropDuplicatesWithinWatermark`` — the streaming twin
    of ``functions.dedup.exact_dedup`` (same 16-byte md5 fingerprint).

    State is the fingerprint set within the watermark horizon, so memory
    is bounded by the dedup window instead of the stream's lifetime —
    exactly the deal a 10^12-turn continuous ingest needs (exact
    global-history dedup belongs to the batch compaction pass; the
    stream guards the recent horizon)."""
    from loongcollector_spark.functions.text import with_fingerprint

    # the SAME normalized fingerprint as the batch pass — fp values
    # written here must join against batch-built fingerprint tables
    # (incremental_dedup), so raw-text md5 would silently pass dups the
    # batch pass collapses ('Foo  Bar' vs 'foo bar')
    deduped = (
        with_fingerprint(stream_df, text_col)
        .withColumnRenamed("fingerprint", "fp")
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(list(keys))
    )
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", f"{out_dir}/deduped")
        .option("checkpointLocation", f"{out_dir}/_dedup_checkpoint")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_minhash_admission(
    stream_df: DataFrame,
    out_dir: str,
    n_hashes: int = 4,
    shingle: int = 3,
    bands: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
):
    """Streaming NEAR-dup admission — the continuous-ingest face of
    ``dedup.incremental_minhash_dedup``: every micro-batch is admitted
    against the PERSISTED band index (yesterday's corpus is never
    re-read or re-hashed), decisions land per batch, and the admitted
    docs' bands append to the index for the next batch.

    Exactly-once without a transactional store: each batch OVERWRITES
    its own ``batch_id=N`` subdirectory for both the decisions and the
    index increment, so a replayed batch (post-crash re-fire of
    foreachBatch) rewrites identical bytes instead of duplicating them
    — the checkpoint + idempotent-subdir pattern ``run_pipeline`` uses.
    The key=value directory naming makes the accumulated index one
    partitioned parquet table; the probe join reads it as a plain
    (band_idx, band) frame.

    At 10^12-doc scale the index is the corpus near-dup state: bucketed
    on the 16-byte band hash it makes each day's admission a
    bucket-local join, and this streaming wrapper is the same job at
    micro-batch cadence."""
    process = minhash_admission_batch(
        out_dir, n_hashes, shingle, bands, text_col, id_col)

    writer = (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", f"{out_dir}/_admission_checkpoint")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def minhash_admission_batch(out_dir: str, n_hashes: int = 4,
                            shingle: int = 3, bands: int = 2,
                            text_col: str = "text", id_col: str = "doc_id"):
    """The per-micro-batch admission step, exposed as a plain
    (batch_df, batch_id) callable so the replay-idempotence contract is
    directly testable (call it twice with the same batch_id — decisions
    and index increment must come out identical)."""
    from loongcollector_spark.functions.dedup import (
        incremental_minhash_dedup, minhash_band_frame,
    )

    index_dir = f"{out_dir}/band_index"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        spark = batch_df.sparkSession
        batch_df = batch_df.persist()
        try:
            try:
                # EXCLUDE this batch's own partition: a replayed batch
                # (post-crash re-fire before the checkpoint commit) must
                # probe the index as it stood BEFORE its first attempt,
                # or it would see its own bands, flip its docs to
                # dup_snapshot, and overwrite its index increment with
                # an empty set
                seen = (
                    spark.read.parquet(index_dir)
                    .filter(F.col("batch_id") < batch_id)
                    .select("band_idx", "band")
                )
            except AnalysisException:  # first batch: no index yet —
                # any OTHER read failure (corrupt footer, fs error) must
                # surface, not silently admit the whole batch as new
                seen = spark.createDataFrame(
                    [], "band_idx int, band string")
            decisions = incremental_minhash_dedup(
                batch_df, seen, n_hashes, shingle, bands, text_col, id_col
            ).persist()
            decisions.write.mode("overwrite").parquet(
                f"{out_dir}/decisions/batch_id={batch_id}")
            admitted = batch_df.join(
                decisions.filter(F.col("status") == "new").select(id_col),
                id_col,
            )
            minhash_band_frame(
                admitted, n_hashes, shingle, bands, text_col, id_col
            ).write.mode("overwrite").parquet(
                f"{index_dir}/batch_id={batch_id}")
            decisions.unpersist()
        finally:
            batch_df.unpersist()

    return process


def media_admission_batch(out_dir: str, max_hamming: int = 3,
                          id_col: str = "media_id",
                          payload_col: str = "payload"):
    """The per-micro-batch MEDIA admission step (the
    ``minhash_admission_batch`` twin for images): decode + dHash the
    batch's payloads, probe the persisted fingerprint index (excluding
    this batch's own partition — the replay-idempotence rule), land
    decisions, and append the admitted signatures to the index. Exposed
    as a plain (batch_df, batch_id) callable so replay idempotence is
    directly testable."""
    from loongcollector_spark.functions.imagehash import (
        image_dhash, incremental_media_admission,
    )

    index_dir = f"{out_dir}/fingerprint_index"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        spark = batch_df.sparkSession
        sig = image_dhash(batch_df, payload_col, id_col).persist()
        try:
            try:
                seen = (
                    spark.read.parquet(index_dir)
                    .filter(F.col("batch_id") < batch_id)
                    .select(id_col, "dh0", "dh1", "dh2", "dh3")
                )
            except AnalysisException:  # first batch: no index yet
                seen = spark.createDataFrame(
                    [], f"{id_col} long, dh0 int, dh1 int, dh2 int, "
                        f"dh3 int")
            decisions = incremental_media_admission(
                sig, seen, max_hamming, id_col).persist()
            decisions.write.mode("overwrite").parquet(
                f"{out_dir}/decisions/batch_id={batch_id}")
            (
                decisions.filter(F.col("status") == "new")
                .select(id_col, "dh0", "dh1", "dh2", "dh3")
                .write.mode("overwrite")
                .parquet(f"{index_dir}/batch_id={batch_id}")
            )
            decisions.unpersist()
        finally:
            sig.unpersist()

    return process


def multiline_merge_stream(
    stream_df: DataFrame,
    start_pattern: str | None = None,
    continue_pattern: str | None = None,
    end_pattern: str | None = None,
    single_line: bool = True,
    group_key: str = "conv_id",
    order_key: str = "turn_idx",
    src: str = "text",
    flush_timeout_ms: int = 30_000,
):
    """Streaming multiline merge — the stateful twin of
    processor_merge_multiline_log (the reference's LogFileReader keeps
    the open multiline event in memory and flushes it on timeout,
    FlushTimeoutSecs; here the open tail lives in per-conversation
    GroupState and a processing-time timeout flushes it with the same
    EOF rules the batch FSM applies).

    Closed events emit as soon as their closing line arrives — a merged
    event SPANNING micro-batches is assembled exactly as the batch
    operator would. Returns (group_key, order_key, src, n_merged) rows.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from loongcollector_spark.operators.multiline import (
        _patterns, fsm_events, fsm_events_open,
    )
    import re as _re

    sp_s, cp_s, ep_s = _patterns({
        "StartPattern": start_pattern,
        "ContinuePattern": continue_pattern,
        "EndPattern": end_pattern,
    })
    out_schema = f"{group_key} string, {order_key} long, {src} string, n_merged int"
    state_schema = "idxs array<long>, lines array<string>"

    def merge(key, pdf_iter, state: GroupState):
        sp = _re.compile(sp_s) if sp_s else None
        cp = _re.compile(cp_s) if cp_s else None
        ep = _re.compile(ep_s) if ep_s else None

        def rows_from(events, idxs, lines):
            return [
                (key[0], int(idxs[ev[0]]),
                 "\n".join(lines[i] for i in ev), len(ev))
                for ev in events
            ]

        if state.exists:
            p_idxs, p_lines = state.get
            p_idxs, p_lines = list(p_idxs), list(p_lines)
        else:
            p_idxs, p_lines = [], []

        if state.hasTimedOut:
            # flush the open tail with the batch FSM's EOF rules
            evs = fsm_events(p_lines, sp, cp, ep, single_line, eof=True)
            out = rows_from(evs, p_idxs, p_lines)
            state.remove()
            if out:
                yield pd.DataFrame(out, columns=[group_key, order_key, src, "n_merged"])
            return

        batches = [p for p in pdf_iter if len(p)]
        new = pd.concat(batches) if batches else pd.DataFrame()
        if len(new):
            new = new.sort_values(order_key)
            p_idxs += [int(v) for v in new[order_key]]
            p_lines += ["" if v is None else str(v) for v in new[src]]
            # a continuation can arrive in a LATER micro-batch than its
            # start line: re-sort the carried tail + new lines by the
            # order key so the FSM sees the same sequence the batch
            # operator sorts into (stable: ties keep arrival order)
            order = sorted(range(len(p_idxs)), key=lambda i: p_idxs[i])
            p_idxs = [p_idxs[i] for i in order]
            p_lines = [p_lines[i] for i in order]
        closed, open_tail = fsm_events_open(p_lines, sp, cp, ep, single_line)
        out = rows_from(closed, p_idxs, p_lines)
        state.update((
            [p_idxs[i] for i in open_tail], [p_lines[i] for i in open_tail],
        ))
        state.setTimeoutDuration(flush_timeout_ms)
        if out:
            yield pd.DataFrame(out, columns=[group_key, order_key, src, "n_merged"])

    return (
        stream_df.groupBy(F.col(group_key))
        .applyInPandasWithState(
            merge, out_schema, state_schema, "append",
            GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
