"""Streaming mode: the streamed pipeline must produce the same per-sink
row sets as the batch pipeline over the same input, and incremental files
arriving later must be picked up from the checkpoint (resume semantics)."""

import datetime
import os
import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.plans.pipeline import DEFAULT_SINK_RULES, transcript_pipeline
from loongcollector_spark import routing
from loongcollector_spark.routing import SINK_PREFIX
from loongcollector_spark.streaming import (
    run_streaming_pipeline, transcripts_stream, windowed_counter_stream,
)


@pytest.fixture()
def stream_dirs(spark):
    src = tempfile.mkdtemp(prefix="lcs_stream_src_")
    out = tempfile.mkdtemp(prefix="lcs_stream_out_")
    yield src, out
    active = spark.streams.active
    for q in active:
        q.stop()
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    assert not active, f"streaming queries left running: {active}"


def _stop_when(q, done, timeout_s=60):
    """Poll ``q.recentProgress`` until ``done(progress)`` holds, then stop
    ``q``. A ProcessingTimeTimeout state query always asks for another
    (no-data) batch, so it never ends by itself: ``awaitTermination``
    only times out and ``processAllAvailable`` never returns."""
    deadline = time.monotonic() + timeout_s
    try:
        while not done(q.recentProgress):
            assert time.monotonic() < deadline, "no progress before deadline"
            time.sleep(0.1)
    finally:
        q.stop()


def _rows_read(n):
    return lambda progress: sum(p["numInputRows"] for p in progress) >= n


def _gen(spark, n, conv_prefix=""):
    from loongcollector_spark.datagen import gen_transcripts

    df = gen_transcripts(spark, n_turns=n, n_convs=max(n // 5, 1), partitions=2)
    if conv_prefix:
        df = df.withColumn("conv_id", F.concat(F.lit(conv_prefix), F.col("conv_id")))
    return df


def _sink_set(spark, path):
    try:
        df = spark.read.parquet(path)
    except Exception:
        return set()
    return {(r["conv_id"], r["turn_idx"]) for r in df.select("conv_id", "turn_idx").collect()}


def test_stream_matches_batch(spark, stream_dirs):
    src, out = stream_dirs
    _gen(spark, 500).write.mode("overwrite").parquet(src)

    q = run_streaming_pipeline(transcripts_stream(spark, src), out)
    q.awaitTermination(120)

    batch_routed = transcript_pipeline(spark.read.parquet(src))
    for rule in DEFAULT_SINK_RULES:
        want = {
            (r["conv_id"], r["turn_idx"])
            for r in batch_routed.filter(F.col(SINK_PREFIX + rule.name))
            .select("conv_id", "turn_idx").collect()
        }
        got = _sink_set(spark, f"{out}/sinks/{rule.name}")
        assert got == want, f"sink {rule.name}: stream != batch"

    # one {batch_id, stage} record per sink per committed batch
    commits = sorted(int(f) for f in os.listdir(f"{out}/_checkpoint/commits")
                     if f.isdigit())
    assert commits
    recs = spark.read.json(f"{out}/_stream_metrics")
    assert sorted(recs.columns) == ["batch_id", "stage"]
    assert sorted((r["batch_id"], r["stage"]) for r in recs.collect()) == sorted(
        (b, f"sink:{rule.name}") for b in commits for rule in DEFAULT_SINK_RULES)


def test_stream_sink_files_keep_conv_turn_order(spark, stream_dirs):
    """Every stream sink file is non-decreasing in (conv_id, turn_idx),
    the in-file order the batch path keeps."""
    src, out = stream_dirs
    # gen_transcripts repartitions, so each input file is out of order
    _gen(spark, 600).write.mode("overwrite").parquet(src)
    q = run_streaming_pipeline(
        transcripts_stream(spark, src, max_files_per_trigger=1), out)
    q.awaitTermination(120)

    for rule in DEFAULT_SINK_RULES:
        files: dict[str, list] = {}
        rows = (
            spark.read.parquet(f"{out}/sinks/{rule.name}")
            .select(F.input_file_name().alias("file"),
                    F.monotonically_increasing_id().alias("pos"),
                    "conv_id", "turn_idx")
            .collect()
        )
        for r in sorted(rows, key=lambda r: (r["file"], r["pos"])):
            files.setdefault(r["file"], []).append((r["conv_id"], r["turn_idx"]))
        assert files, f"sink {rule.name} is empty"
        for f, keys in files.items():
            assert keys == sorted(keys), f"sink {rule.name}: {f} out of order"


def test_stream_resume_picks_up_new_files(spark, stream_dirs):
    src, out = stream_dirs
    _gen(spark, 200).write.mode("overwrite").parquet(src)
    q = run_streaming_pipeline(transcripts_stream(spark, src), out)
    q.awaitTermination(120)
    n1 = len(_sink_set(spark, f"{out}/sinks/sink_default"))
    assert n1 == 200

    # new files land; restart from the SAME checkpoint -> only the delta
    # is processed (no duplicates: append is per new batch)
    _gen(spark, 100, conv_prefix="b2_").write.mode("append").parquet(src)
    q2 = run_streaming_pipeline(transcripts_stream(spark, src), out)
    q2.awaitTermination(120)
    got = _sink_set(spark, f"{out}/sinks/sink_default")
    assert len(got) == 300


def test_windowed_counter_stream(spark, stream_dirs):
    src, out = stream_dirs
    _gen(spark, 300).write.mode("overwrite").parquet(src)
    q = windowed_counter_stream(transcripts_stream(spark, src), out,
                                window_duration="1 hour")
    q.awaitTermination(120)
    got = spark.read.parquet(f"{out}/counters")
    assert got.columns == ["window_start", "role", "n_rows"]
    # watermark-append mode emits only FINALIZED windows; totals per
    # emitted window must match the batch count for that window
    batch = (
        spark.read.parquet(src)
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("window_start"), "role")
        .agg(F.count("*").alias("n_rows"))
    )
    joined = got.alias("g").join(
        batch.alias("b"), ["window_start", "role"], "inner"
    ).filter("g.n_rows != b.n_rows")
    assert joined.count() == 0


def test_rate_limit_stream_token_bucket(spark, stream_dirs):
    """Stateful applyInPandasWithState rate limiter: per-key admissions
    must match a Python token-bucket model over the same event order."""
    src, out = stream_dirs
    rows = []
    base = datetime.datetime(2026, 1, 1)
    # role 'a': 5 rows in the same second (burst 2 -> only 2 admitted),
    # then 1 row 10s later (refilled -> admitted)
    for i in range(5):
        rows.append(("c1", i, "a", f"t{i}", "", base))
    rows.append(("c1", 5, "a", "t5", "", base + datetime.timedelta(seconds=10)))
    # role 'b': 1 row/sec for 4s at rate 1/s -> all admitted
    for i in range(4):
        rows.append(("c2", i, "b", f"u{i}", "", base + datetime.timedelta(seconds=i)))
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).repartition(1).write.mode("overwrite").parquet(src)

    from loongcollector_spark.streaming import rate_limit_stream

    admitted = rate_limit_stream(
        transcripts_stream(spark, src), fields=("role",), rate_per_sec=1.0, burst=2
    )
    q = (
        admitted.writeStream.format("parquet")
        .option("path", f"{out}/admitted")
        .option("checkpointLocation", f"{out}/_rl_checkpoint")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (r["role"], r["turn_idx"])
        for r in spark.read.parquet(f"{out}/admitted").collect()
    }
    a_turns = sorted(t for role, t in got if role == "a")
    b_turns = sorted(t for role, t in got if role == "b")
    assert len(a_turns) == 3 and 5 in a_turns  # 2 burst + 1 refilled
    assert b_turns == [0, 1, 2, 3]             # rate matches arrival rate


def test_multiline_merge_stream_spans_batches(spark, stream_dirs):
    """A merged event whose continuation lines arrive in a LATER
    micro-batch must assemble exactly as the batch operator would; the
    open tail flushes via the state timeout (here: a final empty-ish
    trigger isn't needed because the second batch closes event 1 with a
    new start and the remaining tail flushes on q re-run)."""
    src, out = stream_dirs
    base = datetime.datetime(2026, 1, 1)
    batch1 = [("c1", 0, "x", "ERROR boom", "", base),
              ("c1", 1, "x", "  at frame1", "", base)]
    batch2 = [("c1", 2, "x", "  at frame2", "", base),
              ("c1", 3, "x", "ERROR next", "", base)]
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    spark.createDataFrame(batch1, schema).repartition(1) \
        .write.mode("overwrite").parquet(src)
    spark.createDataFrame(batch2, schema).repartition(1) \
        .write.mode("append").parquet(src)

    from loongcollector_spark.streaming import multiline_merge_stream

    merged = multiline_merge_stream(
        transcripts_stream(spark, src, max_files_per_trigger=1),
        start_pattern=r"ERROR.*", flush_timeout_ms=1,
    )
    q = (
        merged.writeStream.format("parquet")
        .option("path", f"{out}/merged")
        .option("checkpointLocation", f"{out}/_ml_checkpoint")
        .outputMode("append").trigger(availableNow=True).start()
    )
    _stop_when(q, _rows_read(4))  # both input files consumed
    got = {r["turn_idx"]: (r["text"], r["n_merged"])
           for r in spark.read.parquet(f"{out}/merged").collect()}
    # the spanning event closed when 'ERROR next' arrived in batch 2
    assert got[0] == ("ERROR boom\n  at frame1\n  at frame2", 3)
    # the open tail ('ERROR next') flushes once the timeout fires — run
    # one more (empty) availableNow pass after the 1 ms timeout elapsed
    time.sleep(0.2)
    q2 = (
        multiline_merge_stream(
            transcripts_stream(spark, src, max_files_per_trigger=1),
            start_pattern=r"ERROR.*", flush_timeout_ms=1,
        )
        .writeStream.format("parquet")
        .option("path", f"{out}/merged")
        .option("checkpointLocation", f"{out}/_ml_checkpoint")
        .outputMode("append").trigger(availableNow=True).start()
    )
    _stop_when(q2, bool)  # until a post-restart batch has committed
    got = {r["turn_idx"]: (r["text"], r["n_merged"])
           for r in spark.read.parquet(f"{out}/merged").collect()}
    assert got.get(3) == ("ERROR next", 1)


def test_multiline_merge_stream_out_of_order_batches(spark, stream_dirs):
    """A continuation line with a SMALLER order key arriving in a LATER
    micro-batch must still merge in order-key position, not append
    order — the carried tail re-sorts before the FSM runs."""
    src, out = stream_dirs
    base = datetime.datetime(2026, 1, 1)
    batch1 = [("c1", 0, "x", "ERROR boom", "", base),
              ("c1", 2, "x", "  at frame2", "", base)]
    batch2 = [("c1", 1, "x", "  at frame1", "", base),
              ("c1", 3, "x", "ERROR next", "", base)]
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    spark.createDataFrame(batch1, schema).repartition(1) \
        .write.mode("overwrite").parquet(src)
    spark.createDataFrame(batch2, schema).repartition(1) \
        .write.mode("append").parquet(src)

    from loongcollector_spark.streaming import multiline_merge_stream

    merged = multiline_merge_stream(
        transcripts_stream(spark, src, max_files_per_trigger=1),
        start_pattern=r"ERROR.*", flush_timeout_ms=1,
    )
    q = (
        merged.writeStream.format("parquet")
        .option("path", f"{out}/merged")
        .option("checkpointLocation", f"{out}/_ml_checkpoint")
        .outputMode("append").trigger(availableNow=True).start()
    )
    _stop_when(q, _rows_read(4))  # both input files consumed
    got = {r["turn_idx"]: (r["text"], r["n_merged"])
           for r in spark.read.parquet(f"{out}/merged").collect()}
    assert got[0] == ("ERROR boom\n  at frame1\n  at frame2", 3)


def test_streaming_exact_dedup_across_batches(spark, stream_dirs):
    """duplicate text arriving in a LATER micro-batch is dropped while
    within the watermark horizon; the survivor set matches the batch
    exact_dedup over the union."""
    from loongcollector_spark.streaming import streaming_exact_dedup

    src, out = stream_dirs
    df1 = _gen(spark, 40)
    df1.write.parquet(f"{src}/b1")
    # batch 2 repeats batch 1's text payloads under new conv ids plus
    # brings 10 genuinely new rows
    dup = df1.limit(20).withColumn(
        "conv_id", F.concat(F.lit("dup_"), F.col("conv_id")))
    dup.write.parquet(f"{src}/b2_dup")
    fresh = _gen(spark, 10, conv_prefix="fresh_")
    fresh.write.parquet(f"{src}/b2_new")

    stream = (
        spark.readStream.schema(df1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = streaming_exact_dedup(stream, out, watermark="10 years")
    q.awaitTermination(120)

    got = spark.read.parquet(f"{out}/deduped")
    batch_union = df1.unionByName(dup).unionByName(fresh)
    # the stream's fp MUST be the batch pass's normalized fingerprint
    # (with_fingerprint), or stream-written fp tables can never join
    # against batch-built ones
    from loongcollector_spark.functions.dedup import exact_dedup
    expected_fps = {
        r["fp"] for r in exact_dedup(
            batch_union.withColumn("doc_id", F.col("conv_id"))
        ).select("fp").collect()
    }
    fps = [r["fp"] for r in got.select("fp").collect()]
    assert len(fps) == len(set(fps))          # no fingerprint twice
    assert set(fps) == expected_fps           # nothing lost


def test_session_counter_stream_matches_batch(spark, stream_dirs):
    from datetime import datetime

    from loongcollector_spark.functions.temporal import sessionize
    from loongcollector_spark.streaming import session_counter_stream

    src, out = stream_dirs
    t = lambda s: datetime.fromisoformat(f"2024-01-01 {s}")
    rows = [
        # conv a: two sessions under a 10-minute gap rule
        ("a", t("00:00:00")), ("a", t("00:05:00")), ("a", t("00:08:00")),
        ("a", t("01:00:00")), ("a", t("01:04:00")),
        # conv b: one session
        ("b", t("00:02:00")),
        # sentinel far in the future: pushes the watermark past every
        # real session so append mode finalizes them
        ("zz_sentinel", t("23:00:00")),
    ]
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp")
    df.coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("conv_id string, ts timestamp").parquet(src)
    q = session_counter_stream(stream, out, gap="10 minutes",
                               watermark="1 minute")
    q.awaitTermination(120)

    got = spark.read.parquet(f"{out}/sessions")
    # every emitted session must equal the batch session_window result
    batch = (
        spark.read.parquet(src)
        .groupBy(F.session_window("ts", "10 minutes").alias("w"), "conv_id")
        .agg(F.count("*").alias("n_events"))
        .select("conv_id", F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"), "n_events")
    )
    mismatch = got.alias("g").join(
        batch.alias("b"), ["conv_id", "session_start"], "inner"
    ).filter("g.n_events != b.n_events OR g.session_end != b.session_end")
    assert mismatch.count() == 0
    emitted = {(r.conv_id, r.session_start.isoformat(), r.n_events)
               for r in got.collect()}
    # the three real sessions are finalized (sentinel's own session may
    # or may not be, depending on where the final watermark lands)
    assert {("a", "2024-01-01T00:00:00", 3),
            ("a", "2024-01-01T01:00:00", 2),
            ("b", "2024-01-01T00:02:00", 1)} <= emitted

    # cross-check the batch operator: session COUNT per key agrees with
    # the lag+cumsum sessionize formulation at the same gap
    s = sessionize(spark.read.parquet(src), key="conv_id", gap_s=600)
    per_key = {r.conv_id: r.n for r in
               s.groupBy("conv_id")
               .agg(F.countDistinct("session_idx").alias("n")).collect()}
    assert per_key == {"a": 2, "b": 1, "zz_sentinel": 1}


def test_streaming_minhash_admission_across_batches(spark, stream_dirs):
    """Near-dup admission at micro-batch cadence: batch 2's near-dups of
    batch-1 docs come back dup_snapshot (probed against the PERSISTED
    band index, batch 1 never re-read), genuinely new docs are admitted
    and their bands extend the index."""
    from loongcollector_spark.streaming import streaming_minhash_admission

    src, out = stream_dirs
    base = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "pack my box with five dozen liquor jugs right now"),
        (3, "sphinx of black quartz judge my vow completely ok"),
    ]
    spark.createDataFrame(base, "doc_id long, text string") \
        .coalesce(1).write.parquet(f"{src}/b1")
    # batch 2: a near-dup of doc 1 (one word changed -> most shingles
    # shared), plus a genuinely new doc
    b2 = [
        (11, "the quick brown fox jumps over the lazy cat today"),
        (12, "completely unrelated sentence about distributed engines"),
    ]
    spark.createDataFrame(b2, "doc_id long, text string") \
        .coalesce(1).write.parquet(f"{src}/b2")
    # force file-source ordering: b1 strictly older than b2
    now = time.time()
    for root, _dirs, files in os.walk(src):
        for f in files:
            p = os.path.join(root, f)
            os.utime(p, (now - 100, now - 100) if "/b1" in root else (now, now))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = streaming_minhash_admission(stream, out)
    q.awaitTermination(120)

    dec = {r["doc_id"]: r["status"]
           for r in spark.read.parquet(f"{out}/decisions").collect()}
    assert dec[1] == "new" and dec[2] == "new" and dec[3] == "new"
    assert dec[11] == "dup_snapshot"
    assert dec[12] == "new"
    # index holds bands for admitted docs only
    idx_docs = {r["doc_id"] for r in
                spark.read.parquet(f"{out}/band_index").collect()}
    assert idx_docs == {1, 2, 3, 12}


def test_minhash_admission_replay_is_idempotent(spark, stream_dirs):
    """The exactly-once contract, exercised directly: re-firing a batch
    with the same batch_id (post-crash foreachBatch replay) must produce
    byte-identical decisions and index increment — in particular the
    replay must NOT see its own first-attempt bands and flip its docs to
    dup_snapshot."""
    from loongcollector_spark.streaming import minhash_admission_batch

    _src, out = stream_dirs
    process = minhash_admission_batch(out)
    b0 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "pack my box with five dozen liquor jugs right now")],
        "doc_id long, text string")
    process(b0, 0)
    first = sorted((r["doc_id"], r["status"]) for r in
                   spark.read.parquet(f"{out}/decisions").collect())
    assert first == [(1, "new"), (2, "new")]

    process(b0, 0)  # replay of the SAME batch id
    again = sorted((r["doc_id"], r["status"]) for r in
                   spark.read.parquet(f"{out}/decisions").collect())
    assert again == first
    idx = spark.read.parquet(f"{out}/band_index")
    assert {r["doc_id"] for r in idx.collect()} == {1, 2}

    # and a LATER batch still sees batch 0's bands
    b1 = spark.createDataFrame(
        [(11, "the quick brown fox jumps over the lazy cat today")],
        "doc_id long, text string")
    process(b1, 1)
    dec = {r["doc_id"]: r["status"] for r in
           spark.read.parquet(f"{out}/decisions").collect()}
    assert dec[11] == "dup_snapshot"


def test_media_admission_replay_is_idempotent(spark, stream_dirs):
    """The media twin of the minhash admission replay contract:
    re-firing a batch with the same batch_id produces identical
    decisions (the replay must not see its own first-attempt
    fingerprints), and a later batch's near-duplicate images land as
    dup_index against the accumulated fingerprint index."""
    import numpy as np

    from loongcollector_spark.functions.jpegcodec import encode_jpeg
    from loongcollector_spark.streaming import media_admission_batch

    _src, out = stream_dirs
    out = f"{out}/media"
    process = media_admission_batch(out)

    rng = np.random.default_rng(17)

    def jpeg(bump=0):
        v = 128 + 2 * rng.integers(0, 50, (8, 9)).astype(np.int64)
        if bump:
            v = v.copy()
            v[0, 0] += 2 * bump
        return bytearray(encode_jpeg(
            np.kron(v.astype(np.float64),
                    np.ones((8, 8))).astype(np.uint8), quality=50))

    state = rng.bit_generator.state
    img_a = jpeg()
    rng.bit_generator.state = state
    img_a_tweaked = jpeg(bump=4)   # same base values, one cell bumped
    img_b = jpeg()

    b0 = spark.createDataFrame(
        [(1, img_a), (2, img_b)], "media_id long, payload binary")
    process(b0, 0)
    first = sorted((r["media_id"], r["status"]) for r in
                   spark.read.parquet(f"{out}/decisions").collect())
    assert first == [(1, "new"), (2, "new")]

    process(b0, 0)  # replay of the SAME batch id
    again = sorted((r["media_id"], r["status"]) for r in
                   spark.read.parquet(f"{out}/decisions").collect())
    assert again == first

    b1 = spark.createDataFrame(
        [(11, img_a_tweaked)], "media_id long, payload binary")
    process(b1, 1)
    dec = {r["media_id"]: r["status"] for r in
           spark.read.parquet(f"{out}/decisions").collect()}
    assert dec[11] == "dup_index"
