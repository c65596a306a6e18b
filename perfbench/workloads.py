"""The three workloads. Each one is closed-loop in a single process: it
builds its inputs from the seed, warms up, runs whole rounds of the same
operations for the requested seconds, then checks every output outside
the timed window.

A workload returns a ``Result``; ``run.py`` turns it into the last line
of standard output. Layers are timed from outside, around calls into the
program's public functions.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from functools import reduce

import checks
import inputs
from tracing import PlanMetrics

# batch_skewed: sized so a cold set-up, the timed window and the checks
# fit the per-run budget on a 4-core box (one call ~3 s once warm).
BATCH_TURNS = 50_000
BATCH_FILES = 8
# Most of a call's cost is per-call planning and job set-up, which the JIT
# keeps speeding up for many calls. Warm-up is a fixed number of calls: the
# cold first call (about 10 s of class loading and first compiles) on a
# small input, then full-size calls. The count is fixed because the level
# the timed calls reach depends on it: stopping "once a call is no longer
# 5% faster" let one noisy call end warm-up early, and the timed calls then
# differed by 20% between runs.
WARM_TURNS = 5_000
WARM_SMALL, WARM_FULL = 1, 2
# Warm calls still get faster, by about 10% a call, and vary as much from
# one call to the next, so a run times at least three calls and reports
# their median.
BATCH_MIN_CALLS = 3

# stream_microbatch: many small files, one per trigger, so per-batch fixed
# costs (planning, WAL, commit log, small-file appends) dominate.
STREAM_TURNS = 8_000
STREAM_FILES = 8
FILES_PER_TRIGGER = 1
# after a 1-file warm-up drain the timed drain's batches still got faster,
# by up to 35% from first to last
STREAM_WARM_FILES = 3

# query_suite: tables the size of the sf0.01 test data (TESTDATA.md). A
# pass takes about 8 s on a 4-core box, longer than the run's window, so a
# run always times at least two passes and reports their median.
QUERY_EVENTS = 10_000
QUERY_DOCS = 500
QUERY_MIN_PASSES = 2
QUERY_SUITE = (
    "pipeline_sink_counts",
    "parse_regex_nginx", "parse_json_fields", "grok_app_fields",
    "pii_scrub", "text_normalize",
    "batcher_flush_batches", "prom_remote_write",
    "dedup_exact", "minhash_lsh_pairs",
)
# queries whose plan crosses the Arrow/pandas boundary
ARROW_QUERIES = ("batcher_flush_batches", "prom_remote_write")

SINK_NAMES = checks.SINKS


@dataclass
class Result:
    end_to_end: dict[str, float]
    layers: dict[str, float]
    attempted: int
    failed: int
    correct: bool
    errors: list[str] = field(default_factory=list)


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    cores: int
    work: str
    tracer: object
    since_start: object  # () -> seconds since the process started
    layers: dict = field(default_factory=dict)


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def timed_rounds(seconds: float, one_round, min_rounds: int = 1):
    """Run whole rounds until ``seconds`` have passed and at least
    ``min_rounds`` rounds are done."""
    t_end = time.monotonic() + seconds
    out = []
    while True:
        out.append(one_round(len(out)))
        if time.monotonic() >= t_end and len(out) >= min_rounds:
            return out


def noop(df) -> None:
    """Compute every column of ``df`` and discard it (a ``count()`` would
    let Catalyst prune the work)."""
    df.write.format("noop").mode("overwrite").save()


PROBE_REPS = 3


def timed(fn) -> float:
    """Median wall time of ``PROBE_REPS`` calls of ``fn``."""
    ts = []
    for _ in range(PROBE_REPS):
        t = time.monotonic()
        fn()
        ts.append(time.monotonic() - t)
    return median(ts)


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) of one sink directory."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith("part-") and not f.endswith(".crc"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def oracle_for(pdf):
    from loongcollector_spark.oracle import run_oracle

    naive = pdf.assign(ts=pdf["ts"].dt.tz_convert("UTC").dt.tz_localize(None))
    return run_oracle(naive)


def read_sink_rows(spark, out_dir: str):
    """(sink, file, pos, conv_id, turn_idx) of every sink, read through
    Spark; ``pos`` increases in file order."""
    from pyspark.sql import functions as F

    frames = [
        spark.read.parquet(f"{out_dir}/sinks/{s}").select(
            F.lit(s).alias("sink"), F.input_file_name().alias("file"),
            F.monotonically_increasing_id().alias("pos"),
            "conv_id", "turn_idx")
        for s in SINK_NAMES
    ]
    return reduce(lambda a, b: a.unionByName(b), frames).toPandas()


# --------------------------------------------------------------------------
# layer probes shared by the two pipeline workloads
# --------------------------------------------------------------------------

def probe_pipeline_layers(ctx: Ctx, df, flagship: bool) -> dict[str, float]:
    """Self time of each pipeline stage, as noop actions over successive
    stage prefixes, plus per-sink writes over the cached routed frame. The
    flagship (``run_pipeline``) also has the salted exchange, the counters
    and the lineage; the streaming path has none of them."""
    from loongcollector_spark import routing
    from loongcollector_spark.aggregate import melt_sink_counters, with_pack_id
    from loongcollector_spark.metrics import partition_lineage
    from loongcollector_spark.plans.pipeline import (
        DEFAULT_SINK_RULES, enrich_stage, parse_stage, route_stage)

    tr, out = ctx.tracer, {}
    parts = 2 * ctx.cores
    prefixes = [("scan", lambda: df),
                ("parse", lambda: parse_stage(df)),
                ("enrich", lambda: enrich_stage(parse_stage(df))),
                ("route", lambda: route_stage(enrich_stage(parse_stage(df))))]
    if flagship:
        prefixes.append(("exchange_sort", lambda: routing.salted_repartition(
            with_pack_id(route_stage(enrich_stage(parse_stage(df)))),
            num_partitions=parts)))
    pm = PlanMetrics(ctx.spark)
    prev = None
    for name, build in prefixes:
        with tr.span(f"prefix.{name}"):
            t = timed(lambda: noop(build()))
        plan = pm.take()
        if prev is not None:
            key = ("routing.exchange_sort_s" if name == "exchange_sort"
                   else f"pipeline.{name}_s")
            out[key] = max(t - prev, 0.0)
        if name == "exchange_sort":
            out["routing.shuffle_bytes"] = (plan["plan.shuffle_write_bytes"]
                                            / PROBE_REPS)
        prev = t

    routed = route_stage(enrich_stage(parse_stage(df)))
    if flagship:
        routed = routing.salted_repartition(with_pack_id(routed),
                                            num_partitions=parts)
    routed = routed.persist()
    try:
        routed.count()
        if flagship:
            with tr.span("layer.counters"):
                out["aggregate.counters_s"] = timed(lambda: noop(
                    melt_sink_counters(routed, DEFAULT_SINK_RULES)))
            with tr.span("layer.lineage"):
                out["metrics.lineage_s"] = timed(lambda: noop(
                    partition_lineage(routed)))
        for rule in DEFAULT_SINK_RULES:
            path = f"{ctx.work}/probe_sinks/{rule.name}"
            with tr.span(f"layer.sink.{rule.name}"):
                out[f"sink.{rule.name}.write_s"] = timed(
                    lambda: routing.sink_frame(routed, rule, DEFAULT_SINK_RULES)
                    .write.mode("overwrite").parquet(path))
    finally:
        routed.unpersist()
        shutil.rmtree(f"{ctx.work}/probe_sinks", ignore_errors=True)
    return out


def sink_output_layers(spark, out_dir: str, rows) -> dict[str, float]:
    out = {}
    counts = checks.sink_rows(rows)
    for s in SINK_NAMES:
        n_files, n_bytes = dir_stats(f"{out_dir}/sinks/{s}")
        out[f"sink.{s}.rows"] = counts[s]
        out[f"sink.{s}.files"] = n_files
        out[f"sink.{s}.bytes"] = n_bytes
    return out


# --------------------------------------------------------------------------
# batch_skewed
# --------------------------------------------------------------------------

def batch_skewed(ctx: Ctx) -> Result:
    from loongcollector_spark.plans.pipeline import run_pipeline

    spark, tr = ctx.spark, ctx.tracer
    in_dir = f"{ctx.work}/input"
    with tr.span("datagen.generate"):
        pdf = inputs.transcripts_pdf(BATCH_TURNS, ctx.seed)
        inputs.write_files(pdf, in_dir, BATCH_FILES)
    df = spark.read.parquet(in_dir)
    parts = 2 * ctx.cores

    def call(out_dir: str, frame=df) -> None:
        run_pipeline(spark, frame, out_dir, resume=False, num_partitions=parts)

    def warm_call(i: int, frame) -> None:
        out_dir = f"{ctx.work}/warm{i}"
        t = time.monotonic()
        call(out_dir, frame)
        log(f"warm-up call {i}: {time.monotonic() - t:.3f}s")
        shutil.rmtree(out_dir, ignore_errors=True)

    with tr.span("warmup"):
        warm_dir = f"{ctx.work}/input_warm"
        inputs.write_files(inputs.transcripts_pdf(WARM_TURNS, ctx.seed),
                           warm_dir, BATCH_FILES)
        small = spark.read.parquet(warm_dir)
        for i in range(WARM_SMALL + WARM_FULL):
            warm_call(i, small if i < WARM_SMALL else df)
    setup_s = ctx.since_start()

    pm = PlanMetrics(spark) if tr.enabled else None

    def one_round(k: int):
        out_dir = f"{ctx.work}/run{k}"
        t = time.monotonic()
        with tr.span("op.run_pipeline", call=k) as attrs:
            try:
                call(out_dir)
                ok = True
            except Exception:
                traceback.print_exc()
                ok = False
        dt = time.monotonic() - t
        if pm is not None:
            pm.take(attrs)
        log(f"run_pipeline call {k}: {dt:.3f}s")
        return out_dir, dt, ok

    rounds = timed_rounds(ctx.seconds, one_round, min_rounds=BATCH_MIN_CALLS)
    times = [dt for _o, dt, _ok in rounds]

    # checks, outside the timed window
    oracle = oracle_for(pdf)
    want_counts = oracle["metrics"]["per_sink_rows"]
    failed, errors, rows = 0, [], None
    for out_dir, _dt, ok in rounds:
        if not ok:
            failed += 1
            continue
        rows = read_sink_rows(spark, out_dir)
        got = checks.sink_rows(rows)
        counters = spark.read.parquet(f"{out_dir}/counters").toPandas()
        lineage = spark.read.parquet(f"{out_dir}/_lineage").toPandas()
        errs = (checks.check_sink_counts(got, want_counts)
                + checks.check_counters(counters, oracle["counters"])
                + checks.check_lineage(got, BATCH_TURNS,
                                       int(lineage["n_rows"].sum()))
                + checks.check_sinks_vs_counters(got, counters)
                + checks.check_file_order(rows)
                + checks.check_hot_spread(rows))
        if errs:
            failed += 1
            errors += errs
    e2e = {"setup_s": setup_s, "round_s": median(times),
           "op_ms": 1e3 * median(times)}

    if tr.enabled and rows is not None:
        last = [o for o, _dt, ok in rounds if ok][-1]
        ctx.layers.update(sink_output_layers(spark, last, rows))
        ctx.layers["aggregate.counter_rows"] = len(
            spark.read.parquet(f"{last}/counters").toPandas())
        ctx.layers["routing.max_partition_rows"] = int(
            spark.read.parquet(f"{last}/_lineage").toPandas()["n_rows"].max())
        ctx.layers.update(pm.per_round(len(rounds)))
        ctx.layers.update(probe_pipeline_layers(ctx, df, flagship=True))
        ctx.layers.update(probe_checkpoint(ctx, df))
        ctx.layers["traced.round_s"] = median(times)
    for out_dir, _dt, _ok in rounds:
        shutil.rmtree(out_dir, ignore_errors=True)
    return Result(e2e, ctx.layers, len(rounds), failed, not errors, errors)


def probe_checkpoint(ctx: Ctx, df) -> dict[str, float]:
    """Input fingerprint and one run's worth of manifest writes (reset +
    four sinks + counters + run), timed from outside."""
    from loongcollector_spark.checkpoint import Manifest, input_fingerprint

    mdir = f"{ctx.work}/manifest_probe"

    def manifest_round():
        shutil.rmtree(mdir, ignore_errors=True)
        m = Manifest.load(mdir, ctx.spark)
        m.reset_if_input_changed("probe")
        for stage in [f"sink:{s}" for s in SINK_NAMES] + ["counters", "run"]:
            m.mark_done(stage)

    with ctx.tracer.span("layer.checkpoint"):
        out = {"checkpoint.fingerprint_s": timed(lambda: input_fingerprint(df)),
               "checkpoint.manifest_s": timed(manifest_round)}
    shutil.rmtree(mdir, ignore_errors=True)
    return out


def scaling_1core(ctx: Ctx, start_session) -> float:
    """turns/s of the same job at local[1] on 1/cores of the input, in a
    fresh SparkContext (one warm-up call, median of two timed calls)."""
    from loongcollector_spark.plans.pipeline import run_pipeline

    ctx.spark.stop()
    spark = start_session(1)
    ctx.spark = spark
    n = BATCH_TURNS // ctx.cores
    in_dir = f"{ctx.work}/input_1core"
    inputs.write_files(inputs.transcripts_pdf(n, ctx.seed), in_dir,
                       max(BATCH_FILES // ctx.cores, 1))
    df = spark.read.parquet(in_dir)
    ts = []
    with ctx.tracer.span("scaling.local1"):
        for i in range(3):
            out_dir = f"{ctx.work}/scale{i}"
            t = time.monotonic()
            run_pipeline(spark, df, out_dir, resume=False,
                         num_partitions=2 * ctx.cores)
            ts.append(time.monotonic() - t)
            shutil.rmtree(out_dir, ignore_errors=True)
    log(f"local[1] calls on {n} turns: {[round(x, 3) for x in ts]}")
    return n / median(ts[1:])


# --------------------------------------------------------------------------
# stream_microbatch
# --------------------------------------------------------------------------

def _drain(spark, in_dir: str, out_dir: str):
    from loongcollector_spark.streaming import (
        run_streaming_pipeline, transcripts_stream)

    t = time.monotonic()
    q = run_streaming_pipeline(
        transcripts_stream(spark, in_dir, FILES_PER_TRIGGER), out_dir)
    q.awaitTermination()
    wall = time.monotonic() - t
    progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return wall, progress


def _committed(out_dir: str) -> int:
    d = f"{out_dir}/_checkpoint/commits"
    return sum(1 for f in os.listdir(d) if f.isdigit()) if os.path.isdir(d) else 0


def stream_microbatch(ctx: Ctx) -> Result:
    spark, tr = ctx.spark, ctx.tracer
    in_dir, warm_dir = f"{ctx.work}/input", f"{ctx.work}/input_warm"
    with tr.span("datagen.generate"):
        pdf = inputs.transcripts_pdf(STREAM_TURNS, ctx.seed)
        inputs.write_files(pdf, in_dir, STREAM_FILES)
        # warm-up input: the first files' rows, in a source of its own
        per_file = STREAM_TURNS // STREAM_FILES
        inputs.write_files(pdf.iloc[:per_file * STREAM_WARM_FILES], warm_dir,
                           STREAM_WARM_FILES)
    with tr.span("warmup"):
        wall, _ = _drain(spark, warm_dir, f"{ctx.work}/warm_out")
        log(f"warm-up drain ({STREAM_WARM_FILES} batches): {wall:.3f}s")
        shutil.rmtree(f"{ctx.work}/warm_out", ignore_errors=True)
    setup_s = ctx.since_start()
    pm = PlanMetrics(spark) if tr.enabled else None

    def one_round(k: int):
        out_dir = f"{ctx.work}/run{k}"
        with tr.span("op.stream_drain", drain=k) as attrs:
            try:
                wall, progress = _drain(spark, in_dir, out_dir)
                ok = True
            except Exception:
                traceback.print_exc()
                wall, progress, ok = 0.0, [], False
        if pm is not None:
            pm.take(attrs)
        log(f"drain {k}: {wall:.3f}s, {len(progress)} batches (ms: "
            + ", ".join(str(p["durationMs"]["triggerExecution"]) for p in progress)
            + ")")
        return out_dir, wall, progress, ok

    rounds = timed_rounds(ctx.seconds, one_round)
    n_batches = math.ceil(STREAM_FILES / FILES_PER_TRIGGER)

    oracle = oracle_for(pdf)
    want_counts = oracle["metrics"]["per_sink_rows"]
    failed, errors, rows = 0, [], None
    for out_dir, _wall, progress, ok in rounds:
        errs = ["drain raised"] if not ok else []
        if ok:
            rows = read_sink_rows(spark, out_dir)
            errs = (checks.check_sink_counts(checks.sink_rows(rows), want_counts)
                    + checks.check_no_duplicates(rows)
                    + checks.check_stream_progress(
                        [p["numInputRows"] for p in progress], STREAM_TURNS,
                        _committed(out_dir), STREAM_FILES, FILES_PER_TRIGGER))
        if errs:
            failed += n_batches
            errors += errs
    walls = [w for _o, w, _p, ok in rounds if ok]
    lat = [p["durationMs"]["triggerExecution"]
           for _o, _w, progress, _ok in rounds for p in progress]
    e2e = {"setup_s": setup_s, "round_s": median(walls),
           "op_ms": float(median(lat))}

    if tr.enabled and rows is not None:
        last = [o for o, _w, _p, ok in rounds if ok][-1]
        ctx.layers.update(sink_output_layers(spark, last, rows))
        ctx.layers.update(pm.per_round(len(rounds)))
        prog = [p for _o, _w, progress, _ok in rounds for p in progress]
        ctx.layers["stream.batches"] = len(prog) / len(rounds)
        for key, dur in (("trigger_ms", "triggerExecution"),
                         ("add_batch_ms", "addBatch"),
                         ("wal_commit_ms", "walCommit"),
                         ("commit_ms", "commitOffsets"),
                         ("planning_ms", "queryPlanning")):
            ctx.layers[f"stream.{key}"] = float(median(
                [p["durationMs"].get(dur, 0) for p in prog]))
        # stage self times on one trigger's worth of input
        one = spark.read.parquet(*sorted(
            os.path.join(in_dir, f) for f in os.listdir(in_dir))[:FILES_PER_TRIGGER])
        ctx.layers.update(probe_pipeline_layers(ctx, one, flagship=False))
        ctx.layers["traced.round_s"] = median(walls)
    for out_dir, *_ in rounds:
        shutil.rmtree(out_dir, ignore_errors=True)
    return Result(e2e, ctx.layers, n_batches * len(rounds), failed,
                  not errors, errors)


# --------------------------------------------------------------------------
# query_suite
# --------------------------------------------------------------------------

def fingerprint_exprs(schema) -> list:
    """Aggregates that compute ``checks.fingerprint`` of a result in Spark,
    for ``DataFrame.observe``."""
    from pyspark.sql import functions as F

    exprs, cells = [F.count(F.lit(1)).alias("rows")], []
    for f in schema.fields:
        kind = checks.SPARK_KINDS[f.dataType.typeName()]
        c = F.col(f"`{f.name}`")
        exprs.append(F.count(c).alias(f"{f.name}:n"))
        if kind == "float":
            exprs.append(F.sum(c.cast("double")).alias(f"{f.name}:sum"))
            continue
        v = {"object": F.crc32(F.encode(c, "UTF-8")),
             "datetime": F.unix_micros(c.cast("timestamp")),
             "bool": c.cast("int")}.get(kind, c)
        exprs.append(F.sum(v.cast("decimal(38,0)")).alias(f"{f.name}:sum"))
        cells.append(F.coalesce((c if kind == "object" else v).cast("string"),
                                F.lit(checks.NULL_CELL)))
    row = F.crc32(F.encode(F.concat_ws(checks.ROW_SEP, *cells), "UTF-8"))
    exprs.append(F.sum(row.cast("decimal(38,0)")).alias("row_hash"))
    return exprs


def with_fingerprint(df):
    """``df`` with its result's fingerprint observed, and the Observation
    that holds the fingerprint once an action on it has run."""
    from pyspark.sql import Observation

    obs = Observation()
    return df.observe(obs, *fingerprint_exprs(df.schema)), obs


def result_kinds(df) -> dict[str, str]:
    return {f.name: checks.SPARK_KINDS[f.dataType.typeName()]
            for f in df.schema.fields}


def query_suite(ctx: Ctx) -> Result:
    from loongcollector_spark import driver_queries as dq

    spark, tr = ctx.spark, ctx.tracer
    sf = f"{ctx.work}/tables"
    with tr.span("datagen.generate"):
        inputs.write_tables(sf, QUERY_EVENTS, QUERY_DOCS, ctx.seed)
    # Fixtures are built into this run's own directory, so set-up never
    # depends on what an earlier run left in the repository's cache.
    if not hasattr(dq, "_FIXTURE_CACHE"):
        raise RuntimeError("driver_queries._FIXTURE_CACHE is gone")
    dq._FIXTURE_CACHE = f"{ctx.work}/fixture_cache"
    with tr.span("query.fixtures"):
        t = time.monotonic()
        dq.transcripts_from_events(spark, sf)
        ctx.layers["query.fixtures_s"] = time.monotonic() - t

    # Warm-up pass: each query's full result, with its fingerprint observed
    # as in the timed passes (so the observed aggregates are compiled here),
    # both checked after the timed window.
    results, warm_fps, kinds = {}, {}, {}
    with tr.span("warmup"):
        for name in QUERY_SUITE:
            fn, _oracle = dq.QUERIES[name]
            t = time.monotonic()
            try:
                df, obs = with_fingerprint(fn(spark, sf))
                results[name] = df.toPandas()
                warm_fps[name] = obs.get
                kinds[name] = result_kinds(df)
            except Exception:
                traceback.print_exc()
            log(f"warm-up {name}: {time.monotonic() - t:.3f}s")
    setup_s = ctx.since_start()

    pm = PlanMetrics(spark) if tr.enabled else None
    py_bytes: dict[str, list[tuple[float, float]]] = {}

    def one_round(k: int):
        """One pass: name -> (seconds, observed fingerprint), or None if
        the execution raised."""
        per = {}
        for name in QUERY_SUITE:
            fn, _oracle = dq.QUERIES[name]
            t = time.monotonic()
            with tr.span(f"query.{name}", pass_=k) as attrs:
                try:
                    df, obs = with_fingerprint(fn(spark, sf))
                    noop(df)
                    per[name] = (time.monotonic() - t, obs.get)
                    kinds.setdefault(name, result_kinds(df))
                except Exception:
                    traceback.print_exc()
                    per[name] = None
            if pm is not None:
                plan = pm.take(attrs)
                py_bytes.setdefault(name, []).append(
                    (plan["python.bytes_sent"], plan["python.bytes_received"]))
        log(f"pass {k}: {sum(v[0] for v in per.values() if v):.3f}s ("
            + ", ".join(f"{n} {v[0]:.2f}" for n, v in per.items() if v) + ")")
        return per

    passes = timed_rounds(ctx.seconds, one_round, min_rounds=QUERY_MIN_PASSES)

    # Every execution is checked: its observed fingerprint against the
    # fingerprint of the DuckDB oracle's result. The full warm-up result is
    # compared with the oracle's value by value, and its fingerprint too;
    # all executions run the same plan on the same tables, so a mismatch
    # there counts against each of them.
    import duckdb

    con = duckdb.connect()
    for t in ("events", "documents"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    failed, errors = 0, []
    for name in QUERY_SUITE:
        want = con.sql(dq.QUERIES[name][1]).df()
        want_fp = (checks.fingerprint(want, kinds[name])
                   if set(kinds.get(name, ())) <= set(want.columns) else None)
        if name not in results:
            full = ["warm-up execution raised"]
        else:
            full = checks.check_query(results[name], want)
            if want_fp is not None:
                full += checks.check_fingerprint(warm_fps[name], want_fp)
        errors += [f"{name} warm-up: {e}" for e in full]
        for k, p in enumerate(passes):
            if p[name] is None:
                errs = ["execution raised"]
            elif want_fp is None:
                errs = ["result columns are not the oracle's"]
            else:
                errs = checks.check_fingerprint(p[name][1], want_fp)
            errors += [f"{name} pass {k}: {e}" for e in errs]
            failed += bool(errs or full)
    con.close()

    times = {name: [p[name][0] for p in passes if p[name] is not None]
             for name in QUERY_SUITE}
    totals = [sum(v[0] for v in p.values() if v is not None) for p in passes]
    # a typical execution: geometric mean over the suite of each query's
    # median time, so every query weighs the same
    per_query = [median(ts) for ts in times.values() if ts]
    op_s = math.exp(statistics.fmean(map(math.log, per_query))) if per_query else 0.0
    e2e = {"setup_s": setup_s, "round_s": median(totals), "op_ms": 1e3 * op_s}
    if tr.enabled:
        for name in QUERY_SUITE:
            ctx.layers[f"query.{name}_s"] = median(times[name])
        for name in ARROW_QUERIES:
            sent = [s for s, _r in py_bytes.get(name, [])]
            recv = [r for _s, r in py_bytes.get(name, [])]
            ctx.layers[f"python.{name}.bytes_sent"] = median(sent)
            ctx.layers[f"python.{name}.bytes_received"] = median(recv)
        ctx.layers.update(pm.per_round(len(passes)))
        ctx.layers["traced.round_s"] = median(totals)
    return Result(e2e, ctx.layers, len(QUERY_SUITE) * len(passes), failed,
                  not errors, errors)


WORKLOADS = {
    "batch_skewed": batch_skewed,
    "stream_microbatch": stream_microbatch,
    "query_suite": query_suite,
}
