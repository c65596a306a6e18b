"""The flagship transcript pipeline: parse → enrich → route → aggregate.

Mirrors the reference's canonical file→parse→route→flush pipeline
(CollectionPipeline.cpp:413-474) over the transcripts table
(conv_id, turn_idx, role, text, tool, ts):

  Stage P  parse     — per-format field extraction from `text` (nginx
                       regex / JSON / KV / grok app-line — the parser
                       matrix of FIXTURES.md §1.1), one codegen pass.
  Stage E  enrich    — dictmap broadcast enrichment: tool→tool_category,
                       role→route_class.
  Stage R  route     — boolean sink bits over ONE cached frame
                       (Router.cpp copy-minimization analog).
  Stage A  aggregate — per-sink hourly windowed counters.
  Sinks              — per-sink parquet + _counters + _lineage + _metrics
                       + _manifest (resume gate).

Scale shape: stages P/E/R are narrow (zero shuffle; Catalyst fuses them
into one WholeStageCodegen over the scan). The only wide operations are
the ONE salted repartition before the sink writes (hot-conv skew spread)
and the tiny additive counter aggregations.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from loongcollector_spark import routing
from loongcollector_spark.aggregate import melt_sink_counters, with_pack_id
from loongcollector_spark.checkpoint import Manifest, input_fingerprint, write_text
from loongcollector_spark.datagen import ROLE_DICT, TOOL_DICT
from loongcollector_spark.metrics import MetricsCollector, partition_lineage
from loongcollector_spark.operators import build_operator
from loongcollector_spark.operators.common import PARSE_OK
from loongcollector_spark.operators.grok import GrokCompiler
from loongcollector_spark.routing import SinkRule

# the reference's 11-capture-group nginx benchmark regex shape
# (test/benchmark/.../performance_file_to_file_loongcollector/loongcollector.yaml)
NGINX_RX = (
    r'^(\S+) (\S+) (\S+) \[([^\]]+)\] "(\S+) (\S+) ([^"]*)" '
    r'(\d{3}) (\d+) "([^"]*)" "([^"]*)"$'
)
NGINX_KEYS = [
    "ip", "ident", "auth", "time_local", "method", "request", "http_version",
    "response_code", "bytes", "referrer", "user_agent",
]
GROK_PATTERN = "%{IP:client} %{WORD:method} %{URIPATHPARAM:request} %{NUMBER:bytes:int} %{NUMBER:duration:float}"

DEFAULT_SINK_RULES = [
    SinkRule("sink_tool", kind="expr", expr="tool_category != ''"),
    SinkRule(
        "sink_errors",
        kind="expr",
        expr=f"(NOT {PARSE_OK}) OR (response_code IS NOT NULL "
             "AND response_code RLIKE '^5[0-9][0-9]$')",
    ),
    SinkRule("sink_assistant", kind="tag", key="role", value="assistant"),
    SinkRule("sink_default", kind="always"),
]


def parse_stage(df: DataFrame) -> DataFrame:
    """Stage P: sniff the payload format, extract per-format fields,
    consolidate into one typed schema. All codegen — no UDFs, no shuffle."""
    t = F.col("text")
    fmt = (
        F.when(t.startswith("{"), "json")
        # combined-log sniff tolerates non-dash ident/auth users
        # ('1.2.3.4 - alice [...]' is a valid nginx line NGINX_RX accepts;
        # a literal ' - - [' test would misroute it to sink_errors)
        .when(t.rlike(r"^\S+ \S+ \S+ \["), "nginx")
        .when(t.rlike(r"^\w+=[^ ]*&"), "kv")
        .when(t.rlike(r"^\d+\.\d+\.\d+\.\d+ \w+ /"), "app")
        .otherwise("unknown")
    )
    df = df.withColumn("_fmt", fmt)

    is_fmt = {k: F.col("_fmt") == k for k in ("nginx", "json", "kv", "app")}

    # Every shared parse subtree below is UNCONDITIONAL (input masked to
    # null off-format instead of wrapped in per-column when()s): codegen
    # subexpression elimination only dedups unconditional trees, so this is
    # what gets each format parsed ONCE per row no matter how many columns
    # read from it. The conditional-when() formulation re-parsed per output
    # column and lost 5x at local[32] (from_json contention under threads).
    sep = "\x01"

    # nginx: 2 regex passes total — one rlike for validity, one
    # regexp_replace that maps the whole match to its needed capture groups
    # (vs one regexp_extract full match PER column)
    nginx_ok = t.rlike(NGINX_RX)
    nginx_src = F.when(is_fmt["nginx"] & nginx_ok, t)
    nginx_arr = F.split(
        F.regexp_replace(nginx_src, NGINX_RX, sep.join(f"${i}" for i in (1, 5, 6, 8, 9))),
        sep,
    )
    nginx_f = {k: F.element_at(nginx_arr, i + 1)
               for i, k in enumerate(("ip", "method", "request", "code", "bytes"))}

    # json: map<string,string> parse, NOT a struct schema — the StructType
    # JsonToStructs path anti-scales under concurrent tasks, the MapType
    # path scales linearly, and string KVs + casts match the reference's
    # stringify-all-scalars contents model (ProcessorParseJsonNative.cpp:177)
    jmap = F.from_json(F.when(is_fmt["json"], t), "map<string,string>")
    jmeta = F.from_json(jmap.getItem("meta"), "map<string,string>")
    json_ok = jmap.getItem("action").isNotNull()

    kvmap = F.str_to_map(F.when(is_fmt["kv"], t), F.lit("&"), F.lit("="))
    kv_ok = (
        kvmap.getItem("action").isNotNull()
        & kvmap.getItem("lat_ms").isNotNull()
        & kvmap.getItem("tok").isNotNull()
    )

    grok_rx, grok_caps = GrokCompiler().compile(GROK_PATTERN)
    grok_rx = "^" + grok_rx + "$"
    gidx = {alias: i for i, alias, _t in grok_caps}
    app_ok = t.rlike(grok_rx)
    app_src = F.when(is_fmt["app"] & app_ok, t)
    app_arr = F.split(
        F.regexp_replace(
            app_src, grok_rx,
            sep.join(f"${gidx[k]}" for k in ("client", "method", "request", "bytes")),
        ),
        sep,
    )
    app_f = {k: F.element_at(app_arr, i + 1)
             for i, k in enumerate(("client", "method", "request", "bytes"))}

    ok = (
        F.when(is_fmt["nginx"], nginx_ok)
        .when(is_fmt["json"], json_ok)
        .when(is_fmt["kv"], kv_ok)
        .when(is_fmt["app"], app_ok)
        .otherwise(F.lit(False))
    )

    out = (
        df.withColumn(PARSE_OK, ok)
        # consolidated extraction columns. The nginx/app sources are masked
        # at the source (fmt+ok guard on the regexp input), but jmap/kvmap
        # are masked only by format — a kv row missing `tok` or a json row
        # missing `action` parses partially while ok=false. The outer
        # when(ok, ...) enforces the invariant "failed rows keep every
        # extraction column null"; the shared jmap/kvmap subtrees stay
        # UNCONDITIONAL underneath, so codegen subexpression elimination
        # still parses each format once per row.
        .withColumn("client_ip", F.coalesce(nginx_f["ip"], app_f["client"]))
        .withColumn("method", F.coalesce(nginx_f["method"], app_f["method"]))
        .withColumn("request", F.coalesce(nginx_f["request"], app_f["request"]))
        .withColumn("response_code", nginx_f["code"])
        .withColumn(
            "bytes",
            F.coalesce(nginx_f["bytes"].try_cast("long"),
                       app_f["bytes"].try_cast("long")),
        )
        .withColumn(
            "action",
            F.when(ok, F.coalesce(jmap.getItem("action"), kvmap.getItem("action"))),
        )
        .withColumn(
            "lat_ms",
            F.when(ok, F.coalesce(
                jmap.getItem("lat_ms").try_cast("long"),
                kvmap.getItem("lat_ms").try_cast("long"),
            )),
        )
        .withColumn(
            "tok",
            F.when(ok, F.coalesce(
                jmeta.getItem("tok").try_cast("long"),
                kvmap.getItem("tok").try_cast("long"),
            )),
        )
        .withColumn("model", F.when(ok, jmeta.getItem("model")))
    )
    return out


def enrich_stage(df: DataFrame) -> DataFrame:
    """Stage E: dictmap broadcast enrichment (processor_dict_map
    semantics; '' maps to '' so non-tool turns stay untagged while
    unregistered tools get Missing='Unknown')."""
    tool_map = dict(TOOL_DICT)
    tool_map[""] = ""
    enrich_tool = build_operator(
        {
            "Type": "processor_dict_map",
            "SourceKey": "tool",
            "DestKey": "tool_category",
            "MapDict": tool_map,
            "HandleMissing": True,
            "Missing": "Unknown",
        }
    )
    enrich_role = build_operator(
        {
            "Type": "processor_dict_map",
            "SourceKey": "role",
            "DestKey": "route_class",
            "MapDict": ROLE_DICT,
            "HandleMissing": True,
            "Missing": "Unknown",
        }
    )
    return enrich_role(enrich_tool(df))


def route_stage(df: DataFrame, rules: list[SinkRule] | None = None) -> DataFrame:
    return routing.apply_router(df, rules or DEFAULT_SINK_RULES)


def transcript_pipeline(df: DataFrame, rules: list[SinkRule] | None = None) -> DataFrame:
    """P+E+R as one pure transform (no writes) — the frame every sink
    branch filters from."""
    return route_stage(enrich_stage(parse_stage(df)), rules)


def _write_metrics(spark: SparkSession, mc: MetricsCollector, out_dir: str) -> None:
    """Persist the stage-metrics records as ``_metrics/part-00000.json``
    (JSON lines, spark.read.json-compatible). The records are a handful
    of driver-resident rows, so they go through the Hadoop-FS text writer
    instead of a per-run Spark job."""
    import json as _json

    write_text(spark, f"{out_dir}/_metrics/part-00000.json",
               "".join(_json.dumps(rec) + "\n" for rec in mc.to_rows()))


def run_pipeline(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    rules: list[SinkRule] | None = None,
    window_duration: str = "1 hour",
    counter_keys: tuple[str, ...] = ("role",),
    salt_mod: int = 16,
    num_partitions: int | None = None,
    resume: bool = True,
    fail_after_stage: int | None = None,
) -> dict:
    """Execute the pipeline with sinks, counters, lineage, metrics and a
    checkpoint manifest. Returns a summary dict.

    ``fail_after_stage`` injects a crash after N completed sink stages —
    the kill/resume test hook.
    """
    rules = rules or DEFAULT_SINK_RULES
    mc = MetricsCollector()
    manifest = Manifest.load(out_dir, spark)

    t0 = time.monotonic()
    # fingerprint = input files + the CONFIG that shapes the output: a
    # changed sink rule / window / counter key must invalidate completed
    # stages, else resume keeps parquet computed under the old config
    import hashlib as _hashlib
    import json as _cjson

    cfg_sig = _hashlib.md5(_cjson.dumps([
        [[r.name, r.kind, r.key, r.value, r.expr, r.discarding_tag]
         for r in rules],
        window_duration, list(counter_keys),
    ]).encode()).hexdigest()[:16]
    fp = f"{input_fingerprint(df)}|cfg:{cfg_sig}"
    if not resume:
        manifest.data = {"input_fingerprint": None, "stages": {}}
    manifest.reset_if_input_changed(fp)

    # a scan-based fingerprint is "n:hash" — reuse its count; the
    # file-metadata fingerprint ("files:...") carries no count, so input
    # rows = routed rows (routing never drops rows)
    in_rows_row = None if fp.startswith("files:") else int(fp.split(":", 1)[0])

    routed = transcript_pipeline(df, rules)
    routed = with_pack_id(routed)
    # THE one shuffle: salted conv partitioning + in-partition stable order
    routed = routing.salted_repartition(
        routed, salt_mod=salt_mod, num_partitions=num_partitions
    )
    routed = routed.persist()
    try:
        completed = 0
        sink_frames: dict[str, DataFrame] = {}
        for rule in rules:
            sink_frames[rule.name] = routing.sink_frame(routed, rule, rules)

        pending: list[SinkRule] = []
        for rule in rules:
            if resume and manifest.is_done(f"sink:{rule.name}"):
                mc.record_stage(f"sink:{rule.name} (skipped:resume)", 0, 0, 0.0)
                completed += 1
            else:
                pending.append(rule)

        cpath = f"{out_dir}/counters"
        need_counters = not (resume and manifest.is_done("counters"))
        concurrent = fail_after_stage is None and len(pending) > 1

        if concurrent and need_counters:
            # Materialize the cache with a job that does useful work: the
            # Stage-A counters aggregation doubles as the materialization
            # pass, and the routed-row count piggybacks on its scan via
            # observe() — no standalone count job, one fewer full pass
            # over the cached frame.
            t1 = time.monotonic()
            robs = Observation("routed_rows")
            cobs = Observation("counter_rows")
            counters = melt_sink_counters(
                routed.observe(robs, F.count(F.lit(1)).alias("n")),
                rules, window_duration, counter_keys,
            )
            (counters.observe(cobs, F.count(F.lit(1)).alias("n"))
             .write.mode("overwrite").parquet(cpath))
            wall_ms = (time.monotonic() - t1) * 1e3
            routed_rows = int(robs.get["n"])
            if in_rows_row is None:
                in_rows_row = routed_rows
            mc.record_stage("parse+enrich+route", in_rows_row, routed_rows,
                            wall_ms)
            mc.record_stage("counters", routed_rows, int(cobs.get["n"]),
                            wall_ms)
            manifest.mark_done("counters", path=cpath)
            need_counters = False
        else:
            routed_rows = mc.timed_count(
                "parse+enrich+route",
                in_rows_row if in_rows_row is not None else -1, routed,
            )
            if in_rows_row is None:
                in_rows_row = routed_rows
                mc.records[-1].in_rows = routed_rows
                mc.records[-1].dropped_rows = 0

        def write_sink(rule: SinkRule):
            t1 = time.monotonic()
            path = f"{out_dir}/sinks/{rule.name}"
            # row count piggybacks on the write job itself via observe() —
            # no second read-back scan of what was just written
            obs = Observation(f"sink_rows:{rule.name}")
            frame = sink_frames[rule.name].observe(
                obs, F.count(F.lit(1)).alias("n")
            )
            frame.write.mode("overwrite").parquet(path)
            n = int(obs.get["n"])
            return rule, path, n, (time.monotonic() - t1) * 1e3

        # Stage A (when not already folded into the materialization job
        # above — the resume / crash-injection paths): per-sink windowed
        # counters, computed in ONE melt pass over the cached routed frame
        # (explode sink bits → one partial-agg shuffle) rather than a
        # filtered scan per sink or a disk re-read (the manifest's input
        # fingerprint guarantees resumed sinks were written from the same
        # input, and the sink bits are deterministic functions of it, so
        # in-memory content == on-disk content).
        def write_counters():
            t1 = time.monotonic()
            counters = melt_sink_counters(
                routed, rules, window_duration, counter_keys
            )
            cobs = Observation("counter_rows")
            counters = counters.observe(cobs, F.count(F.lit(1)).alias("n"))
            counters.write.mode("overwrite").parquet(cpath)
            return int(cobs.get["n"]), (time.monotonic() - t1) * 1e3

        def write_lineage():
            # always rewritten — cheap, and it describes THIS run
            partition_lineage(routed).write.mode("overwrite").parquet(
                f"{out_dir}/_lineage")

        if concurrent:
            # all sink/counter/lineage jobs read the same cached frame —
            # submit them concurrently so the scheduler overlaps them
            # (tasks of one job fill cores another job's tail leaves
            # idle, and the tiny counter/lineage aggregations hide inside
            # the sink writes instead of serializing after them); manifest
            # updates stay on this thread
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(len(pending) + 2) as ex:
                cfut = ex.submit(write_counters) if need_counters else None
                lfut = ex.submit(write_lineage)
                for rule, path, n, ms in ex.map(write_sink, pending):
                    mc.record_stage(f"sink:{rule.name}", routed_rows, n, ms)
                    manifest.mark_done(f"sink:{rule.name}", rows=n, path=path)
                    completed += 1
                if cfut is not None:
                    cn, cms = cfut.result()
                    mc.record_stage("counters", routed_rows, cn, cms)
                    manifest.mark_done("counters", path=cpath)
                lfut.result()
        else:
            # sequential path keeps deterministic stage order for the
            # fail_after_stage crash-injection hook (resume tests)
            for rule in pending:
                rule, path, n, ms = write_sink(rule)
                mc.record_stage(f"sink:{rule.name}", routed_rows, n, ms)
                manifest.mark_done(f"sink:{rule.name}", rows=n, path=path)
                completed += 1
                if fail_after_stage is not None and completed >= fail_after_stage:
                    raise RuntimeError(
                        f"injected failure after {completed} sink stages"
                    )
            if need_counters:
                cn, cms = write_counters()
                mc.record_stage("counters", routed_rows, cn, cms)
                manifest.mark_done("counters", path=cpath)
            write_lineage()

        _write_metrics(spark, mc, out_dir)
        manifest.mark_done("run", wall_s=time.monotonic() - t0)
    finally:
        routed.unpersist()

    return {
        "in_rows": in_rows_row,
        "routed_rows": routed_rows,
        "wall_s": time.monotonic() - t0,
        "metrics": mc.to_rows(),
        "out_dir": out_dir,
    }
