"""Driver-contract queries: one entry per implemented operator, each with a
DuckDB oracle over the SAME parquet tables.

The transcripts table the pipeline operates on is derived 100%
deterministically from the driver's ``events`` table by a SQL expression
that runs IDENTICALLY on Spark and DuckDB (verified byte-equal) — so every
pipeline query has a true independent oracle.

Column-name discipline: every computed column is aliased identically in
the Spark plan and the oracle SQL (the driver hash-compares values after
sorting columns by name).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from loongcollector_spark.operators import build_operator
from loongcollector_spark.operators.grok import GrokCompiler
from loongcollector_spark.plans.pipeline import (
    DEFAULT_SINK_RULES,
    NGINX_RX,
    transcript_pipeline,
)
from loongcollector_spark.routing import SINK_PREFIX, logstore_router_column

# --------------------------------------------------------------------------
# transcripts derivation — ONE SQL text, runs on both engines byte-equal
# --------------------------------------------------------------------------

TRANSCRIPTS_SQL = """
SELECT conv_id,
  cast(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS INT) AS turn_idx,
  role, text, tool, ts
FROM (
  -- text synthesis lives BELOW the window on purpose: the Window node is
  -- a CollapseProject / predicate-substitution barrier, so every
  -- downstream query sees `text` as a materialized column instead of
  -- inlining this CASE chain into each filter/parse reference (measured:
  -- 29 str_to_map copies + 320 CASE WHENs in one physical plan without
  -- the barrier). Same shape a real deployment has: parse once at scan,
  -- shuffle carries final columns.
  SELECT user_id, event_id, ts,
    'conv_' || lpad(cast(user_id AS STRING), 8, '0') AS conv_id,
    CASE cast(event_id % 4 AS INT) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' WHEN 2 THEN 'tool' ELSE 'system' END AS role,
    CASE WHEN event_id % 4 = 2 THEN
      CASE cast(event_id % 6 AS INT) WHEN 0 THEN 'search' WHEN 1 THEN 'browser' WHEN 2 THEN 'python' WHEN 3 THEN 'calculator' WHEN 4 THEN 'sql' ELSE 'none_registered' END
    ELSE '' END AS tool,
    -- single rawtext reference: the %47 truncation folds into substr len
    substr(
      CASE fmt
        WHEN 0 THEN '10.' || cast(event_id % 250 AS STRING) || '.0.' || cast(user_id % 250 AS STRING) || ' - - [01/Jan/2026:00:00:07 +0000] "' || method || ' ' || path || ' HTTP/1.1" ' || status || ' ' || bytes || ' "-" "agent-bench/1.0"'
        WHEN 1 THEN '{"action":"' || event_type || '","lat_ms":' || lat || ',"ok":' || ok || ',"meta":{"model":"m-base","tok":' || tok || '}}'
        WHEN 2 THEN 'action=' || event_type || '&lat_ms=' || lat || '&ok=' || ok || '&tok=' || tok
        ELSE '10.0.0.' || cast(event_id % 10 AS STRING) || ' ' || method || ' ' || path || ' ' || bytes || ' 0.0' || cast(1 + event_id % 9 AS STRING)
      END,
      1, CASE WHEN event_id % 47 = 0 THEN 9 ELSE 2147483647 END) AS text
  FROM (
    SELECT event_id, user_id, ts, event_type,
      cast(event_id % 7 AS INT) % 4 AS fmt,
      cast(100 + (event_id * 37) % 65436 AS STRING) AS bytes,
      CASE cast(event_id % 6 AS INT) WHEN 0 THEN '500' WHEN 1 THEN '404' WHEN 2 THEN '301' ELSE '200' END AS status,
      CASE cast(event_id % 3 AS INT) WHEN 0 THEN 'GET' WHEN 1 THEN 'POST' ELSE 'PUT' END AS method,
      CASE cast(user_id % 4 AS INT) WHEN 0 THEN '/index.html' WHEN 1 THEN '/api/v1/items' WHEN 2 THEN '/login' ELSE '/healthz' END AS path,
      cast(1 + event_id % 4999 AS STRING) AS lat,
      cast(1 + event_id % 4096 AS STRING) AS tok,
      CASE WHEN event_id % 6 < 3 THEN 'true' ELSE 'false' END AS ok
    FROM events
  ) base
) synth
"""


def _q(s: str) -> str:
    """Escape a regex for embedding in a single-quoted SQL literal."""
    return s.replace("'", "''")


APP_RX, APP_CAPS = GrokCompiler().compile(
    "%{IP:client} %{WORD:method} %{URIPATHPARAM:request} "
    "%{NUMBER:bytes_out:int} %{NUMBER:duration:float}"
)
APP_GIDX = {alias: i for i, alias, _t in APP_CAPS}

# DuckDB CTE implementing the parse+enrich stages (the oracle twin of
# plans/pipeline.parse_stage + enrich_stage)
_ORACLE_PARSED = f"""
p AS (
  SELECT *,
    CASE WHEN text LIKE '{{%' THEN 'json'
         WHEN regexp_matches(text, '^\\S+ \\S+ \\S+ \\[') THEN 'nginx'
         WHEN regexp_matches(text, '^\\w+=[^ ]*&') THEN 'kv'
         WHEN regexp_matches(text, '^\\d+\\.\\d+\\.\\d+\\.\\d+ \\w+ /') THEN 'app'
         ELSE 'unknown' END AS fmt
  FROM t
),
q AS (
  SELECT *,
    CASE fmt WHEN 'json' THEN json_valid(text)
             WHEN 'nginx' THEN regexp_full_match(text, '{_q(NGINX_RX)}')
             WHEN 'kv' THEN true
             WHEN 'app' THEN regexp_full_match(text, '{_q(APP_RX)}')
             ELSE false END AS parse_ok,
    CASE WHEN fmt = 'nginx' AND regexp_full_match(text, '{_q(NGINX_RX)}')
         THEN regexp_extract(text, '{_q(NGINX_RX)}', 8) END AS response_code,
    CASE tool WHEN '' THEN '' WHEN 'search' THEN 'retrieval'
              WHEN 'browser' THEN 'retrieval' WHEN 'python' THEN 'execution'
              WHEN 'calculator' THEN 'execution' WHEN 'sql' THEN 'execution'
              ELSE 'Unknown' END AS tool_category,
    CASE role WHEN 'user' THEN 'ingress' WHEN 'assistant' THEN 'egress'
              WHEN 'system' THEN 'control' WHEN 'tool' THEN 'egress'
              ELSE 'Unknown' END AS route_class
  FROM p
)"""

_ORACLE_T = f"WITH t AS ({TRANSCRIPTS_SQL})"
_ORACLE_TPQ = f"WITH t AS ({TRANSCRIPTS_SQL}),{_ORACLE_PARSED}"


_FIXTURE_CACHE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".fixture_cache",
)


def transcripts_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transcripts input table (input_hint shape: conv_id, turn_idx,
    role, text, tool, ts), materialized ONCE per sf_dir as parquet and
    then READ like the production Iceberg table it stands in for.

    Deriving it inline per query (the round-1/2 shape) meant every
    query's plan embedded the synthesis CASE chain; predicate pushdown
    then substituted that chain into each pushed conjunct (measured 18
    copies in prom_remote_write's scan filter — >64 KB of generated
    code, janino refused, the whole scan stage ran interpreted), and
    queries that pruned the turn_idx window lost the only exchange and
    ran the synth+parse chain on the single scan partition. A real
    deployment parses a STORED text column: materializing restores true
    parquet pushdown/pruning, 32-way scan parallelism, and plans whose
    shape survives 100x scale. The DuckDB oracles keep recomputing the
    same rows from raw events via TRANSCRIPTS_SQL, so the equality gate
    still covers the synthesis itself.

    Cache key = events fixture identity (size+mtime) + the synthesis
    SQL, so driver-side testdata regeneration or a fixture edit rebuilds
    instead of serving stale rows. Concurrent builders race benignly:
    rename is atomic, the loser discards its copy.
    """
    import hashlib

    st = os.stat(f"{sf_dir}/events.parquet")
    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{st.st_size}|{st.st_mtime_ns}|"
        f"{TRANSCRIPTS_SQL}".encode()
    ).hexdigest()[:12]
    path = os.path.join(_FIXTURE_CACHE, f"transcripts_{tag}.parquet")
    if not os.path.exists(path):
        os.makedirs(_FIXTURE_CACHE, exist_ok=True)
        spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView(
            "events")
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        tmp = f"{path}.tmp{os.getpid()}"
        (
            spark.sql(TRANSCRIPTS_SQL)
            # conversation-partitioned, turn-ordered layout — the Iceberg
            # table layout the north rule names (conv_id partition key,
            # stable (conv_id, turn_idx) order within files)
            .repartition(n, "conv_id")
            .sortWithinPartitions("conv_id", "turn_idx")
            .write.mode("overwrite")
            .parquet(tmp)
        )
        try:
            os.rename(tmp, path)
        except OSError:
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(path)


def _materialized(spark, sf_dir, name, build):
    """Materialize a deterministic synthesized payload fixture ONCE per
    sf_dir as parquet, then READ it like the stored ingest column it
    stands in for.

    Same rationale as ``transcripts_from_events``: a real deployment
    parses STORED payloads (OTLP spans, prom exposition text, influx
    lines) out of a landed table — re-synthesizing them inside every
    timed query charges the operator for fixture generation it would
    never do in production. The DuckDB oracles keep recomputing the
    expected fields closed-form from the raw ``events`` table, so the
    equality gate still covers the synthesis end-to-end.

    Cache key = events fixture identity (size+mtime) + the builder's
    source text, so a testdata regeneration or a synthesis edit rebuilds
    instead of serving stale rows. Concurrent builders race benignly
    (atomic rename, loser discards its copy).
    """
    import hashlib
    import inspect

    st = os.stat(f"{sf_dir}/events.parquet")
    extra = getattr(build, "_cache_key_extra", "")
    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{st.st_size}|{st.st_mtime_ns}|"
        f"{inspect.getsource(build)}|{extra}".encode()
    ).hexdigest()[:12]
    path = os.path.join(_FIXTURE_CACHE, f"{name}_{tag}.parquet")
    if not os.path.exists(path):
        os.makedirs(_FIXTURE_CACHE, exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        build(spark, sf_dir).write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(path)


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# --------------------------------------------------------------------------
# pipeline queries (transcripts)
# --------------------------------------------------------------------------

def q_pipeline_sink_counts(spark, sf_dir):
    """FLAGSHIP: full parse→enrich→route→aggregate; per-sink hourly counts.

    Single pass: the sink bits melt into an exploded sink-name column so
    parse+enrich+route runs ONCE and one partial-aggregated shuffle
    produces every sink's counters (vs. 4 filtered re-computations — the
    same one-scan-N-sinks shape run_pipeline uses via persist)."""
    df = transcripts_from_events(spark, sf_dir)
    routed = transcript_pipeline(df)
    sink_names = F.filter(
        F.array(*[
            F.when(F.col(SINK_PREFIX + r.name), F.lit(r.name))
            for r in DEFAULT_SINK_RULES
        ]),
        lambda x: x.isNotNull(),
    )
    return (
        routed.select(
            F.explode(sink_names).alias("sink"),
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            "role",
        )
        .groupBy("sink", "window_start", "role")
        .agg(F.count("*").alias("n_rows"))
    )


_SINK_CONDS = {
    "sink_tool": "tool_category != ''",
    "sink_errors": "(NOT parse_ok) OR (response_code IS NOT NULL AND regexp_full_match(response_code, '5[0-9][0-9]'))",
    "sink_assistant": "role = 'assistant'",
    "sink_default": "true",
}

O_PIPELINE_SINK_COUNTS = _ORACLE_TPQ + "\n" + "\nUNION ALL\n".join(
    f"SELECT '{s}' AS sink, date_trunc('hour', ts) AS window_start, role, "
    f"count(*) AS n_rows FROM q WHERE {cond} GROUP BY 2, 3"
    for s, cond in _SINK_CONDS.items()
)


def q_parse_regex_nginx(spark, sf_dir):
    """processor_parse_regex on the 11-group nginx benchmark pattern."""
    df = transcripts_from_events(spark, sf_dir).filter(F.col("text").contains(" - - ["))
    op = build_operator({
        "Type": "processor_parse_regex", "SourceKey": "text", "Regex": NGINX_RX,
        "Keys": ["ip", "ident", "auth", "time_local", "method", "request",
                 "http_version", "response_code", "bytes_out", "referrer", "user_agent"],
        "KeyTypes": [None, None, None, None, None, None, None, None, "int", None, None],
    })
    return op(df).filter("_parse_ok").select(
        "conv_id", "turn_idx", "ip", "method", "request", "response_code", "bytes_out"
    )


O_PARSE_REGEX_NGINX = _ORACLE_T + f"""
SELECT conv_id, turn_idx,
  regexp_extract(text, '{_q(NGINX_RX)}', 1) AS ip,
  regexp_extract(text, '{_q(NGINX_RX)}', 5) AS method,
  regexp_extract(text, '{_q(NGINX_RX)}', 6) AS request,
  regexp_extract(text, '{_q(NGINX_RX)}', 8) AS response_code,
  cast(regexp_extract(text, '{_q(NGINX_RX)}', 9) AS BIGINT) AS bytes_out
FROM t WHERE contains(text, ' - - [') AND regexp_full_match(text, '{_q(NGINX_RX)}')
"""


def q_parse_json_fields(spark, sf_dir):
    """processor_parse_json with typed schema + nested flatten."""
    df = transcripts_from_events(spark, sf_dir).filter(F.col("text").startswith("{"))
    op = build_operator({
        "Type": "processor_parse_json", "SourceKey": "text",
        "Schema": "action string, lat_ms bigint, ok boolean, meta struct<model:string, tok:bigint>",
    })
    return op(df).filter("_parse_ok").select(
        "conv_id", "turn_idx", "action", "lat_ms",
        F.col("meta_tok").alias("tok"), F.col("meta_model").alias("model"),
    )


O_PARSE_JSON_FIELDS = _ORACLE_T + """
SELECT conv_id, turn_idx,
  json_extract_string(text, '$.action') AS action,
  cast(json_extract_string(text, '$.lat_ms') AS BIGINT) AS lat_ms,
  cast(json_extract_string(text, '$.meta.tok') AS BIGINT) AS tok,
  json_extract_string(text, '$.meta.model') AS model
FROM t WHERE text LIKE '{%' AND json_valid(text)
"""


def q_parse_kv_fields(spark, sf_dir):
    """processor_split_key_value (str_to_map) with typed projection."""
    df = transcripts_from_events(spark, sf_dir).filter(F.col("text").rlike(r"^\w+=[^ ]*&"))
    op = build_operator({
        "Type": "processor_split_key_value", "SourceKey": "text",
        "Delimiter": "&", "Separator": "=", "Keys": ["action", "lat_ms", "ok", "tok"],
    })
    out = op(df).filter("_parse_ok")
    return out.select(
        "conv_id", "turn_idx", "action",
        F.col("lat_ms").try_cast("long").alias("lat_ms"),
        F.col("ok").alias("ok_flag"),
        F.col("tok").try_cast("long").alias("tok"),
    )


O_PARSE_KV_FIELDS = _ORACLE_T + r"""
SELECT conv_id, turn_idx,
  regexp_extract(text, 'action=([^&]*)', 1) AS action,
  cast(regexp_extract(text, 'lat_ms=([^&]*)', 1) AS BIGINT) AS lat_ms,
  regexp_extract(text, 'ok=([^&]*)', 1) AS ok_flag,
  cast(regexp_extract(text, '[&]tok=([^&]*)', 1) AS BIGINT) AS tok
FROM t WHERE regexp_matches(text, '^\w+=[^ ]*&')
"""


def q_grok_app_fields(spark, sf_dir):
    """processor_grok: compiled pattern cascade on the app-line format."""
    df = transcripts_from_events(spark, sf_dir).filter(
        F.col("text").rlike(r"^\d+\.\d+\.\d+\.\d+ \w+ /")
    )
    op = build_operator({
        "Type": "processor_grok", "SourceKey": "text",
        "Match": ["%{IP:client} %{WORD:method} %{URIPATHPARAM:request} "
                  "%{NUMBER:bytes_out:int} %{NUMBER:duration:float}"],
    })
    return op(df).filter("_parse_ok").select(
        "conv_id", "turn_idx", "client", "method", "request", "bytes_out", "duration"
    )


O_GROK_APP_FIELDS = _ORACLE_T + f"""
SELECT conv_id, turn_idx,
  regexp_extract(text, '{_q(APP_RX)}', {APP_GIDX["client"]}) AS client,
  regexp_extract(text, '{_q(APP_RX)}', {APP_GIDX["method"]}) AS method,
  regexp_extract(text, '{_q(APP_RX)}', {APP_GIDX["request"]}) AS request,
  cast(regexp_extract(text, '{_q(APP_RX)}', {APP_GIDX["bytes_out"]}) AS BIGINT) AS bytes_out,
  cast(regexp_extract(text, '{_q(APP_RX)}', {APP_GIDX["duration"]}) AS DOUBLE) AS duration
FROM t WHERE regexp_matches(text, '^\\d+\\.\\d+\\.\\d+\\.\\d+ \\w+ /')
  AND regexp_full_match(text, '{_q(APP_RX)}')
"""


def q_filter_expression(spark, sf_dir):
    """processor_filter EXPRESSION AST + full-match semantics."""
    df = transcripts_from_events(spark, sf_dir)
    op = build_operator({
        "Type": "processor_filter",
        "ConditionExp": {
            "operator": "and",
            "operands": [
                {"key": "role", "exp": "assistant|tool"},
                {"operator": "not", "operands": [{"key": "tool", "exp": ".+"}]},
            ],
        },
    })
    return op(df).select("conv_id", "turn_idx", "role")


O_FILTER_EXPRESSION = _ORACLE_T + """
SELECT conv_id, turn_idx, role FROM t
WHERE regexp_full_match(role, 'assistant|tool') AND NOT regexp_full_match(tool, '.+')
"""


def q_dict_map_categories(spark, sf_dir):
    """processor_dict_map enrichment → per-category counts."""
    from loongcollector_spark.plans.pipeline import enrich_stage

    df = enrich_stage(transcripts_from_events(spark, sf_dir))
    return df.groupBy("tool_category", "route_class").agg(
        F.count("*").alias("n_rows")
    )


O_DICT_MAP_CATEGORIES = _ORACLE_TPQ + """
SELECT tool_category, route_class, count(*) AS n_rows FROM q GROUP BY 1, 2
"""


def q_route_first_match(spark, sf_dir):
    """aggregator_logstore_router: ordered regex rules, full-match,
    first-match-wins, default sink."""
    from loongcollector_spark.plans.pipeline import parse_stage

    df = parse_stage(transcripts_from_events(spark, sf_dir))
    sink = logstore_router_column(
        "response_code",
        [(r"5\d\d", "errors"), (r"4\d\d", "client_err"), (r"\d+", "ok_codes")],
        default="unrouted",
    )
    return df.withColumn("sink_name", sink).groupBy("sink_name").agg(
        F.count("*").alias("n_rows")
    )


O_ROUTE_FIRST_MATCH = _ORACLE_TPQ + r"""
SELECT CASE
    WHEN response_code IS NOT NULL AND regexp_full_match(response_code, '5\d\d') THEN 'errors'
    WHEN response_code IS NOT NULL AND regexp_full_match(response_code, '4\d\d') THEN 'client_err'
    WHEN response_code IS NOT NULL AND regexp_full_match(response_code, '\d+') THEN 'ok_codes'
    ELSE 'unrouted' END AS sink_name,
  count(*) AS n_rows
FROM q GROUP BY 1
"""


def q_fields_with_condition(spark, sf_dir):
    """processor_fields_with_condition: first-match-wins switch-case."""
    from loongcollector_spark.plans.pipeline import parse_stage

    df = parse_stage(transcripts_from_events(spark, sf_dir))
    op = build_operator({
        "Type": "processor_fields_with_condition",
        "Switch": [
            {"Condition": {"FieldConditions": [
                {"Key": "response_code", "ComparisonOperator": "startwith", "Value": "5"}]},
             "Actions": [{"type": "processor_add_fields", "Fields": {"severity": "high"}}]},
            {"Condition": {"FieldConditions": [
                {"Key": "response_code", "ComparisonOperator": "startwith", "Value": "4"}]},
             "Actions": [{"type": "processor_add_fields", "Fields": {"severity": "mid"}}]},
            {"Condition": {"FieldConditions": [
                {"Key": "_parse_ok", "ComparisonOperator": "equals", "Value": "true"}]},
             "Actions": [{"type": "processor_add_fields", "Fields": {"severity": "low"}}]},
        ],
    })
    return op(df).groupBy(
        F.coalesce(F.col("severity"), F.lit("none")).alias("severity")
    ).agg(F.count("*").alias("n_rows"))


O_FIELDS_WITH_CONDITION = _ORACLE_TPQ + """
SELECT CASE
    WHEN response_code IS NOT NULL AND starts_with(response_code, '5') THEN 'high'
    WHEN response_code IS NOT NULL AND starts_with(response_code, '4') THEN 'mid'
    WHEN parse_ok THEN 'low'
    ELSE 'none' END AS severity,
  count(*) AS n_rows
FROM q GROUP BY 1
"""


def q_desensitize_md5(spark, sf_dir):
    """processor_desensitize md5 mode (whole value) + processor_md5."""
    df = transcripts_from_events(spark, sf_dir).filter("role = 'user'")
    op = build_operator({"Type": "processor_md5", "SourceKey": "text", "MD5Key": "text_md5"})
    return op(df).select("conv_id", "turn_idx", "text_md5")


O_DESENSITIZE_MD5 = _ORACLE_T + """
SELECT conv_id, turn_idx, md5(text) AS text_md5 FROM t WHERE role = 'user'
"""


def q_rate_limit(spark, sf_dir):
    """processor_rate_limit, deterministic batch variant: ≤3 per
    (role, hour window) in stable event-time order."""
    df = transcripts_from_events(spark, sf_dir)
    op = build_operator({
        "Type": "processor_rate_limit", "Fields": ["role"], "Limit": "3/h",
        "OrderKeys": ["conv_id", "turn_idx"],
    })
    return op(df).groupBy("role").agg(F.count("*").alias("n_admitted"))


O_RATE_LIMIT = _ORACLE_T + """
SELECT role, count(*) AS n_admitted FROM (
  SELECT role, row_number() OVER (
      PARTITION BY role, date_trunc('hour', ts)
      ORDER BY ts, conv_id, turn_idx) AS rn
  FROM t
) WHERE rn <= 3 GROUP BY role
"""


def q_shardhash_distribution(spark, sf_dir):
    """aggregator_shardhash semantics with an engine-portable hash
    (md5-byte bucket) so the oracle can reproduce the distribution."""
    df = transcripts_from_events(spark, sf_dir)
    h = F.md5(F.col("conv_id").cast("binary"))
    bucket = (
        F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))
    ) % 32
    return (
        df.withColumn("bucket", bucket.cast("int"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_rows"), F.countDistinct("conv_id").alias("n_convs"))
    )


O_SHARDHASH_DISTRIBUTION = _ORACLE_T + """
SELECT cast((ascii(substr(md5(conv_id), 1, 1)) * 256 + ascii(substr(md5(conv_id), 2, 1))) % 32 AS INT) AS bucket,
  count(*) AS n_rows, count(DISTINCT conv_id) AS n_convs
FROM t GROUP BY 1
"""


def q_logstore_router_agg(spark, sf_dir):
    """aggregator_logstore_router through the config front-end: FULL-match
    first-wins regex routing on role ('assi.*' wins before '.*t' for
    'assistant'), unmatched roles land in the default '' logstore
    (aggregator_router.go:98-112)."""
    df = transcripts_from_events(spark, sf_dir)
    op = build_operator({
        "Type": "aggregator_logstore_router", "SourceKey": "role",
        "RouterRegex": ["assi.*", ".*t", "user"],
        "RouterLogstore": ["ls_assistant", "ls_t", "ls_user"],
        "Topic": "routed",
    })
    return op(df).groupBy("__logstore__", "__topic__").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("conv_id").alias("n_convs"),
    )


O_LOGSTORE_ROUTER_AGG = _ORACLE_T + """
SELECT CASE
    WHEN regexp_full_match(role, 'assi.*') THEN 'ls_assistant'
    WHEN regexp_full_match(role, '.*t') THEN 'ls_t'
    WHEN regexp_full_match(role, 'user') THEN 'ls_user'
    ELSE '' END AS __logstore__,
  'routed' AS __topic__,
  count(*) AS n_rows, count(DISTINCT conv_id) AS n_convs
FROM t GROUP BY 1, 2
"""


def q_shardhash_agg_contract(spark, sf_dir):
    """aggregator_shardhash through the config front-end: every
    (conv_id, role) key combo hashes to exactly ONE of ShardCount
    buckets (selectShardAgg is a pure function of the joined source
    value, aggregator_shardhash.go:157-161). The hash itself is
    engine-local (xxhash64); the oracle pins the functional contract +
    per-key row totals, the distribution is pinned by
    shardhash_distribution."""
    df = transcripts_from_events(spark, sf_dir)
    op = build_operator({
        "Type": "aggregator_shardhash", "SourceKeys": ["conv_id", "role"],
        "ShardCount": 16, "Connector": "_",
    })
    out = op(df)
    per_key = out.groupBy("conv_id", "role").agg(
        F.countDistinct("__shardhash__").alias("n_buckets"),
        F.count("*").alias("n_rows"),
        F.max("__shardhash__").alias("b"),
    )
    return per_key.select(
        "conv_id", "role", "n_buckets", "n_rows",
        ((F.col("b") >= 0) & (F.col("b") < 16)).alias("in_range"),
    )


O_SHARDHASH_AGG_CONTRACT = _ORACLE_T + """
SELECT conv_id, role, cast(1 AS BIGINT) AS n_buckets,
  count(*) AS n_rows, true AS in_range
FROM t GROUP BY conv_id, role
"""


def q_window_hourly_counts(spark, sf_dir):
    """event-time tumbling-window counters (Batcher/flush analog)."""
    df = transcripts_from_events(spark, sf_dir)
    return (
        df.groupBy(F.date_trunc("hour", F.col("ts")).alias("window_start"), "role")
        .agg(F.count("*").alias("n_rows"))
    )


O_WINDOW_HOURLY_COUNTS = _ORACLE_T + """
SELECT date_trunc('hour', ts) AS window_start, role, count(*) AS n_rows
FROM t GROUP BY 1, 2
"""


def q_merge_conversation(spark, sf_dir):
    """processor_merge_multiline analog: merge turns per conversation in
    stable turn order; fingerprint the merged text."""
    df = transcripts_from_events(spark, sf_dir)
    op = build_operator({"Type": "processor_merge_conversation"})
    out = op(df)
    return out.select(
        "conv_id", "n_turns", "ts_first", "ts_last",
        F.md5(F.col("merged_text").cast("binary")).alias("merged_md5"),
    )


O_MERGE_CONVERSATION = _ORACLE_T + """
SELECT conv_id, count(*) AS n_turns, min(ts) AS ts_first, max(ts) AS ts_last,
  md5(string_agg(text, chr(10) ORDER BY turn_idx)) AS merged_md5
FROM t GROUP BY conv_id
"""


def q_pack_id_lineage(spark, sf_dir):
    """deterministic __pack_id__ lineage ids (aggregator_base __pack_id__
    analog): distinct pack ids per conversation at block=8."""
    from loongcollector_spark.aggregate import with_pack_id

    df = with_pack_id(transcripts_from_events(spark, sf_dir), block=8)
    return df.groupBy("conv_id").agg(
        F.countDistinct("__pack_id__").alias("n_packs"),
        F.min("__pack_id__").alias("first_pack_id"),
    )


O_PACK_ID_LINEAGE = _ORACLE_T + """
SELECT conv_id, count(DISTINCT pack_id) AS n_packs, min(pack_id) AS first_pack_id
FROM (
  SELECT conv_id,
    substr(md5(conv_id), 1, 16) || '-' || printf('%x', cast(floor(turn_idx / 8) AS BIGINT)) AS pack_id
  FROM t
) GROUP BY conv_id
"""


def q_aggregator_base_packs(spark, sf_dir):
    """aggregator_base through the config front-end: MaxLogCount=8 group
    cap + Topic tag (aggregator_base.go:26-29,40-47). Verifies the chunk
    semantics exactly — every pack holds 8 logs except a conversation's
    last (min_fill/max_fill), pack ids are the md5-prefix + hex-seq
    lineage format, and __topic__ lands on every row."""
    df = transcripts_from_events(spark, sf_dir)
    op = build_operator({"Type": "aggregator_base", "MaxLogCount": 8,
                         "Topic": "transcripts"})
    packed = op(df)
    per_pack = packed.groupBy("conv_id", "__pack_id__", "__topic__").agg(
        F.count("*").alias("fill"))
    return per_pack.groupBy("conv_id").agg(
        F.count("*").alias("n_packs"),
        F.sum("fill").alias("n_logs"),
        F.max("fill").alias("max_fill"),
        F.min("fill").alias("min_fill"),
        F.min("__pack_id__").alias("first_pack_id"),
        F.min("__topic__").alias("topic"),
    )


O_AGGREGATOR_BASE_PACKS = _ORACLE_T + """
, r AS (
  SELECT conv_id,
    substr(md5(conv_id), 1, 16) || '-' || printf('%x',
      cast(floor((row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) - 1) / 8)
           AS BIGINT)) AS pack_id
  FROM t
), p AS (
  SELECT conv_id, pack_id, count(*) AS fill FROM r GROUP BY 1, 2
)
SELECT conv_id, count(*) AS n_packs, cast(sum(fill) AS BIGINT) AS n_logs,
  max(fill) AS max_fill, min(fill) AS min_fill,
  min(pack_id) AS first_pack_id, 'transcripts' AS topic
FROM p GROUP BY conv_id
"""


def _synth_lumberjack_blobs(spark, sf_dir):
    """Deterministic lumberjack-v2 client batches from the events table:
    events in event_id order, 256 per batch; each batch blob is a window
    frame plus ONE compressed ('2C') frame holding the 2J JSON frames
    (seq 1..n within the batch) — the shape go-lumber clients actually
    send. JSON text is closed-form from (event_id, event_type) so the
    DuckDB oracle can rebuild it byte-for-byte."""
    import struct as _struct
    import zlib

    import pandas as pd

    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["event_id", "event_type"]
    ).sort_values("event_id")
    blobs = []
    ids = ev["event_id"].to_numpy()
    types = ev["event_type"].to_numpy()
    for start in range(0, len(ids), 256):
        frames = []
        for seq0, i in enumerate(range(start, min(start + 256, len(ids)))):
            payload = (
                f'{{"event_id":{ids[i]},"event_type":"{types[i]}"}}'
            ).encode()
            frames.append(
                b"2J" + _struct.pack(">II", seq0 + 1, len(payload)) + payload
            )
        comp = zlib.compress(b"".join(frames), 6)
        blobs.append(
            b"2W" + _struct.pack(">I", 256)
            + b"2C" + _struct.pack(">I", len(comp)) + comp
        )
    return spark.createDataFrame(
        pd.DataFrame({"batch_idx": range(len(blobs)), "content": blobs}),
        "batch_idx long, content binary",
    )


def q_lumberjack_decode(spark, sf_dir):
    """service_lumberjack wire decode: window/compressed/JSON frame walk
    over synthesized v2 client batches; seq + raw-JSON content are
    hash-checked against the oracle's closed-form reconstruction — the
    framing (batch boundaries, in-batch sequence, zlib inflation) is
    verified end-to-end, not just the JSON text."""
    blobs = _materialized(
        spark, sf_dir, "lumberjack_blobs", _synth_lumberjack_blobs)
    op = build_operator({"Type": "service_lumberjack", "V2": True})
    out = op(blobs)
    return out.select(
        F.col("seq"),
        F.md5(F.col("content").cast("binary")).alias("content_md5"),
    )


O_LUMBERJACK_DECODE = """
SELECT cast((row_number() OVER (ORDER BY event_id) - 1) % 256 + 1 AS BIGINT) AS seq,
  md5('{"event_id":' || event_id || ',"event_type":"' || event_type || '"}')
    AS content_md5
FROM events
"""


def q_nginx_status(spark, sf_dir):
    """metric_nginx_status decode: synthesized stub_status bodies (one
    probe target per user, counters closed-form from user_id) through
    the codegen parse; the oracle recomputes every field + tag directly
    — probing contract (input_nginx.go:114-191) checked end-to-end."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    probes = ev.groupBy("user_id").agg(F.count("*").alias("n")).select(
        F.concat(F.lit("http://web-"), F.col("user_id").cast("string"),
                 F.lit(":8080/status")).alias("url"),
        F.concat(
            F.lit("Active connections: "), F.col("n").cast("string"),
            F.lit(" \nserver accepts handled requests\n "),
            (F.col("n") * 3).cast("string"), F.lit(" "),
            (F.col("n") * 2).cast("string"), F.lit(" "),
            (F.col("n") * 5).cast("string"),
            F.lit(" \nReading: "), (F.col("n") % 7).cast("string"),
            F.lit(" Writing: "), (F.col("n") % 11).cast("string"),
            F.lit(" Waiting: "), (F.col("n") % 13).cast("string"),
            F.lit(" \n"),
        ).alias("content"),
    )
    op = build_operator({"Type": "metric_nginx_status"})
    return op(probes)


O_NGINX_STATUS = """
SELECT 'web-' || user_id AS _server_, '8080' AS _port_,
  cast(n AS VARCHAR) AS active,
  cast(n * 3 AS VARCHAR) AS accepts,
  cast(n * 2 AS VARCHAR) AS handled,
  cast(n * 5 AS VARCHAR) AS requests,
  cast(n % 7 AS VARCHAR) AS reading,
  cast(n % 11 AS VARCHAR) AS writing,
  cast(n % 13 AS VARCHAR) AS waiting
FROM (SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
"""


def q_pyroscope_profiles(spark, sf_dir):
    """pyroscope groups-format ingest: one synthesized profile body per
    user (stack lines closed-form from per-event-type counts) through
    the service_http_server pyroscope decoder; every contract field
    except stackID is oracle-recomputed (stackID is XXH64-seed-0, which
    DuckDB cannot express — it is pinned by unit-test vectors instead)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n"))
    bodies = per_type.groupBy("user_id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct(
                    "event_type",
                    F.concat(
                        F.lit("app;user_"), F.col("user_id").cast("string"),
                        F.lit(";"), F.col("event_type"), F.lit(" "),
                        F.col("n").cast("string"),
                    ).alias("_l"),
                ))),
                lambda s: s["_l"],
            ),
        ).alias("content")
    )
    op = build_operator({
        "Type": "service_http_server", "Format": "pyroscope",
        "SpyName": "go", "Units": "samples", "SampleRate": 100,
        "AggregationType": "sum", "StartTimeSec": 1700000000,
        "EndTimeSec": 1700000060,
        "Tags": {"profile_id": "bench-profile", "app": "transcripts"},
    })
    return op(bodies).drop("stackID")


O_PYROSCOPE_PROFILES = """
SELECT 1700000000 AS time_sec,
  event_type AS name,
  'user_' || user_id || chr(10) || 'app' AS stack,
  'go' AS language, 'profile_cpu' AS type, 'nanoseconds' AS units,
  'cpu' AS valueTypes, 'sum' AS aggTypes, 'CallStack' AS dataType,
  '60000000000' AS durationNs, 'bench-profile' AS profileID,
  '{"app":"transcripts","profile_id":"bench-profile"}' AS labels,
  printf('%.2f', cast(count(*) * 10000000 AS DOUBLE)) AS val
FROM events GROUP BY user_id, event_type
"""


def q_conv_transitions(spark, sf_dir):
    """Agent-loop transition matrix: role → next-role counts across all
    conversations, in stable (conv_id, turn_idx) order — the Markov view
    of the transcript corpus (which roles hand off to which). One window
    shuffle on conv_id, then a tiny (role, next_role) partial-agg."""
    from pyspark.sql import Window

    df = transcripts_from_events(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        df.select("role", F.lead("role").over(w).alias("next_role"))
        .filter(F.col("next_role").isNotNull())
        .groupBy("role", "next_role")
        .agg(F.count("*").alias("n"))
    )


O_CONV_TRANSITIONS = _ORACLE_T + """
SELECT role, next_role, count(*) AS n FROM (
  SELECT role,
    lead(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_role
  FROM t
) WHERE next_role IS NOT NULL
GROUP BY role, next_role
"""


def q_tool_pagerank(spark, sf_dir):
    """Integer-exact PageRank over the tool-handoff graph (node = tool
    if set else role, edges = consecutive turns per conversation): 3
    quantized rounds — per-edge (rank·w) DIV out, per-node base +
    (850·Σ) DIV 1000 — replayed to equality by the unrolled oracle."""
    from pyspark.sql import Window

    from loongcollector_spark.functions.graph import pagerank_int

    df = transcripts_from_events(spark, sf_dir)
    node = F.when(
        F.col("tool").isNotNull() & (F.col("tool") != ""), F.col("tool")
    ).otherwise(F.col("role"))
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    steps = df.select(node.alias("src"),
                      F.lead(node).over(w).alias("dst"))
    edges = (
        steps.filter(F.col("dst").isNotNull())
        .groupBy("src", "dst").agg(F.count("*").alias("c"))
    )
    return pagerank_int(edges, iters=3)


def _pagerank_oracle(iters: int, damping_milli: int = 850) -> str:
    base = (1000 - damping_milli) * 1_000_000 // 1000
    head = _ORACLE_T + """
, steps AS (
  SELECT CASE WHEN tool IS NOT NULL AND tool <> '' THEN tool ELSE role END
           AS src,
    lead(CASE WHEN tool IS NOT NULL AND tool <> '' THEN tool ELSE role END)
      OVER (PARTITION BY conv_id ORDER BY turn_idx) AS dst
  FROM t
),
edges AS (
  SELECT src, dst, count(*) AS c FROM steps WHERE dst IS NOT NULL
  GROUP BY src, dst
),
nodes AS (
  SELECT DISTINCT node FROM
    (SELECT src AS node FROM edges UNION SELECT dst FROM edges)
),
o AS (SELECT src, sum(c) AS outn FROM edges GROUP BY src),
e AS (SELECT edges.*, o.outn FROM edges JOIN o USING (src)),
p0 AS (SELECT node, cast(1000000 AS BIGINT) AS p FROM nodes)"""
    parts = [head]
    for t in range(1, iters + 1):
        parts.append(f""",
s{t} AS (
  SELECT e.dst AS node, sum((p.p * e.c) // e.outn) AS sm
  FROM e JOIN p{t - 1} p ON p.node = e.src GROUP BY e.dst
),
p{t} AS (
  SELECT n.node,
    cast({base} + ({damping_milli} * coalesce(s.sm, 0)) // 1000 AS BIGINT)
      AS p
  FROM nodes n LEFT JOIN s{t} s USING (node)
)""")
    parts.append(f"""
SELECT node, p AS rank_micro FROM p{iters}""")
    return "".join(parts)


O_TOOL_PAGERANK = _pagerank_oracle(3)


def q_conv_shape_dedup(spark, sf_dir):
    """Structural conversation dedup: fingerprint each conversation by the
    ordered (role/tool) SHAPE of its opening turns (text ignored,
    turn_idx < 4) and count conversations per shape — the
    curriculum-diversity signal a training pipeline uses to cap
    over-represented agent-loop templates / boilerplate openings.
    Ordered merge uses the same sort_array(collect_list(struct))
    contract as processor_merge_conversation; the prefix filter prunes
    rows BEFORE the conv_id shuffle, and only 16-byte fingerprints
    shuffle again."""
    df = transcripts_from_events(spark, sf_dir).filter(F.col("turn_idx") < 4)
    shape = (
        df.groupBy("conv_id")
        .agg(
            F.md5(
                F.concat_ws(
                    "|",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    "turn_idx",
                                    F.concat_ws("/", "role", "tool").alias("_s"),
                                )
                            )
                        ),
                        lambda s: s["_s"],
                    ),
                ).cast("binary")
            ).alias("shape_fp")
        )
    )
    return shape.groupBy("shape_fp").agg(
        F.count("*").alias("n_convs"),
        F.min("conv_id").alias("canonical_conv"),
    )


O_CONV_SHAPE_DEDUP = _ORACLE_T + """
, s AS (
  SELECT conv_id,
    md5(string_agg(role || '/' || tool, '|' ORDER BY turn_idx)) AS shape_fp
  FROM t WHERE turn_idx < 4 GROUP BY conv_id
)
SELECT shape_fp, count(*) AS n_convs, min(conv_id) AS canonical_conv
FROM s GROUP BY shape_fp
"""


def q_tool_retry_funnel(spark, sf_dir):
    """Tool-retry funnel: among tool turns in turn order, how often is a
    tool's next tool call in the same conversation the SAME tool (an
    immediate retry)? Per tool: calls, retries, milli-quantized retry
    rate. The window shuffles only (conv_id, turn_idx, tool) for tool
    turns; the final agg is a handful of rows."""
    from pyspark.sql import Window

    df = transcripts_from_events(spark, sf_dir).filter(F.col("role") == "tool")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    s = df.select("tool", F.lead("tool").over(w).alias("next_tool"))
    retries = F.sum(
        F.when(F.col("next_tool") == F.col("tool"), 1).otherwise(0)
    ).cast("long")
    return s.groupBy("tool").agg(
        F.count("*").alias("n_calls"),
        retries.alias("n_retries"),
        F.floor(
            retries * 1000
            / F.count("*")
        ).cast("int").alias("retry_rate_milli"),
    )


O_TOOL_RETRY_FUNNEL = _ORACLE_T + """
, s AS (
  SELECT tool,
    lead(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_tool
  FROM t WHERE role = 'tool'
)
SELECT tool, count(*) AS n_calls,
  cast(sum(CASE WHEN next_tool = tool THEN 1 ELSE 0 END) AS BIGINT) AS n_retries,
  cast(floor(1000 * sum(CASE WHEN next_tool = tool THEN 1 ELSE 0 END)
             / count(*)) AS INT) AS retry_rate_milli
FROM s GROUP BY tool
"""


# --------------------------------------------------------------------------
# training-data pipeline queries (documents / embeddings)
# --------------------------------------------------------------------------

def q_parse_delimiter_quoted(spark, sf_dir):
    """processor_parse_delimiter with Quote (the FSM/from_csv path):
    CSV text derived deterministically from events on both engines."""
    df = transcripts_from_events(spark, sf_dir).filter("role = 'tool'")
    df = df.withColumn(
        "csv_line",
        F.concat(F.col("conv_id"), F.lit(',"'), F.col("tool"), F.lit('",'),
                 F.col("turn_idx").cast("string")),
    )
    op = build_operator({
        "Type": "processor_parse_delimiter", "SourceKey": "csv_line",
        "Separator": ",", "Quote": '"', "Keys": ["cid", "tool_q", "tix"],
    })
    return op(df).select(
        "conv_id", "turn_idx", "cid", "tool_q",
        F.col("tix").cast("int").alias("tix"),
    )


O_PARSE_DELIMITER_QUOTED = _ORACLE_T + """
SELECT conv_id, turn_idx, conv_id AS cid, tool AS tool_q,
  cast(turn_idx AS INT) AS tix
FROM t WHERE role = 'tool'
"""


def q_string_replace_mask(spark, sf_dir):
    """processor_string_replace + desensitize: regex-mask digits in user
    text, md5 the rest (const replace + hash modes in one chain)."""
    df = transcripts_from_events(spark, sf_dir).filter("role = 'user'")
    chain = [
        {"Type": "processor_string_replace", "SourceKey": "text",
         "Method": "regex", "Match": r"\d", "ReplaceString": "*",
         "DestKey": "masked"},
        {"Type": "processor_md5", "SourceKey": "masked", "MD5Key": "masked_md5"},
    ]
    out = df
    for cfg in chain:
        out = build_operator(cfg)(out)
    return out.select("conv_id", "turn_idx", "masked_md5")


O_STRING_REPLACE_MASK = _ORACLE_T + r"""
SELECT conv_id, turn_idx, md5(regexp_replace(text, '\d', '*', 'g')) AS masked_md5
FROM t WHERE role = 'user'
"""


def q_anchor_extract(spark, sf_dir):
    """processor_anchor: substring between Start/Stop literals on the
    nginx request line ('"GET ' ... ' HTTP')."""
    df = transcripts_from_events(spark, sf_dir).filter(
        F.col("text").contains(' - - [')
    )
    op = build_operator({
        "Type": "processor_anchor", "SourceKey": "text",
        "Anchors": [{"Start": '"', "Stop": ' HTTP/1.1"', "FieldName": "req_line"}],
    })
    return op(df).select("conv_id", "turn_idx", "req_line")


O_ANCHOR_EXTRACT = _ORACLE_T + """
SELECT conv_id, turn_idx,
  CASE WHEN strpos(text, '"') > 0 AND strpos(text, ' HTTP/1.1"') > strpos(text, '"')
       THEN substr(text, strpos(text, '"') + 1,
                   strpos(text, ' HTTP/1.1"') - strpos(text, '"') - 1)
  END AS req_line
FROM t WHERE contains(text, ' - - [')
"""


def q_parse_apsara_fields(spark, sf_dir):
    """processor_parse_apsara: bracketed-header + tab-KV format, built
    deterministically from events on both engines."""
    df = transcripts_from_events(spark, sf_dir).filter("role = 'system'")
    df = df.withColumn(
        "apsara_line",
        F.concat(
            F.lit("[2026-01-01 00:00:00.123456]\t[INFO]\t["),
            F.col("turn_idx").cast("string"),
            F.lit("]\t[pipeline.cpp:42]\tconv:"), F.col("conv_id"),
            F.lit("\tturn:"), F.col("turn_idx").cast("string"),
        ),
    )
    op = build_operator({
        "Type": "processor_parse_apsara", "SourceKey": "apsara_line",
    })
    out = op(df).filter("_parse_ok")
    return out.select(
        "conv_id", "turn_idx",
        F.col("__LEVEL__").alias("level"),
        F.col("__THREAD__").alias("thread_id"),
        F.col("__FILE__").alias("src_file"),
        F.col("__LINE__").alias("src_line"),
        F.col("attrs").getItem("conv").alias("conv_attr"),
    )


O_PARSE_APSARA_FIELDS = _ORACLE_T + """
SELECT conv_id, turn_idx, 'INFO' AS level,
  cast(turn_idx AS BIGINT) AS thread_id,
  'pipeline.cpp' AS src_file, cast(42 AS BIGINT) AS src_line,
  conv_id AS conv_attr
FROM t WHERE role = 'system'
"""


def q_strptime_roundtrip(spark, sf_dir):
    """processor_strptime / parse_timestamp: format the event time to a
    string, parse it back, emit epoch seconds (must equal the original)."""
    df = transcripts_from_events(spark, sf_dir)
    df = df.withColumn("ts_str", F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
    op = build_operator({
        "Type": "processor_parse_timestamp", "SourceKey": "ts_str",
        "SourceFormat": "yyyy-MM-dd HH:mm:ss", "DestKey": "ts_parsed",
        "DropIfFail": True,
    })
    return op(df).select(
        "conv_id", "turn_idx",
        F.unix_timestamp("ts_parsed").alias("unix_s"),
    )


O_STRPTIME_ROUNDTRIP = _ORACLE_T + """
SELECT conv_id, turn_idx, cast(floor(epoch(ts)) AS BIGINT) AS unix_s FROM t
"""


def q_log_to_metric(spark, sf_dir):
    """processor_log_to_sls_metric: kv rows reshape into metric events
    (__name__/__labels__/__value__/__time_nano__, labels key-sorted).

    ONE derivation: the kv parse keeps every upstream column, so ``role``
    rides along and no (conv_id, turn_idx) self-join is needed (round 2
    derived the transcripts twice — two window shuffles + a sort-merge
    join — for columns the parse already carries)."""
    df = transcripts_from_events(spark, sf_dir).filter(
        F.col("text").rlike(r"^\w+=[^ ]*&")
    )
    kv = build_operator({
        "Type": "processor_split_key_value", "SourceKey": "text",
        "Delimiter": "&", "Separator": "=", "Keys": ["action", "lat_ms", "ok", "tok"],
    })
    df = kv(df).filter("_parse_ok").select(
        "role", "action", "ts",
        F.col("lat_ms").try_cast("long").alias("lat_ms"),
        F.col("tok").try_cast("long").alias("tok"),
    )
    op = build_operator({
        "Type": "processor_log_to_metric",
        "MetricLabelKeys": ["role", "action"],
        "MetricValues": {"latency_ms": "lat_ms", "tokens": "tok"},
    })
    return op(df).groupBy("__name__", "__labels__").agg(
        F.sum("__value__").alias("value_sum"),
        F.count("*").alias("n_points"),
    )


O_LOG_TO_METRIC = _ORACLE_T + r"""
, kv AS (
  SELECT role,
    regexp_extract(text, 'action=([^&]*)', 1) AS action,
    cast(regexp_extract(text, 'lat_ms=([^&]*)', 1) AS BIGINT) AS lat_ms,
    cast(regexp_extract(text, '[&]tok=([^&]*)', 1) AS BIGINT) AS tok
  FROM t WHERE regexp_matches(text, '^\w+=[^ ]*&')
), m AS (
  SELECT 'latency_ms' AS __name__,
    'action=' || action || '|role=' || role AS __labels__,
    cast(lat_ms AS DOUBLE) AS v FROM kv
  UNION ALL
  SELECT 'tokens', 'action=' || action || '|role=' || role,
    cast(tok AS DOUBLE) FROM kv
)
SELECT __name__, __labels__, sum(v) AS value_sum, count(*) AS n_points
FROM m GROUP BY 1, 2
"""


def q_content_value_group(spark, sf_dir):
    """aggregator_content_value_group: the operator groups (co-locates)
    events per distinct (role, tool) combo WITHOUT dropping any
    (aggregator_content_value_group.go:160-177); the count here is the
    harness's check that every event landed in exactly one group."""
    df = transcripts_from_events(spark, sf_dir)
    op = build_operator({
        "Type": "aggregator_content_value_group", "GroupKeys": ["role", "tool"],
    })
    return op(df).groupBy("role", "tool").agg(
        F.count("*").alias("group_count"))


O_CONTENT_VALUE_GROUP = _ORACLE_T + """
SELECT role, tool, count(*) AS group_count FROM t GROUP BY 1, 2
"""


def q_spl_pipeline(spark, sf_dir):
    """SPL front-end (processor_spl analog): where + parse-kv + extend +
    project over the transcripts table, compiled to one Catalyst plan."""
    from loongcollector_spark.spl import spl_run

    df = transcripts_from_events(spark, sf_dir)
    out = spl_run(df, r"""
* | where regexp_like(text, '^\w+=[^ ]*&.*')
  | parse-kv -delims='&' text
  | extend lat_bucket = cast(cast(lat_ms as bigint) / 1000 as bigint)
  | project conv_id, turn_idx, action, lat_bucket, ok
""")["out"]
    return out.withColumnRenamed("ok", "ok_flag")


O_SPL_PIPELINE = _ORACLE_T + r"""
SELECT conv_id, turn_idx,
  regexp_extract(text, 'action=([^&]*)', 1) AS action,
  cast(floor(cast(regexp_extract(text, 'lat_ms=([^&]*)', 1) AS BIGINT) / 1000) AS BIGINT) AS lat_bucket,
  regexp_extract(text, 'ok=([^&]*)', 1) AS ok_flag
FROM t WHERE regexp_matches(text, '^\w+=[^ ]*&')
"""


GEO_RANGES = [
    ["10.0.0.0", "10.63.255.255", "CN", "Zhejiang", "Hangzhou"],
    ["10.64.0.0", "10.127.255.255", "CN", "Beijing", "Beijing"],
    ["10.128.0.0", "10.191.255.255", "US", "CA", "SF"],
    ["10.192.0.0", "10.255.255.255", "DE", "BE", "Berlin"],
]


def q_geoip_enrich(spark, sf_dir):
    """processor_geoip: broadcast range join ip→(country,province,city)."""
    df = q_parse_regex_nginx(spark, sf_dir)
    op = build_operator({
        "Type": "processor_geoip", "SourceKey": "ip", "Ranges": GEO_RANGES,
    })
    return op(df).groupBy("ip_country", "ip_province", "ip_city").agg(
        F.count("*").alias("n_rows")
    )


O_GEOIP_ENRICH = _ORACLE_T + f"""
, nginx AS (
  SELECT regexp_extract(text, '{_q(NGINX_RX)}', 1) AS ip
  FROM t WHERE contains(text, ' - - [') AND regexp_full_match(text, '{_q(NGINX_RX)}')
), ipn AS (
  SELECT cast(string_split(ip, '.')[1] AS BIGINT) * 16777216
       + cast(string_split(ip, '.')[2] AS BIGINT) * 65536
       + cast(string_split(ip, '.')[3] AS BIGINT) * 256
       + cast(string_split(ip, '.')[4] AS BIGINT) AS ip_num FROM nginx
), ranges(lo, hi, ip_country, ip_province, ip_city) AS (VALUES
""" + ",\n".join(
    f"  ({(lambda q: sum(int(o) * 256 ** (3 - i) for i, o in enumerate(q.split('.'))))(lo)}, "
    f"{(lambda q: sum(int(o) * 256 ** (3 - i) for i, o in enumerate(q.split('.'))))(hi)}, "
    f"'{c}', '{p}', '{ci}')"
    for lo, hi, c, p, ci in GEO_RANGES
) + """
)
SELECT coalesce(r.ip_country, 'Unknown') AS ip_country,
       coalesce(r.ip_province, 'Unknown') AS ip_province,
       coalesce(r.ip_city, 'Unknown') AS ip_city,
       count(*) AS n_rows
FROM ipn LEFT JOIN ranges r ON ipn.ip_num BETWEEN r.lo AND r.hi
GROUP BY 1, 2, 3
"""


def q_merge_multiline(spark, sf_dir):
    """processor_merge_multiline_log BY_REGEX: turns whose text starts an
    nginx/app record begin a merged event; others append (sessionization)."""
    df = transcripts_from_events(spark, sf_dir)
    op = build_operator({
        "Type": "processor_merge_multiline_log",
        "StartPattern": r"\d+\.\d+\.\d+\.\d+.*",
        "UnmatchedContentTreatment": "single_line",
    })
    out = op(df)
    return out.select(
        "conv_id", "turn_idx", "n_merged",
        F.md5(F.col("text").cast("binary")).alias("merged_md5"),
    )


O_MERGE_MULTILINE = _ORACLE_T + r"""
, flagged AS (
  SELECT conv_id, turn_idx, text, ts,
    sum(CASE WHEN regexp_full_match(text, '\d+\.\d+\.\d+\.\d+.*') THEN 1 ELSE 0 END)
      OVER (PARTITION BY conv_id ORDER BY turn_idx) AS gid
  FROM t
), grouped AS (
  SELECT conv_id,
    CASE WHEN gid > 0 THEN gid ELSE -turn_idx - 1 END AS mgid,
    min(turn_idx) AS turn_idx, count(*) AS n_merged,
    md5(string_agg(text, chr(10) ORDER BY turn_idx)) AS merged_md5
  FROM flagged GROUP BY 1, 2
)
SELECT conv_id, turn_idx, n_merged, merged_md5 FROM grouped
"""


def q_http_jsonline(spark, sf_dir):
    """flusher_http jsonline converter (jsonline.go:15-41): flattened
    single-log JSON bodies, byte-checked via md5 against DuckDB's own
    JSON serializer building the identical sorted-key object."""
    from loongcollector_spark.serializer import jsonline_column

    df = transcripts_from_events(spark, sf_dir)
    return df.select(
        "conv_id", "turn_idx",
        F.md5(jsonline_column(df).cast("binary")).alias("body_md5"),
    )


O_HTTP_JSONLINE = _ORACLE_T + """
SELECT conv_id, turn_idx,
  md5(to_json(struct_pack(
    conv_id := conv_id,
    role := role,
    text := text,
    "time" := cast(floor(epoch(ts)) AS BIGINT),
    tool := tool,
    turn_idx := cast(turn_idx AS VARCHAR)
  ))::VARCHAR) AS body_md5
FROM t
"""


def q_http_otlp(spark, sf_dir):
    """flusher_http otlp_v1 converter (pkg/protocol/converter/otlp.go:
    43-103): per-event OTLP LogRecord JSON — text→body, role→severity,
    remaining fields + group tags as attributes — byte-checked via md5
    against DuckDB building the identical protojson object."""
    from loongcollector_spark.serializer import otlp_log_record_column

    df = transcripts_from_events(spark, sf_dir).select(
        "conv_id", "turn_idx", "ts",
        F.col("text").alias("content"), F.col("role").alias("level"), "tool",
    )
    col = otlp_log_record_column(df, tags={"host": "spark-graft"})
    return df.select(
        "conv_id", "turn_idx",
        F.md5(col.cast("binary")).alias("record_md5"),
    )


O_HTTP_OTLP = _ORACLE_T + """
SELECT conv_id, turn_idx,
  md5(to_json(struct_pack(
    timeUnixNano := cast(cast(floor(epoch(ts)) AS BIGINT) * 1000000000 AS VARCHAR),
    severityText := role,
    body := struct_pack(stringValue := text),
    attributes := list_filter(
      [struct_pack(key := 'conv_id', value := struct_pack(stringValue := conv_id)),
       struct_pack(key := 'tool', value := struct_pack(stringValue := tool)),
       struct_pack(key := 'turn_idx', value := struct_pack(stringValue := cast(turn_idx AS VARCHAR))),
       struct_pack(key := 'host', value := struct_pack(stringValue := 'spark-graft'))],
      x -> x.value.stringValue IS NOT NULL)
  ))::VARCHAR) AS record_md5
FROM t
"""


def q_loki_streams(spark, sf_dir):
    """flusher_loki payload (flusher_loki.go:152-226): one push-API v1
    document per label set (static job + dynamic role), jsonline-
    serialized lines, values in (ns, line) order — byte-checked via md5
    against DuckDB assembling the identical document."""
    from loongcollector_spark.serializer import loki_streams_frame

    df = transcripts_from_events(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "text", "ts")
    frame = loki_streams_frame(
        df, {"job": "transcripts"}, ["content.role"],
        line_protocol="jsonline")
    return frame.select(
        F.md5(F.col("payload").cast("binary")).alias("payload_md5"),
        "n_entries",
    )


O_LOKI_STREAMS = _ORACLE_T + """
, lines AS (
  SELECT role,
    cast(cast(floor(epoch(ts)) AS BIGINT) * 1000000000 AS VARCHAR) AS ns,
    to_json(struct_pack(
      conv_id := conv_id, role := role, text := text,
      "time" := cast(floor(epoch(ts)) AS BIGINT),
      turn_idx := cast(turn_idx AS VARCHAR)
    ))::VARCHAR AS line
  FROM t
)
SELECT
  md5('{"streams":[{"stream":'
    || to_json(struct_pack(job := 'transcripts', role := role))::VARCHAR
    || ',"values":' || to_json(list([ns, line] ORDER BY ns, line))::VARCHAR
    || '}]}') AS payload_md5,
  count(*) AS n_entries
FROM lines GROUP BY role
"""


def q_prom_remote_write(spark, sf_dir):
    """flusher_prometheus round trip (pkg/protocol/encoder/prometheus/
    utils.go:44-60): metric rows → codegen prompb.WriteRequest blobs →
    independent Python wire walker (struct.unpack doubles) → aggregate
    equality with the source. Proves the IEEE-754 bit codegen, sorted
    labels, empty-label drop, and ns→ms conversion on real data."""
    from loongcollector_spark.pbwire import (
        decode_prom_write_request, prom_write_request_frame)

    df = transcripts_from_events(spark, sf_dir).filter(
        F.col("text").rlike(r"^\w+=[^ ]*&")
    )
    kv = build_operator({
        "Type": "processor_split_key_value", "SourceKey": "text",
        "Delimiter": "&", "Separator": "=",
        "Keys": ["action", "lat_ms", "ok", "tok"],
    })
    df = kv(df).filter("_parse_ok").select(
        "role", "action", "ts",
        F.col("lat_ms").try_cast("long").alias("lat_ms"),
        F.col("tok").try_cast("long").alias("tok"),
    ).filter(F.col("lat_ms").isNotNull() & F.col("tok").isNotNull())
    m = build_operator({
        "Type": "processor_log_to_metric",
        "MetricLabelKeys": ["role", "action"],
        "MetricValues": {"latency_ms": "lat_ms", "tokens": "tok"},
    })(df)
    frames = prom_write_request_frame(m, series_limit=500)

    def batches(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for b in pdf["write_request_pb"]:
                for s in decode_prom_write_request(bytes(b)):
                    labels = "|".join(
                        f"{k}={v}" for k, v in sorted(s["labels"].items())
                        if k != "__name__")
                    rows.append((s["labels"]["__name__"], labels,
                                 s["value"], s["timestamp_ms"]))
            yield pd.DataFrame(
                rows, columns=["name", "labels", "value", "ts_ms"])

    # spread the blobs BEFORE the Python walker: AQE coalesces the
    # chunking agg's small output to ~1 partition, which would serialize
    # the whole decode on one python worker (measured 5-6 s; parallel
    # it's sub-second). One narrow shuffle of blobs buys 32-way decode —
    # the same shape a real cluster wants.
    dec = (frames.select("write_request_pb")
           .repartition(spark.sparkContext.defaultParallelism)
           .mapInPandas(
               batches,
               "name string, labels string, value double, ts_ms long"))
    return dec.groupBy("name", "labels").agg(
        F.sum("value").alias("value_sum"),
        F.count("*").alias("n_points"),
        F.max("ts_ms").alias("max_ts_ms"),
    )


O_PROM_REMOTE_WRITE = _ORACLE_T + r"""
, kv AS (
  SELECT role, ts,
    regexp_extract(text, 'action=([^&]*)', 1) AS action,
    cast(regexp_extract(text, 'lat_ms=([^&]*)', 1) AS BIGINT) AS lat_ms,
    cast(regexp_extract(text, '[&]tok=([^&]*)', 1) AS BIGINT) AS tok
  FROM t WHERE regexp_matches(text, '^\w+=[^ ]*&')
), kvf AS (
  SELECT * FROM kv WHERE lat_ms IS NOT NULL AND tok IS NOT NULL
), m AS (
  SELECT 'latency_ms' AS name,
    concat_ws('|',
      CASE WHEN action <> '' THEN 'action=' || action END,
      'role=' || role) AS labels,
    cast(lat_ms AS DOUBLE) AS v, epoch_ms(ts) AS ts_ms FROM kvf
  UNION ALL
  SELECT 'tokens',
    concat_ws('|',
      CASE WHEN action <> '' THEN 'action=' || action END,
      'role=' || role),
    cast(tok AS DOUBLE), epoch_ms(ts) FROM kvf
)
SELECT name, labels, sum(v) AS value_sum, count(*) AS n_points,
  max(ts_ms) AS max_ts_ms
FROM m GROUP BY 1, 2
"""


def q_syslog_parse(spark, sf_dir):
    """service_syslog auto-protocol parse (plugins/input/syslog/
    parser.go:84-199, syslog.go:401-445): deterministic mixed
    RFC3164/RFC5424 lines per events row — the oracle recomputes every
    emitted field closed-form (priority>>3 facility, &7 severity, SD
    json, ns timestamps) without reparsing."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )  # split the single-file fixture across cores BEFORE payload
    # synthesis: the exchange carries the narrow event columns, not
    # the synthesized JSON/log strings (~25x narrower shuffle)
    uid = F.pmod("user_id", F.lit(50)).cast("string")
    app = F.pmod("user_id", F.lit(7)).cast("string")
    pri = F.pmod("event_id", F.lit(192)).cast("string")
    t3 = F.timestamp_add(
        "SECOND", F.pmod("event_id", F.lit(86400 * 20)).cast("int"),
        F.lit("2026-01-01 00:00:00").cast("timestamp"))
    line3164 = F.concat(
        F.lit("<"), pri, F.lit(">"),
        F.date_format(t3, "MMM dd HH:mm:ss"),
        F.lit(" h"), uid, F.lit(" app"), app,
        F.lit("["), F.pmod("event_id", F.lit(1000)).cast("string"),
        F.lit("]: evt="), F.col("event_type"),
    )
    t5 = F.date_trunc("second", F.col("ts").cast("timestamp"))
    line5424 = F.concat(
        F.lit("<"), pri, F.lit(">1 "),
        F.date_format(t5, "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        F.lit(" h"), uid, F.lit(" app"), app,
        F.lit(" "), F.pmod("event_id", F.lit(1000)).cast("string"),
        F.lit(" m"), F.pmod("event_id", F.lit(10)).cast("string"),
        F.lit(' [m idx="'), uid, F.lit('" typ="'), F.col("event_type"),
        F.lit('"] evt='), F.col("event_type"),
    )
    lines = ev.select(
        F.col("event_id").alias("line_id"),
        F.when(F.pmod("event_id", F.lit(3)) == 0, line5424)
        .otherwise(line3164).alias("content"),
    )
    op = build_operator({"Type": "service_syslog", "ParseProtocol": "auto",
                         "Year": 2026})
    return op(lines).select(
        "line_id", "_priority_", "_facility_", "_severity_", "_hostname_",
        "_program_", "_process_id_", "_message_id_", "_structured_data_",
        "_unixtimestamp_", "_content_",
    )


O_SYSLOG_PARSE = """
WITH e AS (
  SELECT event_id, event_type,
    cast(user_id % 50 AS VARCHAR) AS uid,
    cast(user_id % 7 AS VARCHAR) AS app,
    event_id % 192 AS pri,
    event_id % 3 = 0 AS is5424,
    TIMESTAMP '2026-01-01 00:00:00'
      + to_seconds(event_id % (86400 * 20)) AS t3,
    date_trunc('second', ts) AS t5
  FROM events
)
SELECT event_id AS line_id,
  cast(pri AS VARCHAR) AS _priority_,
  cast(pri // 8 AS VARCHAR) AS _facility_,
  cast(pri % 8 AS VARCHAR) AS _severity_,
  'h' || uid AS _hostname_,
  'app' || app AS _program_,
  CASE WHEN is5424 THEN cast(event_id % 1000 AS VARCHAR) END
    AS _process_id_,
  CASE WHEN is5424 THEN 'm' || cast(event_id % 10 AS VARCHAR) END
    AS _message_id_,
  CASE WHEN is5424 THEN
    '{"m":{"idx":"' || uid || '","typ":"' || event_type || '"}}' END
    AS _structured_data_,
  cast(epoch_ns(CASE WHEN is5424 THEN t5 ELSE t3 END) AS VARCHAR)
    AS _unixtimestamp_,
  'evt=' || event_type AS _content_
FROM e
"""


def q_merge_multiline_continue(spark, sf_dir):
    """processor_merge_multiline_log Start+Continue (the Java-stack-trace
    combination, ProcessorMergeMultilineLogNative.cpp:281-309): IP lines
    begin an event, JSON lines continue it, anything else breaks it.
    Runs the pure window-algebra codegen path (no Python)."""
    df = transcripts_from_events(spark, sf_dir)
    op = build_operator({
        "Type": "processor_merge_multiline_log",
        "StartPattern": r"\d+\.\d+\.\d+\.\d+.*",
        "ContinuePattern": r"\{.*",
        "UnmatchedContentTreatment": "single_line",
    })
    out = op(df)
    return out.select(
        "conv_id", "turn_idx", "n_merged",
        F.md5(F.col("text").cast("binary")).alias("merged_md5"),
    )


# independent SQL formulation of the same semantics: a row is inside a
# merged event iff the latest start is at/after the latest continue-break
# (running maxes); an event begins at a start line whose predecessor state
# doesn't continue through it
O_MERGE_MULTILINE_CONTINUE = _ORACLE_T + r"""
, o AS (
  SELECT conv_id, turn_idx, text,
    row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS pos,
    regexp_matches(text, '^(?:\d+\.\d+\.\d+\.\d+)') AS s,
    regexp_matches(text, '^(?:\{)') AS c
  FROM t
), m AS (
  SELECT *,
    max(CASE WHEN s THEN pos END) OVER w AS spos,
    max(CASE WHEN NOT c THEN pos END) OVER w AS lpos
  FROM o
  WINDOW w AS (PARTITION BY conv_id ORDER BY pos ROWS UNBOUNDED PRECEDING)
), p AS (
  SELECT *, (spos IS NOT NULL AND (lpos IS NULL OR spos >= lpos)) AS partial
  FROM m
), b AS (
  SELECT *,
    (s AND NOT (coalesce(lag(partial) OVER (PARTITION BY conv_id ORDER BY pos),
                         false) AND c)) AS begins
  FROM p
), g AS (
  SELECT *,
    CASE WHEN partial THEN
      sum(CASE WHEN begins THEN 1 ELSE 0 END)
        OVER (PARTITION BY conv_id ORDER BY pos ROWS UNBOUNDED PRECEDING)
    ELSE -pos END AS mgid
  FROM b
), gr AS (
  SELECT conv_id, mgid, min(turn_idx) AS turn_idx, count(*) AS n_merged,
    md5(string_agg(text, chr(10) ORDER BY pos)) AS merged_md5
  FROM g GROUP BY 1, 2
)
SELECT conv_id, turn_idx, n_merged, merged_md5 FROM gr
"""


def q_merge_multiline_end(spark, sf_dir):
    """processor_merge_multiline_log End-only (cpp:266-280): every event
    runs up to (and including) the next kv line; trailing lines with no
    end stay unmatched singles. Exercises the applyInPandas FSM path —
    the oracle below is a genuinely different (window-based) formulation."""
    df = transcripts_from_events(spark, sf_dir)
    op = build_operator({
        "Type": "processor_merge_multiline_log",
        "EndPattern": r"action=.*",
        "UnmatchedContentTreatment": "single_line",
    })
    out = op(df)
    return out.select(
        "conv_id", "turn_idx", "n_merged",
        F.md5(F.col("text").cast("binary")).alias("merged_md5"),
    )


O_MERGE_MULTILINE_END = _ORACLE_T + r"""
, o AS (
  SELECT conv_id, turn_idx, text,
    row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS pos,
    CASE WHEN regexp_matches(text, '^(?:action=)') THEN 1 ELSE 0 END AS ef
  FROM t
), g AS (
  SELECT *,
    coalesce(sum(ef) OVER (PARTITION BY conv_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0) AS prior_ends,
    sum(ef) OVER (PARTITION BY conv_id) AS tot_ends
  FROM o
), m AS (
  SELECT conv_id, turn_idx, text, pos,
    CASE WHEN prior_ends < tot_ends THEN prior_ends ELSE -pos END AS mgid
  FROM g
), gr AS (
  SELECT conv_id, mgid, min(turn_idx) AS turn_idx, count(*) AS n_merged,
    md5(string_agg(text, chr(10) ORDER BY pos)) AS merged_md5
  FROM m GROUP BY 1, 2
)
SELECT conv_id, turn_idx, n_merged, merged_md5 FROM gr
"""


def q_embedding_near_dup(spark, sf_dir):
    """embedding-cosine near-dup pairs via banded hyperplane LSH.

    32 bits / 4 bands: the corpus-sized config (BASELINE.md shows the
    candidate set at 1.5% of brute force vs 12.5% for round 1's fixed
    8-bucket scheme); the oracle replays the identical banding."""
    from loongcollector_spark.functions.similarity import embedding_near_dup_pairs

    return embedding_near_dup_pairs(
        _emb(spark, sf_dir), min_cos_1e4=2000, n_bits=32, bands=4
    )


def _o_band_expr(b: int, per: int) -> str:
    """DuckDB twin of functions.similarity.band_values (LSB-first sign
    bits of dims b*per+1 .. b*per+per)."""
    return "cast(" + " + ".join(
        f"(CASE WHEN embedding[{b * per + j + 1}] > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(per)
    ) + f" AS INT) AS band{b}"


def _o_banded_e(n_bits: int, bands: int) -> str:
    per = n_bits // bands
    return (
        "e AS (\n  SELECT vec_id, list_transform(embedding, x -> cast(x AS DOUBLE)) AS emb,\n    "
        + ",\n    ".join(_o_band_expr(b, per) for b in range(bands))
        + "\n  FROM embeddings\n)"
    )


_O_SHARES_BAND = " OR ".join(f"a.band{b} = b.band{b}" for b in range(4))

O_EMBEDDING_NEAR_DUP = f"""
WITH {_o_banded_e(32, 4)},
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM e a JOIN e b ON b.vec_id > a.vec_id AND ({_O_SHARES_BAND})
)
SELECT vec_a, vec_b,
  cast(floor(10000 * list_dot_product(ea.emb, eb.emb)
    / (sqrt(list_dot_product(ea.emb, ea.emb)) * sqrt(list_dot_product(eb.emb, eb.emb)))) AS INT) AS cos_1e4
FROM cand JOIN e ea ON ea.vec_id = cand.vec_a JOIN e eb ON eb.vec_id = cand.vec_b
WHERE floor(10000 * list_dot_product(ea.emb, eb.emb)
    / (sqrt(list_dot_product(ea.emb, ea.emb)) * sqrt(list_dot_product(eb.emb, eb.emb)))) >= 2000
"""


def q_embedding_dedup_clusters(spark, sf_dir):
    """embedding near-dup pairs → connected components → canonical
    survivor per cluster (the embedding twin of dedup_clusters; same
    exact-recursive-closure oracle over the banded-LSH candidate CTE)."""
    from pyspark.sql import Window

    from loongcollector_spark.functions.dedup import connected_components
    from loongcollector_spark.functions.similarity import embedding_near_dup_pairs

    pairs = embedding_near_dup_pairs(
        _emb(spark, sf_dir), min_cos_1e4=2000, n_bits=32, bands=4
    )
    comp = connected_components(pairs, left="vec_a", right="vec_b")
    size = F.count("*").over(Window.partitionBy("comp"))
    return comp.select(
        F.col("node").alias("vec_id"),
        F.col("comp").alias("cluster_id"),
        size.alias("cluster_size"),
        (F.col("node") == F.col("comp")).alias("keep"),
    )


O_EMBEDDING_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_o_banded_e(32, 4)},
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM e a JOIN e b ON b.vec_id > a.vec_id AND ({_O_SHARES_BAND})
),
pairs AS (
  SELECT vec_a, vec_b FROM cand
  JOIN e ea ON ea.vec_id = cand.vec_a JOIN e eb ON eb.vec_id = cand.vec_b
  WHERE floor(10000 * list_dot_product(ea.emb, eb.emb)
      / (sqrt(list_dot_product(ea.emb, ea.emb))
       * sqrt(list_dot_product(eb.emb, eb.emb)))) >= 2000
),
edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM pairs
  UNION SELECT vec_b, vec_a FROM pairs
),
reach(node, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e2.src, r.comp FROM edges e2 JOIN reach r ON e2.dst = r.node
),
comp AS (SELECT node, min(comp) AS cluster_id FROM reach GROUP BY node)
SELECT node AS vec_id, cluster_id,
  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
  node = cluster_id AS keep
FROM comp
"""


def q_simhash_signatures(spark, sf_dir):
    """SimHash 64-bit signatures as four 16-bit chunks — all-JVM
    expressions, byte-equal to the generated DuckDB oracle."""
    from loongcollector_spark.functions.dedup import simhash_signatures

    return simhash_signatures(_docs(spark, sf_dir))


def q_simhash_near_pairs(spark, sf_dir):
    """SimHash near-dup pairs: 4-chunk pigeonhole blocking + per-chunk
    bit_count hamming ≤ 3 (Manku et al. WWW'07 threshold). The oracle is a
    FULL O(n²) self-join, so it also proves the blocking loses no pairs."""
    from loongcollector_spark.functions.dedup import simhash_near_pairs

    return simhash_near_pairs(_docs(spark, sf_dir), max_hamming=3)


def _o_simhash_sig_cte(table: str = "documents") -> str:
    """DuckDB twin of functions.dedup.simhash_signatures (same bit/chunk
    convention: word hash = first 16 hex digits of md5, bit k = bit (k%4)
    of digit k//4, chunk c packs bits 16c..16c+15 LSB-first)."""
    def hexv(i: int) -> str:
        return f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1)"

    def vote(k: int) -> str:
        return ("list_sum(list_transform(hx, h -> CASE WHEN "
                f"(({hexv(k // 4)} >> {k % 4}) & 1) = 1 THEN 1 ELSE -1 END))")

    def chunk(c: int) -> str:
        return " + ".join(
            f"(CASE WHEN {vote(16 * c + j)} > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(16)
        )

    chunks = ", ".join(f"cast({chunk(c)} AS INT) AS sh{c}" for c in range(4))
    return (
        f"w AS (SELECT doc_id, list_transform(string_split_regex(trim(text),"
        f" '\\s+'), x -> md5(x)) AS hx FROM {table}"
        f" WHERE trim(coalesce(text, '')) != ''),\n"
        f"sig AS (SELECT doc_id, {chunks} FROM w)"
    )


O_SIMHASH_SIGNATURES = f"WITH {_o_simhash_sig_cte()}\nSELECT * FROM sig"

O_SIMHASH_NEAR_PAIRS = f"""WITH {_o_simhash_sig_cte()}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  cast(bit_count(xor(a.sh0, b.sh0)) + bit_count(xor(a.sh1, b.sh1))
     + bit_count(xor(a.sh2, b.sh2)) + bit_count(xor(a.sh3, b.sh3)) AS INT) AS hamming
FROM sig a JOIN sig b ON b.doc_id > a.doc_id
WHERE bit_count(xor(a.sh0, b.sh0)) + bit_count(xor(a.sh1, b.sh1))
    + bit_count(xor(a.sh2, b.sh2)) + bit_count(xor(a.sh3, b.sh3)) <= 3
"""


_AES_KEY = "0123456789abcdef"


def q_encrypt_fields(spark, sf_dir):
    """processor_encrypt: AES-128-ECB via JVM aes_encrypt. Oracle surface:
    the JVM aes_decrypt round-trip of the ciphertext must reproduce the
    plaintext exactly, and the ciphertext length must equal the PKCS#7
    prediction — both DuckDB-checkable. Algorithm identity (real FIPS-197
    AES, not any self-inverse stand-in) is pinned by
    tests/test_extras.py::test_encrypt_known_answer_vs_python_aes against
    a pure-Python AES model."""
    df = transcripts_from_events(spark, sf_dir).filter("role = 'system'")
    op = build_operator({
        "Type": "processor_encrypt", "SourceKeys": ["text"],
        "EncryptionParameters": {"Key": _AES_KEY},
    })
    enc = op(df)
    roundtrip = F.aes_decrypt(
        F.unhex(F.col("text")), F.lit(_AES_KEY), F.lit("ECB")
    ).cast("string")
    return enc.select(
        "conv_id", "turn_idx",
        roundtrip.alias("text_rt"),
        (F.length("text") / 2).cast("int").alias("cipher_bytes"),
    )


O_ENCRYPT_FIELDS = _ORACLE_T + """
SELECT conv_id, turn_idx, text AS text_rt,
  cast(16 * (octet_length(encode(text)) // 16 + 1) AS INT) AS cipher_bytes
FROM t WHERE role = 'system'
"""


def q_multimodal_features(spark, sf_dir):
    """multimodal decode→feature plumbing: binary payload column through
    Arrow mapInPandas (decode step stubbed deterministically)."""
    from loongcollector_spark.functions.multimodal import (
        documents_as_media, extract_features,
    )

    media = documents_as_media(_docs(spark, sf_dir))
    return extract_features(media).select(
        "doc_id", "media_type", F.floor(F.col("feat_mean") * 100).cast("long").alias("feat_mean_1e2"),
        "feat_dim", "ok",
    )


O_MULTIMODAL_FEATURES = """
SELECT doc_id, 'image' AS media_type,
  cast(floor(100.0 * list_sum(list_transform(string_split_regex(text, ''), c -> unicode(c)))
       / octet_length(encode(text))) AS BIGINT) AS feat_mean_1e2,
  cast(octet_length(encode(text)) AS INT) AS feat_dim,
  octet_length(encode(text)) > 0 AS ok
FROM documents
"""


def q_frame_sample(spark, sf_dir):
    """multimodal frame sampling: explode n_frames into sampled indexes
    (codegen sequence+explode), payload fingerprinted for the compare."""
    from loongcollector_spark.functions.multimodal import (
        documents_as_media, frame_sample,
    )

    media = documents_as_media(_docs(spark, sf_dir), "video")
    return frame_sample(media, every_n=7).select(
        "doc_id", "frame_idx", F.md5(F.col("payload")).alias("payload_md5")
    )


O_FRAME_SAMPLE = """
SELECT doc_id, cast(unnest(range(0, (doc_id % 30) + 1, 7)) AS INT) AS frame_idx,
  md5(text) AS payload_md5
FROM documents
"""


def q_media_decode_image(spark, sf_dir):
    """REAL image decode: binary PGM (P5) payloads built per doc_id
    (pixel_i = (doc_id*31+i) % 256, w = id%64+16, h = id%48+16), decoded
    with numpy inside mapInPandas — the oracle recomputes the pixel mean
    from the closed form without any codec."""
    from loongcollector_spark.functions.multimodal import (
        extract_features, synthetic_media,
    )

    media = synthetic_media(_docs(spark, sf_dir), "image")
    return extract_features(media).select(
        "doc_id",
        F.floor(F.col("feat_mean") * 100).cast("long").alias("feat_mean_1e2"),
        "feat_dim", "ok",
    )


O_MEDIA_DECODE_IMAGE = """
SELECT d.doc_id,
  cast(floor(100.0 * avg((d.doc_id * 31 + g.i) % 256)) AS BIGINT) AS feat_mean_1e2,
  cast((d.doc_id % 64 + 16) * (d.doc_id % 48 + 16) AS INT) AS feat_dim,
  true AS ok
FROM documents d, generate_series(0, 79 * 63 - 1) AS g(i)
WHERE g.i < (d.doc_id % 64 + 16) * (d.doc_id % 48 + 16)
GROUP BY d.doc_id
"""


def q_media_decode_png(spark, sf_dir):
    """REAL PNG decode (RFC 2083 from scratch: chunk CRCs, IHDR, zlib
    IDAT, row unfilter): RGB payloads built per doc_id (channel c of
    pixel i = (doc_id*31 + i + 85c) % 256), decoded in mapInPandas; the
    oracle recomputes the 3-channel mean closed-form — PNG is lossless,
    so equality is exact."""
    from loongcollector_spark.functions.multimodal import (
        extract_features, synthetic_media,
    )

    media = synthetic_media(_docs(spark, sf_dir), "png")
    return extract_features(media).select(
        "doc_id",
        F.floor(F.col("feat_mean") * 100).cast("long").alias("feat_mean_1e2"),
        "feat_dim", "ok",
    )


O_MEDIA_DECODE_PNG = """
SELECT d.doc_id,
  -- mirror numpy's op order exactly: ONE exact integer sum, ONE double
  -- division by 3N, then *100 and floor (dividing each pixel by 3 inside
  -- avg() drifts a last-ulp past the floor boundary on ~3% of docs)
  cast(floor(100.0 * (sum(
    (d.doc_id * 31 + g.i) % 256
     + (d.doc_id * 31 + g.i + 85) % 256
     + (d.doc_id * 31 + g.i + 170) % 256) / (3.0 * count(*)))) AS BIGINT)
    AS feat_mean_1e2,
  cast(3 * (d.doc_id % 64 + 16) * (d.doc_id % 48 + 16) AS INT) AS feat_dim,
  true AS ok
FROM documents d, generate_series(0, 79 * 63 - 1) AS g(i)
WHERE g.i < (d.doc_id % 64 + 16) * (d.doc_id % 48 + 16)
GROUP BY d.doc_id
"""


def q_media_y4m_frames(spark, sf_dir):
    """REAL video frame sampling: Y4M (YUV4MPEG2, the raw-frame stream
    ffmpeg pipelines emit) containers built per doc_id (frame f Y plane:
    y_i = (doc_id*13 + f*7 + i) % 256, 16x8 C420, n = id%12+1 frames),
    every 5th frame's Y plane decoded in mapInPandas; the oracle
    recomputes each sampled frame's mean closed-form."""
    from loongcollector_spark.functions.multimodal import (
        synthetic_media, video_frame_features,
    )

    media = synthetic_media(_docs(spark, sf_dir), "video")
    out = video_frame_features(media, every_n=5)
    return out.select(
        "doc_id", "frame_idx",
        F.floor(F.col("y_mean") * 100).cast("long").alias("y_mean_1e2"),
        "width", "height", "ok",
    )


O_MEDIA_Y4M_FRAMES = """
SELECT d.doc_id, cast(f.f AS INT) AS frame_idx,
  (SELECT cast(floor(100.0 * avg((d.doc_id * 13 + f.f * 7 + g.i) % 256))
          AS BIGINT)
   FROM generate_series(0, 127) AS g(i)) AS y_mean_1e2,
  16 AS width, 8 AS height, true AS ok
FROM documents d, generate_series(0, 11) AS f(f)
WHERE f.f % 5 = 0 AND f.f < d.doc_id % 12 + 1
"""


def q_media_decode_avi(spark, sf_dir):
    """REAL compressed-video decode: MJPEG AVI containers (RIFF →
    LIST movi → one baseline JPEG per '00dc' chunk) built per doc_id
    with the q50 lossless-DC block construction shifted per frame
    (block b of frame f = 128 + 2*((id*5 + f*7 + b) % 113 - 56)),
    walked + entropy-decoded in mapInPandas; the oracle recomputes the
    whole-video pixel mean closed-form over (frame, block)."""
    from loongcollector_spark.functions.multimodal import (
        extract_features, synthetic_media,
    )

    media = synthetic_media(_docs(spark, sf_dir), "avi")
    return extract_features(media).select(
        "doc_id",
        F.floor(F.col("feat_mean") * 100).cast("long").alias("feat_mean_1e2"),
        "feat_dim", "ok",
    )


O_MEDIA_DECODE_AVI = """
SELECT d.doc_id,
  cast(floor(100.0 * avg(128 + 2 * ((d.doc_id * 5 + f.f * 7 + g.b) % 113
                                    - 56))) AS BIGINT) AS feat_mean_1e2,
  cast((d.doc_id % 5 + 2) * 64 * (d.doc_id % 6 + 2) * (d.doc_id % 4 + 2)
       AS INT) AS feat_dim,
  true AS ok
FROM documents d,
     generate_series(0, 6) AS f(f),
     generate_series(0, 7 * 5 - 1) AS g(b)
WHERE f.f < d.doc_id % 5 + 2
  AND g.b < (d.doc_id % 6 + 2) * (d.doc_id % 4 + 2)
GROUP BY d.doc_id
"""


def q_media_decode_mp4(spark, sf_dir):
    """REAL MP4 container walk (ISO BMFF stsd/stsz/stsc/stco sample
    tables) + per-sample JPEG decode for a 'jpeg'-codec track — frame f
    block b = 128 + 2*((id*5 + f*11 + b) % 113 - 56); the oracle
    recomputes the whole-video mean closed-form."""
    from loongcollector_spark.functions.multimodal import (
        extract_features, synthetic_media,
    )

    media = synthetic_media(_docs(spark, sf_dir), "mp4")
    return extract_features(media).select(
        "doc_id",
        F.floor(F.col("feat_mean") * 100).cast("long").alias("feat_mean_1e2"),
        "feat_dim", "ok",
    )


O_MEDIA_DECODE_MP4 = """
SELECT d.doc_id,
  cast(floor(100.0 * avg(128 + 2 * ((d.doc_id * 5 + f.f * 11 + g.b) % 113
                                    - 56))) AS BIGINT) AS feat_mean_1e2,
  cast((d.doc_id % 5 + 2) * 64 * (d.doc_id % 6 + 2) * (d.doc_id % 4 + 2)
       AS INT) AS feat_dim,
  true AS ok
FROM documents d,
     generate_series(0, 6) AS f(f),
     generate_series(0, 7 * 5 - 1) AS g(b)
WHERE f.f < d.doc_id % 5 + 2
  AND g.b < (d.doc_id % 6 + 2) * (d.doc_id % 4 + 2)
GROUP BY d.doc_id
"""


def q_media_decode_audio(spark, sf_dir):
    """REAL audio decode: RIFF/WAVE PCM16 payloads built per doc_id
    (sample_i = ((doc_id*7+i) % 512 - 256) * 64, 1600 samples @16 kHz),
    chunk-walked + decoded with struct/numpy in mapInPandas; feature is
    the mean absolute amplitude, recomputed closed-form by the oracle."""
    from loongcollector_spark.functions.multimodal import (
        extract_features, synthetic_media,
    )

    media = synthetic_media(_docs(spark, sf_dir), "audio")
    return extract_features(media).select(
        "doc_id",
        F.floor(F.col("feat_mean") * 100).cast("long").alias("feat_mean_1e2"),
        "feat_dim", "ok",
    )


O_MEDIA_DECODE_AUDIO = """
SELECT d.doc_id,
  cast(floor(100.0 * avg(abs(((d.doc_id * 7 + g.i) % 512 - 256) * 64)))
       AS BIGINT) AS feat_mean_1e2,
  1600 AS feat_dim, true AS ok
FROM documents d, generate_series(0, 1599) AS g(i)
GROUP BY d.doc_id
"""


def q_media_decode_jpeg(spark, sf_dir):
    """REAL baseline-JPEG decode (jpegcodec.py, from the T.81 spec:
    Huffman entropy decode, dequantize, IDCT, DRI/RSTn restarts): the
    fixture's 8x8 blocks are each uniform at v_b = 128+2*((id*5+b)%113-56)
    and encoded at quality 50 (DC quant step 16), so despite JPEG being
    lossy the reconstruction is bit-exact and the oracle recomputes the
    decoded pixel mean closed-form — a true hash oracle over an
    entropy-coded stream."""
    from loongcollector_spark.functions.multimodal import (
        extract_features, synthetic_media,
    )

    media = synthetic_media(_docs(spark, sf_dir), "jpeg")
    return extract_features(media).select(
        "doc_id",
        F.floor(F.col("feat_mean") * 100).cast("long").alias("feat_mean_1e2"),
        "feat_dim", "ok",
    )


O_MEDIA_DECODE_JPEG = """
SELECT d.doc_id,
  cast(floor(100.0 * avg(128 + 2 * ((d.doc_id * 5 + g.b) % 113 - 56)))
       AS BIGINT) AS feat_mean_1e2,
  cast(64 * (d.doc_id % 6 + 2) * (d.doc_id % 4 + 2) AS INT) AS feat_dim,
  true AS ok
FROM documents d, generate_series(0, 7 * 5 - 1) AS g(b)
WHERE g.b < (d.doc_id % 6 + 2) * (d.doc_id % 4 + 2)
GROUP BY d.doc_id
"""


def q_media_resize(spark, sf_dir):
    """decode → nearest-neighbor resize to 8×8 → re-encode → re-decode:
    the resized thumbnail's pixel mean must equal the closed-form mean
    over sampled source coordinates row=(r*h)//8, col=(c*w)//8."""
    from loongcollector_spark.functions.multimodal import (
        extract_features, image_resize, synthetic_media,
    )

    media = synthetic_media(_docs(spark, sf_dir), "image")
    resized = image_resize(media, 8, 8).select(
        "doc_id", F.lit("image").alias("media_type"), "payload",
        "width", "height",
    )
    return extract_features(resized).select(
        "doc_id",
        F.floor(F.col("feat_mean") * 100).cast("long").alias("res_mean_1e2"),
        F.col("feat_dim").alias("n_px"),
    )


O_MEDIA_RESIZE = """
SELECT d.doc_id,
  cast(floor(100.0 * avg(
    (d.doc_id * 31 + ((r.i * (d.doc_id % 48 + 16)) // 8) * (d.doc_id % 64 + 16)
     + ((c.i * (d.doc_id % 64 + 16)) // 8)) % 256)) AS BIGINT) AS res_mean_1e2,
  64 AS n_px
FROM documents d, generate_series(0, 7) AS r(i), generate_series(0, 7) AS c(i)
GROUP BY d.doc_id
"""


def q_serialized_events(spark, sf_dir):
    """JsonSerializer / flusher_file golden format: one JSON object per
    event — __time__ + tag + contents, null-free — byte-compared (via
    md5) against a DuckDB reconstruction of the exact same text."""
    from loongcollector_spark.serializer import json_event_column

    df = transcripts_from_events(spark, sf_dir)
    line = json_event_column(df, tags={"__hostname__": "bench-host"})
    return df.select(
        "conv_id", "turn_idx",
        F.md5(line.cast("binary")).alias("line_md5"),
    )


O_SERIALIZED_EVENTS = _ORACLE_T + """
SELECT conv_id, turn_idx,
  md5('{"__time__":' || cast(floor(epoch(ts)) AS BIGINT)
   || ',"__hostname__":"bench-host"'
   || ',"conv_id":' || to_json(conv_id)
   || ',"turn_idx":' || turn_idx
   || ',"role":' || to_json(role)
   || ',"text":' || to_json(text)
   || ',"tool":' || to_json(tool) || '}') AS line_md5
FROM t
"""


def q_dedup_exact(spark, sf_dir):
    """exact dedup: hash-groupBy on normalized text fingerprint."""
    from loongcollector_spark.functions.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


O_DEDUP_EXACT = """
SELECT md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp,
  min(doc_id) AS canonical_doc_id, count(*) AS n_dups
FROM documents GROUP BY 1
"""


def q_token_count(spark, sf_dir):
    from loongcollector_spark.functions.text import with_token_count

    return with_token_count(_docs(spark, sf_dir)).select("doc_id", "n_tokens")


O_TOKEN_COUNT = """
SELECT doc_id,
  CASE WHEN trim(coalesce(text, '')) = '' THEN 0
       ELSE cast(len(string_split_regex(trim(text), '\\s+')) AS INT)
  END AS n_tokens
FROM documents
"""


def q_quality_score(spark, sf_dir):
    from loongcollector_spark.functions.text import with_quality

    return with_quality(_docs(spark, sf_dir)).select(
        "doc_id", "q_len", "pct_alpha", "pct_space", "quality_bucket"
    )


O_QUALITY_SCORE = """
SELECT doc_id,
  cast(length(text) AS INT) AS q_len,
  cast(floor(100.0 * length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / length(text)) AS INT) AS pct_alpha,
  cast(floor(100.0 * (length(text) - length(replace(text, ' ', ''))) / length(text)) AS INT) AS pct_space,
  CASE WHEN length(text) >= 200 AND floor(100.0 * length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / length(text)) >= 70 THEN 'high'
       WHEN length(text) >= 100 THEN 'mid' ELSE 'low' END AS quality_bucket
FROM documents
"""


def q_gopher_quality(spark, sf_dir):
    """Gopher-rule quality signals: word stats + stopword hits +
    top-word repetition ratio per doc, two-level count aggregation."""
    from loongcollector_spark.functions.text import gopher_quality

    return gopher_quality(_docs(spark, sf_dir))


O_GOPHER_QUALITY = """
WITH d AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
  FROM documents WHERE trim(coalesce(text, '')) != ''
),
w AS (SELECT doc_id, unnest(words) AS w FROM d),
pw AS (SELECT doc_id, w, count(*) AS cnt FROM w GROUP BY 1, 2),
a AS (
  SELECT doc_id, sum(cnt) AS n, sum(length(w) * cnt) AS chars,
    sum(CASE WHEN lower(w) IN
        ('the','be','to','of','and','that','have','with')
        THEN cnt ELSE 0 END) AS stop_hits,
    max(cnt) AS top
  FROM pw GROUP BY 1
)
SELECT doc_id, cast(n AS INT) AS n_words,
  cast(floor(100 * chars / n) AS INT) AS mean_word_len_x100,
  cast(stop_hits AS INT) AS stop_hits,
  cast(floor(1000 * top / n) AS INT) AS top_word_ratio_1e3,
  (n >= 5 AND floor(100 * chars / n) BETWEEN 300 AND 1500
   AND stop_hits >= 2 AND floor(1000 * top / n) <= 200) AS gopher_ok
FROM a
"""


def q_benchmark_decontam(spark, sf_dir):
    """Benchmark decontamination: every 13th doc plays the eval set;
    the rest of the corpus is scored by distinct shared 5-gram hashes
    (broadcast benchmark gram join — the corpus is never shuffled)."""
    from loongcollector_spark.functions.curation import decontaminate

    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 13 != 0)
    bench = docs.filter(F.col("doc_id") % 13 == 0)
    return decontaminate(corpus, bench, n=5)


O_BENCHMARK_DECONTAM = """
WITH nw AS (
  SELECT doc_id,
    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
      AS words
  FROM documents WHERE trim(coalesce(text, '')) != ''
),
g AS (
  SELECT doc_id,
    CASE WHEN len(words) >= 5
      THEN list_transform(range(1, len(words) - 5 + 2),
                          i -> array_to_string(words[i:i+4], ' '))
      ELSE [array_to_string(words, ' ')] END AS grams
  FROM nw
),
gh AS (
  SELECT DISTINCT doc_id, md5(gram) AS gram_hash
  FROM (SELECT doc_id, unnest(grams) AS gram FROM g)
),
bench_g AS (SELECT DISTINCT gram_hash FROM gh WHERE doc_id % 13 = 0),
hits AS (
  SELECT doc_id, count(*) AS n
  FROM gh JOIN bench_g USING (gram_hash)
  WHERE doc_id % 13 != 0 GROUP BY doc_id
)
SELECT d.doc_id, cast(coalesce(h.n, 0) AS INT) AS n_hit_grams,
  coalesce(h.n, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id % 13 != 0
"""


def q_stratified_sample(spark, sf_dir):
    """Deterministic md5-prefix stratified sampling over source strata:
    per-stratum keep rates (src0 all, src1 5%, default 25%) as a pure
    scan-stage filter + in-stratum rank for quota cuts."""
    from loongcollector_spark.functions.curation import stratified_sample

    out = stratified_sample(
        _docs(spark, sf_dir), strata_col="source",
        rates={"src0": 1.0, "src1": 0.05}, default_rate=0.25,
    )
    return out.select("doc_id", "source", "sample_rank")


O_STRATIFIED_SAMPLE = """
WITH h AS (
  SELECT doc_id, source, substr(md5(cast(doc_id AS VARCHAR)), 1, 4) AS h4
  FROM documents
),
kept AS (
  SELECT * FROM h
  WHERE h4 < CASE source WHEN 'src0' THEN 'g'
                         WHEN 'src1' THEN '0ccd'
                         ELSE '4000' END
)
SELECT doc_id, source,
  cast(row_number() OVER (PARTITION BY source ORDER BY h4, doc_id) AS INT)
    AS sample_rank
FROM kept
"""


def q_pack_sequences(spark, sf_dir):
    """Token-budget packing: concat-and-chunk shard assignment — per
    source, docs in doc_id order fill 256-token bins; bin_id/bin_offset
    from an exclusive running token sum (two-pass window, counts-only
    shuffle)."""
    from loongcollector_spark.functions.curation import pack_assignments

    return pack_assignments(_docs(spark, sf_dir), budget=256)


O_PACK_SEQUENCES = """
WITH t AS (
  SELECT doc_id, source,
    CASE WHEN trim(coalesce(text, '')) = '' THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
    coalesce(sum(n_tokens) OVER (
      PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM t
)
SELECT doc_id, source, cast(n_tokens AS INT) AS n_tokens,
  cast(cum // 256 AS INT) AS bin_id,
  cast(cum % 256 AS INT) AS bin_offset
FROM c
"""


def q_pii_scrub(spark, sf_dir):
    """C4/Dolma-style PII redaction: emails → <EMAIL>, dotted quads →
    <IP>, dashed phones → <PHONE>, with per-category audit counts. The
    documents fixture is word soup, so deterministic PII is synthesized
    from doc columns first (both engines run the same synthesis)."""
    from loongcollector_spark.functions.curation import pii_scrub

    d = _docs(spark, sf_dir)
    ids = F.col("doc_id").cast("string")
    salted = d.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40),
            F.lit(" mail u"), ids, F.lit("@corp.example.com"),
            F.lit(" from 10.2."), F.pmod("doc_id", F.lit(256)).cast("string"),
            F.lit(".7 tel +1-555-01"), F.lpad(F.pmod("doc_id", F.lit(100)).cast("string"), 2, "0"),
            F.when(F.pmod("doc_id", F.lit(3)) == 0, F.lit(" cc x"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    out = pii_scrub(salted, "text")
    return out.select("doc_id", "n_email", "n_ipv4", "n_phone",
                      F.col("text_scrubbed").alias("scrubbed"))


O_PII_SCRUB = """
WITH s AS (
  SELECT doc_id,
    substr(text, 1, 40)
      || ' mail u' || doc_id || '@corp.example.com'
      || ' from 10.2.' || (doc_id % 256) || '.7 tel +1-555-01'
      || lpad(cast(doc_id % 100 AS VARCHAR), 2, '0')
      || CASE WHEN doc_id % 3 = 0 THEN ' cc x' ELSE '' END AS text
  FROM documents
),
e AS (
  SELECT doc_id,
    cast(len(regexp_extract_all(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_email,
    regexp_replace(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
  FROM s
),
i AS (
  SELECT doc_id, n_email,
    cast(len(regexp_extract_all(t1, '\\b\\d{1,3}(\\.\\d{1,3}){3}\\b')) AS INT)
      AS n_ipv4,
    regexp_replace(t1, '\\b\\d{1,3}(\\.\\d{1,3}){3}\\b', '<IP>', 'g') AS t2
  FROM e
)
SELECT doc_id, n_email, n_ipv4,
  cast(len(regexp_extract_all(t2,
    '\\+?\\b\\d{1,3}[- ]\\d{3,4}[- ]\\d{3,4}\\b')) AS INT) AS n_phone,
  regexp_replace(t2, '\\+?\\b\\d{1,3}[- ]\\d{3,4}[- ]\\d{3,4}\\b',
                 '<PHONE>', 'g') AS scrubbed
FROM i
"""


def q_line_dedup(spark, sf_dir):
    """Corpus-level repeated-line removal (CCNet/Dolma boilerplate pass):
    transcripts ARE the lines frame (conv = document, turn = line); lines
    whose trimmed text occurs ≥5 times across the corpus are dropped and
    each conversation is reassembled from its survivors in turn order."""
    from loongcollector_spark.functions.curation import line_dedup

    df = transcripts_from_events(spark, sf_dir)
    out = line_dedup(df, threshold=5, id_col="conv_id",
                     order_col="turn_idx", line_col="text")
    return out.select(
        "conv_id", "n_kept", "n_removed",
        F.md5(F.col("text_clean").cast("binary")).alias("clean_md5"),
    )


O_LINE_DEDUP = _ORACLE_T + """
, bp AS (
  SELECT trim(text) AS k FROM t WHERE trim(text) <> ''
  GROUP BY 1 HAVING count(*) >= 5
), flagged AS (
  SELECT t.conv_id, t.turn_idx, t.text,
         (bp.k IS NOT NULL) AS rm
  FROM t LEFT JOIN bp ON trim(t.text) = bp.k
)
SELECT conv_id,
  cast(sum(CASE WHEN rm THEN 0 ELSE 1 END) AS INT) AS n_kept,
  cast(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS INT) AS n_removed,
  md5(coalesce(string_agg(CASE WHEN rm THEN NULL ELSE text END, chr(10)
                          ORDER BY turn_idx), '')) AS clean_md5
FROM flagged GROUP BY conv_id
"""


def q_url_domains(spark, sf_dir):
    """URL hygiene: per-registrable-domain crawl stats + blocklist flag.
    The transcripts fixture has no URL column, so both engines derive the
    same deterministic URL from (conv_id, turn_idx): mixed-case hosts,
    occasional ports and subdomains exercise the normalization path."""
    from loongcollector_spark.functions.curation import domain_stats

    df = transcripts_from_events(spark, sf_dir)
    n = F.substring("conv_id", 6, 8).cast("long")
    site = F.pmod(n + F.col("turn_idx"), F.lit(7))
    tld = F.when(F.pmod(n, F.lit(3)) == 0, ".com").otherwise(".org")
    sub = F.when(F.pmod(F.col("turn_idx"), F.lit(4)) == 0, "CDN.")\
        .otherwise(F.lit("www."))
    port = F.when(F.pmod(F.col("turn_idx"), F.lit(5)) == 0, ":8080")\
        .otherwise(F.lit(""))
    urls = df.select(
        F.concat(
            F.lit("https://"), sub, F.lit("Site-"), site.cast("string"),
            tld, port, F.lit("/p/"), F.col("turn_idx").cast("string"),
        ).alias("url")
    )
    return domain_stats(urls, "url", blocked=["site-3.com", "site-5.org"])


O_URL_DOMAINS = _ORACLE_T + """
, u AS (
  SELECT 'https://'
    || CASE WHEN turn_idx % 4 = 0 THEN 'CDN.' ELSE 'www.' END
    || 'Site-' || cast((cast(substr(conv_id, 6, 8) AS BIGINT) + turn_idx) % 7 AS VARCHAR)
    || CASE WHEN cast(substr(conv_id, 6, 8) AS BIGINT) % 3 = 0 THEN '.com' ELSE '.org' END
    || CASE WHEN turn_idx % 5 = 0 THEN ':8080' ELSE '' END
    || '/p/' || cast(turn_idx AS VARCHAR) AS url
  FROM t
), h AS (
  SELECT lower(regexp_replace(
           regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1),
           ':\\d+$', '')) AS host
  FROM u
), d AS (
  SELECT regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS domain, host
  FROM h WHERE host <> ''
), per_host AS (
  SELECT domain, host, count(*) AS n FROM d GROUP BY 1, 2
)
SELECT domain,
  cast(sum(n) AS INT) AS n_urls,
  cast(count(*) AS INT) AS n_hosts,
  domain IN ('site-3.com', 'site-5.org') AS blocked
FROM per_host GROUP BY domain
"""


def q_text_normalize(spark, sf_dir):
    """Unicode/whitespace normalization pass: control chars → space,
    curly quotes and long dashes → ASCII, NBSP → space, runs collapsed.
    Deterministic mess is injected from doc columns first (both engines
    run the same synthesis)."""
    from loongcollector_spark.functions.text import normalize_text

    d = _docs(spark, sf_dir)
    messy = d.select(
        "doc_id",
        F.concat(
            F.lit("“Q” ‘x’ — "),
            F.substring("text", 1, 50),
            F.lit("\tcol"), F.lit("\u00a0nb "),
            F.when(F.pmod("doc_id", F.lit(2)) == 0, F.lit("\x01ctl\x07"))
            .otherwise(F.lit("  sp  ")),
            F.lit(" – end  "),
        ).alias("text"),
    )
    out = normalize_text(messy, "text")
    return out.select(
        "doc_id",
        F.length("text_norm").alias("norm_len"),
        F.md5(F.col("text_norm").cast("binary")).alias("norm_md5"),
    )


O_TEXT_NORMALIZE = """
WITH s AS (
  SELECT doc_id,
    chr(8220) || 'Q' || chr(8221) || ' ' || chr(8216) || 'x' || chr(8217)
      || ' ' || chr(8212) || ' ' || substr(text, 1, 50)
      || chr(9) || 'col' || chr(160) || 'nb '
      || CASE WHEN doc_id % 2 = 0 THEN chr(1) || 'ctl' || chr(7)
              ELSE '  sp  ' END
      || ' ' || chr(8211) || ' end  ' AS text
  FROM documents
), n1 AS (
  SELECT doc_id,
    regexp_replace(text, '[\\x00-\\x08\\x0b-\\x1f\\x7f-\\x9f\\x{00a0}\\x{1680}\\x{2000}-\\x{200a}\\x{2028}\\x{2029}\\x{202f}\\x{205f}\\x{3000}]', ' ', 'g') AS t
  FROM s
), n2 AS (
  SELECT doc_id,
    translate(t, chr(8220) || chr(8221) || chr(8216) || chr(8217)
                 || chr(8212) || chr(8211),
              '""''''--') AS t
  FROM n1
), n3 AS (
  SELECT doc_id, trim(regexp_replace(t, '\\s+', ' ', 'g')) AS t FROM n2
)
SELECT doc_id, cast(length(t) AS INT) AS norm_len, md5(t) AS norm_md5
FROM n3
"""


def q_dup_ngram_ratio(spark, sf_dir):
    """Gopher dup-n-gram repetition signals (n=2) over the documents
    table: total/distinct bigram counts and integer-quantized duplicate
    and top-gram fractions."""
    from loongcollector_spark.functions.text import dup_ngram_stats

    return dup_ngram_stats(_docs(spark, sf_dir), n=2)


O_DUP_NGRAM_RATIO = """
WITH w AS (
  SELECT doc_id,
    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
      AS words
  FROM documents
), idx AS (
  SELECT doc_id, words,
    unnest(CASE WHEN len(words) >= 2 THEN range(1, len(words))
                ELSE [] END) AS i
  FROM w
), grams AS (
  SELECT doc_id, md5(words[i] || ' ' || words[i + 1]) AS g FROM idx
), per AS (
  SELECT doc_id, g, count(*) AS cnt FROM grams GROUP BY 1, 2
), agg AS (
  SELECT doc_id, sum(cnt) AS total, count(*) AS n_distinct, max(cnt) AS top
  FROM per GROUP BY 1
)
SELECT d.doc_id,
  cast(coalesce(a.total, 0) AS INT) AS n_grams,
  cast(coalesce(a.n_distinct, 0) AS INT) AS n_distinct,
  cast(coalesce(floor(1000 * (a.total - a.n_distinct) / a.total), 0) AS INT)
    AS dup_frac_1e3,
  cast(coalesce(floor(1000 * a.top / a.total), 0) AS INT)
    AS top_gram_frac_1e3
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
"""


def q_curation_pipeline(spark, sf_dir):
    """The end-to-end curation chain as ONE Spark plan — the composition
    a 100 TB pipeline runs between "parsed turns" and "training shards":
    conversation merge (ordered) → text normalization → token count →
    fingerprint → exact-dedup canonical survivor → length quality gate →
    deterministic md5-draw sampling flag. Every stage is an operator that
    is also oracled on its own; this query proves the stages compose in
    one lineage (two shuffles total: the conv merge and the fingerprint
    dedup window — normalization/scoring/sampling all ride the scan)."""
    from pyspark.sql import Window

    from loongcollector_spark.functions.curation import rate_cutoff_hex
    from loongcollector_spark.functions.text import normalize_text

    t = transcripts_from_events(spark, sf_dir)
    docs = t.groupBy("conv_id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("turn_idx", "text"))),
                lambda s: s["text"],
            ),
        ).alias("text")
    )
    norm = normalize_text(docs, "text").select(
        "conv_id", F.col("text_norm").alias("text")
    )
    scored = norm.select(
        "conv_id",
        F.when(F.col("text") == "", 0)
        .otherwise(F.size(F.split(F.col("text"), " ")))
        .cast("int").alias("n_tokens"),
        F.md5(F.lower(F.col("text")).cast("binary")).alias("fingerprint"),
    )
    w = Window.partitionBy("fingerprint")
    cutoff = rate_cutoff_hex(0.5)
    return scored.select(
        "conv_id", "n_tokens", "fingerprint",
        (F.col("conv_id") == F.min("conv_id").over(w)).alias("is_canonical"),
        (F.col("n_tokens") >= 10).alias("quality_ok"),
        (
            F.substring(F.md5(F.col("conv_id").cast("binary")), 1, 4)
            < F.lit(cutoff)
        ).alias("sampled"),
    )


O_CURATION_PIPELINE = _ORACLE_T + """
, docs AS (
  SELECT conv_id, string_agg(text, chr(10) ORDER BY turn_idx) AS text
  FROM t GROUP BY conv_id
), n1 AS (
  SELECT conv_id,
    regexp_replace(text, '[\\x00-\\x08\\x0b-\\x1f\\x7f-\\x9f\\x{00a0}\\x{1680}\\x{2000}-\\x{200a}\\x{2028}\\x{2029}\\x{202f}\\x{205f}\\x{3000}]', ' ', 'g') AS tx
  FROM docs
), n2 AS (
  SELECT conv_id,
    translate(tx, chr(8220) || chr(8221) || chr(8216) || chr(8217)
                  || chr(8212) || chr(8211),
              '""''''--') AS tx
  FROM n1
), n3 AS (
  SELECT conv_id, trim(regexp_replace(tx, '\\s+', ' ', 'g')) AS norm FROM n2
), scored AS (
  SELECT conv_id,
    cast(CASE WHEN norm = '' THEN 0
              ELSE len(string_split(norm, ' ')) END AS INT) AS n_tokens,
    md5(lower(norm)) AS fingerprint
  FROM n3
)
SELECT conv_id, n_tokens, fingerprint,
  conv_id = min(conv_id) OVER (PARTITION BY fingerprint) AS is_canonical,
  n_tokens >= 10 AS quality_ok,
  substr(md5(conv_id), 1, 4) < '""" + "8000" + """' AS sampled
FROM scored
"""


def q_lang_id(spark, sf_dir):
    from loongcollector_spark.functions.text import with_lang_guess

    return with_lang_guess(_docs(spark, sf_dir)).select("doc_id", "lang_guess")


O_LANG_ID = """
SELECT doc_id,
  CASE WHEN len(regexp_extract_all(' ' || text || ' ', '[^A-Za-z ]')) > 0 THEN 'other'
       WHEN len(regexp_extract_all(' ' || text || ' ', ' (the|a|of|and|to) ')) >= 2 THEN 'en'
       ELSE 'unknown' END AS lang_guess
FROM documents
"""


def q_doc_fingerprint(spark, sf_dir):
    from loongcollector_spark.functions.text import with_fingerprint

    return with_fingerprint(_docs(spark, sf_dir)).select("doc_id", "fingerprint")


O_DOC_FINGERPRINT = """
SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""


def q_minhash_signatures(spark, sf_dir):
    from loongcollector_spark.functions.dedup import minhash_signatures

    return minhash_signatures(_docs(spark, sf_dir), n_hashes=4, shingle=3)


def _o_minhash(n_hashes: int = 4, shingle: int = 3) -> str:
    cols = ",\n  ".join(
        f"list_min(list_transform(shingles, s -> substr(md5(s), {8 * i + 1}, 8))) AS mh{i}"
        for i in range(n_hashes)
    )
    return f"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words FROM documents
),
sh AS (
  SELECT doc_id,
    CASE WHEN len(words) >= {shingle}
      THEN list_transform(range(1, len(words) - {shingle} + 2),
                          i -> array_to_string(words[i:i+{shingle - 1}], ' '))
      ELSE [array_to_string(words, ' ')] END AS shingles
  FROM w
)
SELECT doc_id, {cols} FROM sh
"""


O_MINHASH_SIGNATURES = _o_minhash()


def q_minhash_lsh_pairs(spark, sf_dir):
    """near-dup candidate pairs: band-bucket equality join on minhash
    bands (the LSH shuffle path)."""
    from loongcollector_spark.functions.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir), n_hashes=4, shingle=3, bands=2)


O_MINHASH_LSH_PAIRS = """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words FROM documents
),
sh AS (
  SELECT doc_id,
    CASE WHEN len(words) >= 3
      THEN list_transform(range(1, len(words) - 3 + 2),
                          i -> array_to_string(words[i:i+2], ' '))
      ELSE [array_to_string(words, ' ')] END AS shingles
  FROM w
),
sig AS (
  SELECT doc_id,
    md5(list_min(list_transform(shingles, s -> substr(md5(s), 1, 8)))
     || list_min(list_transform(shingles, s -> substr(md5(s), 9, 8)))) AS band0,
    md5(list_min(list_transform(shingles, s -> substr(md5(s), 17, 8)))
     || list_min(list_transform(shingles, s -> substr(md5(s), 25, 8)))) AS band1
  FROM sh
),
bands AS (
  SELECT doc_id, band0 AS band, 0 AS band_idx FROM sig
  UNION ALL SELECT doc_id, band1, 1 FROM sig
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_idx = b.band_idx AND a.doc_id < b.doc_id
"""


def q_minhash_wide_pairs(spark, sf_dir):
    """Production-geometry MinHash LSH (16 permutations / 4 bands of 4 —
    the Gopher/RefinedWeb-style banding, scaled to the fixture): salted
    digest groups give arbitrary permutation counts at ⌈k/4⌉ md5 calls
    per shingle; the oracle replays the salted digests byte-for-byte."""
    from loongcollector_spark.functions.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _docs(spark, sf_dir), n_hashes=16, shingle=3, bands=4)


def _wide_band_sql(g: int) -> str:
    salt = "" if g == 0 else f"'g{g}|' || "
    return ("md5(" + " || ".join(
        f"list_min(list_transform(shingles, s -> substr(md5({salt}s), "
        f"{8 * w + 1}, 8)))" for w in range(4)) + ")")


O_MINHASH_WIDE_PAIRS = """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words FROM documents
),
sh AS (
  SELECT doc_id,
    CASE WHEN len(words) >= 3
      THEN list_transform(range(1, len(words) - 3 + 2),
                          i -> array_to_string(words[i:i+2], ' '))
      ELSE [array_to_string(words, ' ')] END AS shingles
  FROM w
),
sig AS (
  SELECT doc_id,
    {b0} AS band0, {b1} AS band1, {b2} AS band2, {b3} AS band3
  FROM sh
),
bands AS (
  SELECT doc_id, band0 AS band, 0 AS band_idx FROM sig
  UNION ALL SELECT doc_id, band1, 1 FROM sig
  UNION ALL SELECT doc_id, band2, 2 FROM sig
  UNION ALL SELECT doc_id, band3, 3 FROM sig
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_idx = b.band_idx AND a.doc_id < b.doc_id
""".format(b0=_wide_band_sql(0), b1=_wide_band_sql(1),
           b2=_wide_band_sql(2), b3=_wide_band_sql(3))


def q_minhash_verified_pairs(spark, sf_dir):
    """Two-stage near-dup: LSH candidates -> EXACT Jaccard verify >= 0.5
    on the shingle sets. The oracle recomputes true Jaccard per candidate
    with list_intersect, so the verify join's pruning (LSH's false
    positives dropped) is hash-checked, not just row-counted."""
    from loongcollector_spark.functions.dedup import minhash_verified_pairs

    return minhash_verified_pairs(
        _docs(spark, sf_dir), n_hashes=4, shingle=3, bands=2,
        min_jaccard_1e3=500,
    )


O_MINHASH_VERIFIED_PAIRS = """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words FROM documents
),
sh AS (
  SELECT doc_id,
    CASE WHEN len(words) >= 3
      THEN list_transform(range(1, len(words) - 3 + 2),
                          i -> array_to_string(words[i:i+2], ' '))
      ELSE [array_to_string(words, ' ')] END AS shingles
  FROM w
),
sig AS (
  SELECT doc_id,
    md5(list_min(list_transform(shingles, s -> substr(md5(s), 1, 8)))
     || list_min(list_transform(shingles, s -> substr(md5(s), 9, 8)))) AS band0,
    md5(list_min(list_transform(shingles, s -> substr(md5(s), 17, 8)))
     || list_min(list_transform(shingles, s -> substr(md5(s), 25, 8)))) AS band1
  FROM sh
),
bands AS (
  SELECT doc_id, band0 AS band, 0 AS band_idx FROM sig
  UNION ALL SELECT doc_id, band1, 1 FROM sig
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_idx = b.band_idx AND a.doc_id < b.doc_id
),
sets AS (
  SELECT doc_id, list_distinct(shingles) AS s FROM sh
)
SELECT doc_a, doc_b, jaccard_1e3 FROM (
  SELECT p.doc_a, p.doc_b,
    cast(floor(1000 * len(list_intersect(a.s, b.s)) /
         (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))) AS INT)
      AS jaccard_1e3
  FROM pairs p
  JOIN sets a ON p.doc_a = a.doc_id
  JOIN sets b ON p.doc_b = b.doc_id
) WHERE jaccard_1e3 >= 500
"""


def q_containment_pairs(spark, sf_dir):
    """Asymmetric containment dedup (Broder): |A∩B| / |A| over the
    exact shingle sets of LSH candidate pairs, BOTH directions — the
    quoted-whole-inside signal Jaccard misses. Verify cost ∝
    candidates; ids and 16-byte hashes shuffle, never text."""
    from loongcollector_spark.functions.dedup import containment_pairs

    return containment_pairs(_docs(spark, sf_dir), min_containment_1e3=600)


O_CONTAINMENT_PAIRS = """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words FROM documents
),
sh AS (
  SELECT doc_id,
    CASE WHEN len(words) >= 3
      THEN list_transform(range(1, len(words) - 3 + 2),
                          i -> array_to_string(words[i:i+2], ' '))
      ELSE [array_to_string(words, ' ')] END AS shingles
  FROM w
),
sets AS (
  SELECT doc_id, list_distinct(shingles) AS s FROM sh
),
posting AS (
  SELECT doc_id, unnest(s) AS g FROM sets
),
rare AS (
  SELECT g FROM posting GROUP BY g HAVING count(*) BETWEEN 2 AND 5
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM posting a JOIN rare USING (g) JOIN posting b USING (g)
  WHERE a.doc_id < b.doc_id
),
directed AS (
  SELECT p.doc_a AS contained, p.doc_b AS container,
    len(list_intersect(a.s, b.s)) AS inter, len(a.s) AS n_contained
  FROM pairs p JOIN sets a ON p.doc_a = a.doc_id
               JOIN sets b ON p.doc_b = b.doc_id
  UNION ALL
  SELECT p.doc_b, p.doc_a,
    len(list_intersect(a.s, b.s)), len(b.s)
  FROM pairs p JOIN sets a ON p.doc_a = a.doc_id
               JOIN sets b ON p.doc_b = b.doc_id
)
SELECT contained, container,
  cast(floor(1000 * inter / n_contained) AS INT) AS containment_1e3,
  cast(inter AS BIGINT) AS inter, cast(n_contained AS BIGINT) AS n_contained
FROM directed WHERE floor(1000 * inter / n_contained) >= 600
"""


def q_dedup_clusters(spark, sf_dir):
    """near-dup clustering: MinHash-LSH pairs → connected components →
    one row per clustered doc with canonical survivor + cluster size.
    Oracle recomputes components via an exact recursive transitive
    closure, so label-propagation convergence is hash-verified."""
    from loongcollector_spark.functions.dedup import dedup_clusters

    return dedup_clusters(_docs(spark, sf_dir), n_hashes=4, shingle=3, bands=2)


O_DEDUP_CLUSTERS = """
WITH RECURSIVE w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words FROM documents
),
sh AS (
  SELECT doc_id,
    CASE WHEN len(words) >= 3
      THEN list_transform(range(1, len(words) - 3 + 2),
                          i -> array_to_string(words[i:i+2], ' '))
      ELSE [array_to_string(words, ' ')] END AS shingles
  FROM w
),
sig AS (
  SELECT doc_id,
    md5(list_min(list_transform(shingles, s -> substr(md5(s), 1, 8)))
     || list_min(list_transform(shingles, s -> substr(md5(s), 9, 8)))) AS band0,
    md5(list_min(list_transform(shingles, s -> substr(md5(s), 17, 8)))
     || list_min(list_transform(shingles, s -> substr(md5(s), 25, 8)))) AS band1
  FROM sh
),
bands AS (
  SELECT doc_id, band0 AS band, 0 AS band_idx FROM sig
  UNION ALL SELECT doc_id, band1, 1 FROM sig
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_idx = b.band_idx AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(node, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.node
),
comp AS (SELECT node, min(comp) AS cluster_id FROM reach GROUP BY node)
SELECT node AS doc_id, cluster_id,
  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
  node = cluster_id AS keep
FROM comp
"""


def q_ann_cosine_topk(spark, sf_dir):
    from loongcollector_spark.functions.similarity import cosine_topk

    return cosine_topk(_emb(spark, sf_dir), query_vec_id=0, k=10)


O_ANN_COSINE_TOPK = """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
SELECT vec_id, round(list_dot_product(
    list_transform(embedding, x -> cast(x AS DOUBLE)),
    list_transform(qe, x -> cast(x AS DOUBLE))
  ) / (sqrt(list_dot_product(list_transform(embedding, x -> cast(x AS DOUBLE)),
                             list_transform(embedding, x -> cast(x AS DOUBLE))))
     * sqrt(list_dot_product(list_transform(qe, x -> cast(x AS DOUBLE)),
                             list_transform(qe, x -> cast(x AS DOUBLE))))), 4) AS cos_sim
FROM embeddings, q WHERE vec_id != 0
ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
"""


def q_ann_topk_batch(spark, sf_dir):
    """Batched brute-force cosine top-k (4 query vectors, one corpus
    scan, per-query window rank) — production ANN's actual shape; the
    oracle recomputes every (query, neighbor) score + rank with a SQL
    window."""
    from loongcollector_spark.functions.similarity import cosine_topk_batch

    return cosine_topk_batch(_emb(spark, sf_dir), [0, 1, 2, 3], k=5)


O_ANN_TOPK_BATCH = """
WITH qd AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> cast(x AS DOUBLE)) AS qe
  FROM embeddings WHERE vec_id IN (0, 1, 2, 3)
), cd AS (
  SELECT vec_id, list_transform(embedding, x -> cast(x AS DOUBLE)) AS emb
  FROM embeddings
), scored AS (
  SELECT query_id, vec_id,
    round(list_dot_product(emb, qe)
          / (sqrt(list_dot_product(emb, emb))
             * sqrt(list_dot_product(qe, qe))), 4) AS cos_sim
  FROM cd, qd WHERE vec_id != query_id
)
SELECT query_id, vec_id AS neighbor_id, cos_sim, cast(rank AS INT) AS rank
FROM (
  SELECT query_id, vec_id, cos_sim,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


def q_ann_lsh_bucketed(spark, sf_dir):
    """ANN top-k over band-sharing candidates (24 bits / 4 bands ≈ 6% of
    the corpus probed; oracle replays the same banding)."""
    from loongcollector_spark.functions.similarity import lsh_bucketed_topk

    return lsh_bucketed_topk(
        _emb(spark, sf_dir), query_vec_id=0, k=5, n_bits=24, bands=4
    )


O_ANN_LSH_BUCKETED = f"""
WITH {_o_banded_e(24, 4)},
q AS (SELECT emb AS qe, band0 AS qb0, band1 AS qb1, band2 AS qb2, band3 AS qb3
      FROM e WHERE vec_id = 0)
SELECT vec_id, round(list_dot_product(emb, qe)
    / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qe, qe))), 4) AS cos_sim
FROM e, q WHERE vec_id != 0
  AND (band0 = qb0 OR band1 = qb1 OR band2 = qb2 OR band3 = qb3)
ORDER BY cos_sim DESC, vec_id ASC LIMIT 5
"""


def q_ann_ivf_topk(spark, sf_dir):
    """IVF-style ANN: 16 deterministic seed centroids, nearest-centroid
    cell assignment (argmax cosine, ties → lowest cid), probe the 4
    cells nearest the query, exact-score survivors. The oracle replays
    the identical quantization so cell membership is hash-checked."""
    from loongcollector_spark.functions.similarity import ivf_topk

    return ivf_topk(_emb(spark, sf_dir), query_vec_id=0, k=5,
                    n_centroids=16, nprobe=4)


O_ANN_IVF_TOPK = """
WITH E AS (
  SELECT vec_id, list_transform(embedding, x -> cast(x AS DOUBLE)) AS emb
  FROM embeddings
),
c AS (SELECT vec_id AS cid, emb AS cvec FROM E WHERE vec_id BETWEEN 1 AND 16),
v AS (SELECT vec_id, emb FROM E WHERE vec_id != 0),
scored AS (
  SELECT v.vec_id, c.cid,
    list_dot_product(v.emb, c.cvec)
      / (sqrt(list_dot_product(v.emb, v.emb))
       * sqrt(list_dot_product(c.cvec, c.cvec))) AS cs
  FROM v, c
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn
    FROM scored
  ) WHERE rn = 1
),
q AS (SELECT emb AS qe FROM E WHERE vec_id = 0),
qcells AS (
  SELECT cid FROM c, q
  ORDER BY list_dot_product(cvec, qe)
      / (sqrt(list_dot_product(cvec, cvec))
       * sqrt(list_dot_product(qe, qe))) DESC, cid ASC
  LIMIT 4
)
SELECT vec_id, round(
    list_dot_product(v.emb, q.qe)
      / (sqrt(list_dot_product(v.emb, v.emb))
       * sqrt(list_dot_product(q.qe, q.qe))), 4) AS cos_sim
FROM v JOIN assign USING (vec_id) JOIN qcells ON assign.cid = qcells.cid, q
ORDER BY cos_sim DESC, vec_id ASC LIMIT 5
"""


def q_ann_ivf_refined(spark, sf_dir):
    """IVF ANN over Lloyd-REFINED centroids (similarity.kmeans_refine):
    2 driver-synchronized rounds of integer-quantized mean updates from
    the 16 deterministic seeds, then the same probe-4/score path as
    ann_ivf_topk. The oracle unrolls both rounds as CTEs (the BPE
    pattern) and reproduces every centroid bit-for-bit, so cell
    assignment AND the final top-k are hash-checked. On this fixture
    refinement lifts recall@5 vs brute force from 3/5 to 4/5 (finds the
    true top-1 the seed centroids miss) — asserted in
    tests/test_similarity_refine.py."""
    from loongcollector_spark.functions.similarity import (
        ivf_topk, kmeans_refine,
    )

    emb = _emb(spark, sf_dir)
    cent = kmeans_refine(emb, n_centroids=16, n_rounds=2)
    return ivf_topk(emb, query_vec_id=0, k=5, nprobe=4, cent=cent)


_KM_ROUND = """
s{r} AS (
  SELECT v.vec_id, c.cid,
    list_dot_product(v.emb, c.cvec)
      / (v.nrm * sqrt(list_dot_product(c.cvec, c.cvec))) AS cs
  FROM V v, c{p} c
),
a{r} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC)
        AS rn
    FROM s{r}
  ) WHERE rn = 1
),
m{r} AS (
  SELECT a{r}.cid, unnest(range(0, 64)) AS dim, unnest(QV.q) AS qvv
  FROM a{r} JOIN QV USING (vec_id)
),
g{r} AS (
  SELECT cid, dim, sum(qvv) AS s, count(*) AS n
  FROM m{r} GROUP BY cid, dim
),
n{r} AS (
  SELECT cid, list(cast(s AS DOUBLE) / (n * 1048576.0) ORDER BY dim)
    AS cvec
  FROM g{r} GROUP BY cid
),
c{r} AS (
  SELECT c{p}.cid, coalesce(n{r}.cvec, c{p}.cvec) AS cvec
  FROM c{p} LEFT JOIN n{r} USING (cid)
)"""

O_ANN_IVF_REFINED = """
WITH E AS (
  SELECT vec_id, list_transform(embedding, x -> cast(x AS DOUBLE)) AS emb
  FROM embeddings
),
EN AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM E),
V AS (SELECT * FROM EN WHERE nrm > 0),
QV AS (
  SELECT vec_id,
    list_transform(emb, x -> cast(floor(x * 1048576.0) AS BIGINT)) AS q
  FROM V
),
c0 AS (SELECT vec_id AS cid, emb AS cvec FROM EN
       WHERE vec_id BETWEEN 1 AND 16),""" + _KM_ROUND.format(
    r=1, p=0) + "," + _KM_ROUND.format(r=2, p=1) + """,
cc AS (
  SELECT cid, cvec, sqrt(list_dot_product(cvec, cvec)) AS cnorm FROM c2
),
corpus AS (SELECT vec_id, emb, nrm FROM EN WHERE vec_id != 0),
scored AS (
  SELECT v.vec_id, cc.cid,
    list_dot_product(v.emb, cc.cvec) / (v.nrm * cc.cnorm) AS cs
  FROM corpus v, cc
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC)
        AS rn
    FROM scored
  ) WHERE rn = 1
),
q AS (SELECT emb AS qe, nrm AS qn FROM EN WHERE vec_id = 0),
qcells AS (
  SELECT cid FROM cc, q
  ORDER BY list_dot_product(cvec, qe) / (cnorm * qn) DESC, cid ASC
  LIMIT 4
)
SELECT vec_id, round(
    list_dot_product(v.emb, q.qe) / (v.nrm * q.qn), 4) AS cos_sim
FROM corpus v JOIN assign USING (vec_id)
  JOIN qcells ON assign.cid = qcells.cid, q
ORDER BY cos_sim DESC, vec_id ASC LIMIT 5
"""


def q_semantic_dedup_refined(spark, sf_dir):
    """SemDeDup over the SAME Lloyd-refined centroids as
    ann_ivf_refined — the second consumer of the kmeans_refine seam,
    proving the refined cells drop into the cluster-then-prune plan
    unchanged. Oracle: the unrolled 2-round k-means prelude + the
    within-cell pairwise tail, all hash-checked."""
    from loongcollector_spark.functions.similarity import (
        kmeans_refine, semantic_dedup,
    )

    emb = _emb(spark, sf_dir)
    cent = kmeans_refine(emb, n_centroids=16, n_rounds=2)
    return semantic_dedup(emb, n_centroids=16, min_cos_1e4=3000,
                          cent=cent)


O_SEMANTIC_DEDUP_REFINED = """
WITH E AS (
  SELECT vec_id, list_transform(embedding, x -> cast(x AS DOUBLE)) AS emb
  FROM embeddings
),
EN AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM E),
V AS (SELECT * FROM EN WHERE nrm > 0),
QV AS (
  SELECT vec_id,
    list_transform(emb, x -> cast(floor(x * 1048576.0) AS BIGINT)) AS q
  FROM V
),
c0 AS (SELECT vec_id AS cid, emb AS cvec FROM EN
       WHERE vec_id BETWEEN 1 AND 16),""" + _KM_ROUND.format(
    r=1, p=0) + "," + _KM_ROUND.format(r=2, p=1) + """,
cc AS (
  SELECT cid, cvec, sqrt(list_dot_product(cvec, cvec)) AS cnorm FROM c2
),
scored AS (
  SELECT EN.vec_id, cc.cid,
    list_dot_product(EN.emb, cc.cvec) / (EN.nrm * cc.cnorm) AS cs
  FROM EN, cc
),
cells AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC)
        AS rn
    FROM scored
  ) WHERE rn = 1
),
m AS (SELECT vec_id, cell, emb FROM cells JOIN E USING (vec_id)),
dup AS (
  SELECT DISTINCT b.vec_id
  FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE floor(10000 * list_dot_product(a.emb, b.emb)
      / (sqrt(list_dot_product(a.emb, a.emb))
       * sqrt(list_dot_product(b.emb, b.emb)))) >= 3000
)
SELECT m.vec_id, m.cell, dup.vec_id IS NULL AS kept
FROM m LEFT JOIN dup ON m.vec_id = dup.vec_id
"""


def q_cross_doc_gram_share(spark, sf_dir):
    """ExactSubstr-flavored cross-document repetition (Lee et al. 2022,
    approximated by 5-gram doc-frequency counting): per document, the
    count and ratio of its distinct word 5-grams that appear in at least
    one other document. The oracle rebuilds the same distinct-gram index
    and document frequencies."""
    from loongcollector_spark.functions.curation import cross_doc_gram_share

    return cross_doc_gram_share(_docs(spark, sf_dir), n=5)


O_CROSS_DOC_GRAM_SHARE = """
WITH nw AS (
  SELECT doc_id,
    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
      AS words
  FROM documents WHERE trim(coalesce(text, '')) != ''
),
g AS (
  SELECT doc_id,
    CASE WHEN len(words) >= 5
      THEN list_transform(range(1, len(words) - 5 + 2),
                          i -> array_to_string(words[i:i+4], ' '))
      ELSE [array_to_string(words, ' ')] END AS grams
  FROM nw
),
gh AS (
  SELECT DISTINCT doc_id, md5(gram) AS gram_hash
  FROM (SELECT doc_id, unnest(grams) AS gram FROM g)
),
dfreq AS (SELECT gram_hash, count(*) AS ndocs FROM gh GROUP BY gram_hash)
SELECT doc_id, count(*) AS n_grams,
  cast(sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
  cast(floor(1000.0 * sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END)
             / count(*)) AS BIGINT) AS shared_ratio_1e3
FROM gh JOIN dfreq USING (gram_hash)
GROUP BY doc_id
"""


def q_exact_substr_trim(spark, sf_dir):
    """ExactSubstr span REMOVAL (Lee et al. 2022 §4.1): duplicated
    5-gram spans deleted everywhere but the min-doc copy; the oracle
    replays the whole trim (gram index → min/max doc → hit positions →
    range anti-join → reassembled-text md5) independently."""
    from loongcollector_spark.functions.curation import exact_substr_trim

    return exact_substr_trim(_docs(spark, sf_dir), k=5)


O_EXACT_SUBSTR_TRIM = """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
  FROM documents WHERE trim(coalesce(text, '')) != ''
),
tok AS (
  SELECT doc_id, unnest(words) AS word,
         generate_subscripts(words, 1) - 1 AS pos
  FROM w
),
g AS (
  SELECT doc_id, cast(u.i - 1 AS BIGINT) AS p,
         md5(array_to_string(words[u.i:u.i+4], ' ')) AS gh
  FROM w, unnest(range(1, len(words) - 5 + 2)) AS u(i)
  WHERE len(words) >= 5
),
stats AS (
  SELECT gh, min(doc_id) AS mdoc, max(doc_id) AS xdoc FROM g GROUP BY gh
),
hits AS (
  SELECT g.doc_id, g.p FROM g JOIN stats USING (gh)
  WHERE stats.mdoc <> stats.xdoc AND g.doc_id <> stats.mdoc
),
kept AS (
  SELECT t.doc_id, t.pos, t.word FROM tok t
  LEFT JOIN hits h
    ON h.doc_id = t.doc_id AND t.pos BETWEEN h.p AND h.p + 4
  WHERE h.p IS NULL
),
kagg AS (
  SELECT doc_id, count(*) AS n_kept,
         md5(string_agg(word, ' ' ORDER BY pos)) AS trimmed_md5
  FROM kept GROUP BY doc_id
),
totals AS (SELECT doc_id, len(words) AS n_total FROM w)
SELECT t.doc_id, cast(t.n_total AS INT) AS n_total,
  cast(t.n_total - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed,
  coalesce(k.trimmed_md5, md5('')) AS trimmed_md5
FROM totals t LEFT JOIN kagg k USING (doc_id)
"""


def q_lm_perplexity_filter(spark, sf_dir):
    """CCNet-style LM quality scoring (Wenzek et al. 2020): word-bigram
    add-one model trained on the corpus, every document scored by its
    average quantized log10 bigram probability. Per-bigram quantization
    to an integer BEFORE summing makes the score aggregation-order-free,
    so the DuckDB oracle (same counts, same smoothing, same floor)
    hash-matches despite floating-point log10."""
    from loongcollector_spark.functions.lm import bigram_lm_scores

    return bigram_lm_scores(_docs(spark, sf_dir))


O_LM_PERPLEXITY_FILTER = """
WITH d AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS words
  FROM documents WHERE length(trim(text)) > 0
),
u AS (
  SELECT doc_id, unnest(words) AS w,
         unnest(range(1, len(words) + 1)) AS i
  FROM d WHERE len(words) >= 2
),
b AS (
  SELECT doc_id, w AS w1,
    lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2
  FROM u QUALIFY w2 IS NOT NULL
),
c2 AS (SELECT w1, w2, count(*) AS n2 FROM b GROUP BY 1, 2),
c1 AS (SELECT w1, count(*) AS n1 FROM b GROUP BY 1),
v AS (SELECT count(DISTINCT w) AS v FROM (SELECT unnest(words) AS w FROM d)),
s AS (
  SELECT b.doc_id,
    floor(1000.0 * log10((n2 + 1.0) / (n1 + cast(v.v AS DOUBLE))) + 1e-9) AS li
  FROM b JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v
)
SELECT doc_id, count(*) AS n_bigrams,
  cast(floor(avg(li)) AS BIGINT) AS lm_score_1e3
FROM s GROUP BY doc_id
"""


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style cluster-then-prune (Abbas et al. 2023): 16
    deterministic seed centroids (the ivf_topk quantizer), nearest-cell
    assignment, then within-cell pairwise cosine — a vector is dropped
    when a lower-id cell-mate scores floor(1e4*cos) >= 3000. The oracle
    replays the identical argmax assignment and pairwise rule, so cell
    membership AND the kept/dropped decision are hash-checked."""
    from loongcollector_spark.functions.similarity import semantic_dedup

    return semantic_dedup(_emb(spark, sf_dir), n_centroids=16,
                          min_cos_1e4=3000)


O_SEMANTIC_DEDUP = """
WITH E AS (
  SELECT vec_id, list_transform(embedding, x -> cast(x AS DOUBLE)) AS emb
  FROM embeddings
),
c AS (SELECT vec_id AS cid, emb AS cvec FROM E WHERE vec_id BETWEEN 1 AND 16),
scored AS (
  SELECT E.vec_id, c.cid,
    list_dot_product(E.emb, c.cvec)
      / (sqrt(list_dot_product(E.emb, E.emb))
       * sqrt(list_dot_product(c.cvec, c.cvec))) AS cs
  FROM E, c
),
assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn
    FROM scored
  ) WHERE rn = 1
),
m AS (SELECT vec_id, cell, emb FROM assign JOIN E USING (vec_id)),
dup AS (
  SELECT DISTINCT b.vec_id
  FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE floor(10000 * list_dot_product(a.emb, b.emb)
      / (sqrt(list_dot_product(a.emb, a.emb))
       * sqrt(list_dot_product(b.emb, b.emb)))) >= 3000
)
SELECT m.vec_id, m.cell, dup.vec_id IS NULL AS kept
FROM m LEFT JOIN dup ON m.vec_id = dup.vec_id
"""


def q_ngram_jaccard(spark, sf_dir):
    from loongcollector_spark.functions.dedup import ngram_jaccard_adjacent

    return ngram_jaccard_adjacent(_docs(spark, sf_dir))


O_NGRAM_JACCARD = """
WITH w AS (
  SELECT doc_id, list_distinct(string_split_regex(trim(text), '\\s+')) AS words
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  cast(floor(1000.0 * len(list_intersect(a.words, b.words))
       / len(list_distinct(list_concat(a.words, b.words)))) AS INT) AS jaccard_1e3
FROM w a JOIN w b ON b.doc_id = a.doc_id + 1
"""


# --------------------------------------------------------------------------
# operator-family coverage queries (every registered operator gets an
# oracle-backed row; grouped as chains mirroring core/unittest/processor/
# golden-case structure)
# --------------------------------------------------------------------------

def q_fieldops_chain(spark, sf_dir):
    """fieldops family end-to-end: add_fields → rename → appender →
    pack_json → base64 encode → base64 decode round-trip → drop →
    pick_key. One codegen pass, no shuffle."""
    from loongcollector_spark.operators import build_chain

    df = transcripts_from_events(spark, sf_dir)
    chain = build_chain([
        {"Type": "processor_add_fields", "Fields": {"env": "prod"}},
        {"Type": "processor_add_fields", "Fields": {"env": "SHOULD_NOT_WIN"},
         "IgnoreIfExist": True},
        {"Type": "processor_rename", "SourceKeys": ["role"], "DestKeys": ["actor"]},
        {"Type": "processor_appender", "Key": "env", "Value": "-v2"},
        {"Type": "processor_pack_json", "SourceKeys": ["actor", "env"],
         "DestKey": "packed"},
        {"Type": "processor_base64_encoding", "SourceKey": "packed",
         "NewKey": "packed_b64"},
        {"Type": "processor_base64_decoding", "SourceKey": "packed_b64",
         "NewKey": "packed_rt"},
        {"Type": "processor_drop", "DropKeys": ["tool", "text"]},
        {"Type": "processor_pick_key",
         "Include": ["conv_id", "turn_idx", "actor", "env", "packed",
                     "packed_b64", "packed_rt"]},
    ])
    return chain(df)


O_FIELDOPS_CHAIN = _ORACLE_T + """
SELECT conv_id, turn_idx, role AS actor, 'prod-v2' AS env,
  '{"actor":"' || role || '","env":"prod-v2"}' AS packed,
  to_base64(encode('{"actor":"' || role || '","env":"prod-v2"}')) AS packed_b64,
  '{"actor":"' || role || '","env":"prod-v2"}' AS packed_rt
FROM t
"""


def q_filterops_combo(spark, sf_dir):
    """filterops family: filter_regex (Include + Exclude full-match) →
    filter_key_regex (schema gate) → timestamp_filter bounds."""
    from loongcollector_spark.operators import build_chain

    df = transcripts_from_events(spark, sf_dir)
    chain = build_chain([
        {"Type": "processor_filter_regex",
         "Include": {"role": "user|assistant"},
         "Exclude": {"tool": "none_.*"}},
        {"Type": "processor_filter_key_regex", "Include": ["conv_.*", "t.*"]},
        {"Type": "processor_timestamp_filter", "SourceKey": "ts",
         "LowerBound": "2024-01-08 00:00:00", "UpperBound": "2024-01-22 00:00:00"},
    ])
    return chain(df).select("conv_id", "turn_idx", "role", "tool", "ts")


O_FILTEROPS_COMBO = _ORACLE_T + """
SELECT conv_id, turn_idx, role, tool, ts FROM t
WHERE regexp_full_match(role, 'user|assistant')
  AND NOT regexp_full_match(tool, 'none_.*')
  AND ts BETWEEN '2024-01-08 00:00:00' AND '2024-01-22 00:00:00'
"""


def q_split_explode(spark, sf_dir):
    """processor_string_replace (const) + processor_split_log_string:
    rewrite kv '&' pairs to newlines, split one event into N with stable
    line_idx order (the file-offset analog)."""
    from loongcollector_spark.operators import build_chain

    df = transcripts_from_events(spark, sf_dir).filter(
        F.col("text").rlike(r"^\w+=[^ ]*&")
    ).select("conv_id", "turn_idx", "text")
    chain = build_chain([
        {"Type": "processor_string_replace", "SourceKey": "text",
         "Method": "const", "Match": "&", "ReplaceString": "\n"},
        {"Type": "processor_split_log_string", "SourceKey": "text",
         "SplitChar": "\n"},
    ])
    return chain(df).select(
        "conv_id", "turn_idx", F.col("line_idx").cast("int").alias("line_idx"),
        F.col("text").alias("line"),
    )


O_SPLIT_EXPLODE = _ORACLE_T + r"""
, parts AS (
  SELECT conv_id, turn_idx, string_split(text, '&') AS p
  FROM t WHERE regexp_matches(text, '^\w+=[^ ]*&')
)
SELECT conv_id, turn_idx, cast(unnest(range(len(p))) AS INT) AS line_idx,
  unnest(p) AS line
FROM parts
"""


def q_split_log_regex_blob(spark, sf_dir):
    """processor_merge_conversation → processor_split_log_regex: merge each
    conversation into one blob, then re-split it on the app/nginx
    start-pattern state machine (the multiline splitter)."""
    from loongcollector_spark.operators import build_operator as _op

    df = transcripts_from_events(spark, sf_dir)
    blob = _op({"Type": "processor_merge_conversation"})(df).select(
        "conv_id", F.col("merged_text").alias("text")
    )
    out = _op({
        "Type": "processor_split_log_regex",
        "SplitRegex": r"\d+\.\d+\.\d+\.\d+.*",
        "OrderKeys": ["conv_id"],
    })(blob)
    return out.select(
        "conv_id", F.col("line_idx").cast("int").alias("line_idx"),
        F.md5(F.col("text").cast("binary")).alias("part_md5"),
    )


O_SPLIT_LOG_REGEX_BLOB = _ORACLE_T + r"""
, flagged AS (
  SELECT conv_id, turn_idx, text,
    sum(CASE WHEN regexp_matches(text, '^\d+\.\d+\.\d+\.\d+.*') THEN 1 ELSE 0 END)
      OVER (PARTITION BY conv_id ORDER BY turn_idx) AS gid
  FROM t
)
SELECT conv_id, cast(min(turn_idx) AS INT) AS line_idx,
  md5(string_agg(text, chr(10) ORDER BY turn_idx)) AS part_md5
FROM flagged GROUP BY conv_id, gid
"""


def q_container_stdio(spark, sf_dir):
    """processor_parse_container_log (containerd CRI format): derive
    '<time> <stream> <P|F> <body>' lines from the transcripts, parse, drop
    stderr (IgnoringStderr)."""
    df = transcripts_from_events(spark, sf_dir)
    df = df.withColumn(
        "cri_line",
        F.concat(
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z' "),
            F.when(F.col("role") == "system", "stderr").otherwise("stdout"),
            F.when(F.col("turn_idx") % 3 == 0, F.lit(" P ")).otherwise(F.lit(" F ")),
            F.col("text"),
        ),
    )
    op = build_operator({
        "Type": "processor_parse_container_log", "SourceKey": "cri_line",
        "Format": "containerd", "IgnoringStderr": True,
    })
    return op(df).filter("_parse_ok").select(
        "conv_id", "turn_idx",
        F.col("_time_").alias("cri_time"),
        F.col("_source_").alias("stream"),
        F.col("_part_").alias("is_partial"),
        F.md5(F.col("content").cast("binary")).alias("content_md5"),
    )


O_CONTAINER_STDIO = _ORACLE_T + """
SELECT conv_id, turn_idx,
  strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS cri_time,
  'stdout' AS stream,
  (turn_idx % 3 = 0) AS is_partial,
  md5(text) AS content_md5
FROM t WHERE role != 'system'
"""


def q_merge_by_flag(spark, sf_dir):
    """processor_merge_multiline_log MergeType=flag chained on the CRI
    parse (MergeLogsByFlag, ProcessorMergeMultilineLogNative.cpp:115-160):
    runs of P-flag lines merge with the following F line, concatenated
    WITHOUT line breaks; a trailing P-run still merges."""
    df = transcripts_from_events(spark, sf_dir)
    df = df.withColumn(
        "cri_line",
        F.concat(
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z' "),
            F.lit("stdout"),
            F.when(F.col("turn_idx") % 3 < 2, F.lit(" P ")).otherwise(F.lit(" F ")),
            F.col("text"),
        ),
    )
    parse = build_operator({
        "Type": "processor_parse_container_log", "SourceKey": "cri_line",
    })
    merge = build_operator({
        "Type": "processor_merge_multiline_log", "MergeType": "flag",
        "SourceKey": "content",
    })
    out = merge(parse(df).select("conv_id", "turn_idx", "content", "_part_", "ts"))
    return out.select(
        "conv_id", "turn_idx", "n_merged",
        F.md5(F.col("content").cast("binary")).alias("merged_md5"),
    )


O_MERGE_BY_FLAG = _ORACLE_T + """
, f AS (
  SELECT conv_id, turn_idx, text, (turn_idx % 3 < 2) AS part
  FROM t
), b AS (
  SELECT *,
    NOT coalesce(lag(part) OVER (PARTITION BY conv_id ORDER BY turn_idx),
                 false) AS begins
  FROM f
), g AS (
  SELECT *, sum(CASE WHEN begins THEN 1 ELSE 0 END)
    OVER (PARTITION BY conv_id ORDER BY turn_idx ROWS UNBOUNDED PRECEDING)
    AS mgid
  FROM b
)
SELECT conv_id, min(turn_idx) AS turn_idx, count(*) AS n_merged,
  md5(string_agg(text, '' ORDER BY turn_idx)) AS merged_md5
FROM g GROUP BY conv_id, mgid
"""


def q_gotime_layouts(spark, sf_dir):
    """processor_gotime with GO reference-time layouts: format the event
    time as nginx-CLF and ISO strings, parse them back through translated
    Go layouts, emit epoch seconds (must round-trip)."""
    from loongcollector_spark.operators import build_chain

    df = transcripts_from_events(spark, sf_dir)
    df = df.withColumn("clf", F.date_format("ts", "dd/MMM/yyyy:HH:mm:ss xx"))
    df = df.withColumn("iso", F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"))
    chain = build_chain([
        {"Type": "processor_gotime", "SourceKey": "clf",
         "SourceFormat": "02/Jan/2006:15:04:05 -0700", "DestKey": "t1"},
        {"Type": "processor_gotime", "SourceKey": "iso",
         "SourceFormat": "2006-01-02T15:04:05", "DestKey": "t2"},
    ])
    out = chain(df)
    return out.select(
        "conv_id", "turn_idx",
        F.unix_timestamp("t1").alias("unix_clf"),
        F.unix_timestamp("t2").alias("unix_iso"),
    )


O_GOTIME_LAYOUTS = _ORACLE_T + """
SELECT conv_id, turn_idx,
  cast(floor(epoch(ts)) AS BIGINT) AS unix_clf,
  cast(floor(epoch(ts)) AS BIGINT) AS unix_iso
FROM t
"""


def q_json_dynamic_attrs(spark, sf_dir):
    """processor_parse_json schema-less mode: dynamic top-level keys into a
    map column, exploded to per-key counts (the schema-discovery path)."""
    df = transcripts_from_events(spark, sf_dir).filter(
        F.col("text").startswith("{")
    )
    op = build_operator({
        "Type": "processor_parse_json", "SourceKey": "text",
    })
    out = op(df).filter("_parse_ok")
    return (
        out.select(F.explode(F.map_keys(F.col("attrs"))).alias("attr_key"))
        .groupBy("attr_key")
        .agg(F.count("*").alias("n_rows"))
    )


O_JSON_DYNAMIC_ATTRS = _ORACLE_T + """
SELECT attr_key, count(*) AS n_rows FROM (
  SELECT unnest(json_keys(text)) AS attr_key
  FROM t WHERE text LIKE '{%' AND json_valid(text)
) GROUP BY 1
"""


def q_kv_missing_keys(spark, sf_dir):
    """processor_split_key_value with AllowingMissingKeys (truncated kv
    payloads parse partially) + processor_drop_last_key (raw nulled only
    when every Include key parsed)."""
    from loongcollector_spark.operators import build_chain

    df = transcripts_from_events(spark, sf_dir).filter(
        F.col("text").rlike(r"^(action|lat_ms|ok|tok)=")
    ).select("conv_id", "turn_idx", "text")
    chain = build_chain([
        {"Type": "processor_split_key_value", "SourceKey": "text",
         "Delimiter": "&", "Separator": "=",
         "Keys": ["action", "lat_ms"], "AllowingMissingKeys": True,
         "KeepingSourceWhenParseSucceed": True},
        {"Type": "processor_drop_last_key", "DropKey": "text",
         "Include": ["action", "lat_ms"]},
    ])
    return chain(df).select("conv_id", "turn_idx", "text", "action", "lat_ms")


O_KV_MISSING_KEYS = _ORACLE_T + r"""
, kvs AS (
  SELECT conv_id, turn_idx, text,
    CASE WHEN regexp_matches(text, '(^|&)action=') THEN regexp_extract(text, '(^|&)action=([^&]*)', 2) END AS action,
    CASE WHEN regexp_matches(text, '(^|&)lat_ms=') THEN regexp_extract(text, '(^|&)lat_ms=([^&]*)', 2) END AS lat_ms
  FROM t WHERE regexp_matches(text, '^(action|lat_ms|ok|tok)=')
)
SELECT conv_id, turn_idx,
  CASE WHEN action IS NOT NULL AND lat_ms IS NOT NULL THEN NULL ELSE text END AS text,
  action, lat_ms
FROM kvs
"""


def q_desensitize_region(spark, sf_dir):
    """processor_desensitize const mode with RegexBegin/RegexContent:
    mask the digits after 'lat_ms=' in kv payloads."""
    df = transcripts_from_events(spark, sf_dir).filter(
        F.col("text").rlike(r"^\w+=[^ ]*&")
    ).select("conv_id", "turn_idx", "text")
    op = build_operator({
        "Type": "processor_desensitize", "SourceKey": "text",
        "Method": "const", "RegexBegin": "lat_ms=",
        "RegexContent": "[0-9]+", "ReplacingString": "***",
    })
    return op(df).select("conv_id", "turn_idx", F.col("text").alias("masked"))


O_DESENSITIZE_REGION = _ORACLE_T + r"""
SELECT conv_id, turn_idx,
  regexp_replace(text, '(lat_ms=)[0-9]+', '\1***', 'g') AS masked
FROM t WHERE regexp_matches(text, '^\w+=[^ ]*&')
"""


def q_tag_meta_defaults(spark, sf_dir):
    """processor_tag + processor_cloud_meta + processor_default: constant
    group-tag stamping; counted per stamped combo (1 row proves values)."""
    from loongcollector_spark.operators import build_chain

    df = transcripts_from_events(spark, sf_dir)
    chain = build_chain([
        {"Type": "processor_tag", "Tags": {"__hostname__": "bench-host"},
         "Renames": {"tool": "tool_name"}},
        {"Type": "processor_cloud_meta", "Platform": "mock",
         "Metadata": {"instance_id": "i-bench01"}},
        {"Type": "processor_default"},
    ])
    return chain(df).groupBy(
        "__hostname__", "cloud_platform", "instance_id"
    ).agg(F.count("*").alias("n_rows"), F.countDistinct("tool_name").alias("n_tools"))


O_TAG_META_DEFAULTS = _ORACLE_T + """
SELECT 'bench-host' AS __hostname__, 'mock' AS cloud_platform,
  'i-bench01' AS instance_id, count(*) AS n_rows,
  count(DISTINCT tool) AS n_tools
FROM t
"""


def q_split_string_expand(spark, sf_dir):
    """processor_split_string with ExpandOthers/ExpandKeyPrefix: overflow
    fields beyond SplitKeys become ex_1..ex_N (split_string.go:33-45)."""
    df = transcripts_from_events(spark, sf_dir).filter(
        F.col("text").rlike(r"^\w+=[^ ]*&")
    ).select("conv_id", "turn_idx", "text")
    op = build_operator({
        "Type": "processor_split_string", "SourceKey": "text",
        "SplitSep": "&", "SplitKeys": ["p1", "p2"],
        "ExpandOthers": True, "ExpandKeyPrefix": "ex_",
    })
    return op(df).select("conv_id", "turn_idx", "p1", "p2", "ex_1", "ex_2")


O_SPLIT_STRING_EXPAND = _ORACLE_T + r"""
, parts AS (
  SELECT conv_id, turn_idx, string_split(text, '&') AS p
  FROM t WHERE regexp_matches(text, '^\w+=[^ ]*&')
)
SELECT conv_id, turn_idx, p[1] AS p1, p[2] AS p2,
  CASE WHEN len(p) >= 3 THEN p[3] END AS ex_1,
  CASE WHEN len(p) >= 4 THEN p[4] END AS ex_2
FROM parts
"""


def q_strptime_precise(spark, sf_dir):
    """processor_strptime with EnablePreciseTimestamp: epoch-millis key
    emitted alongside the parsed event time (strptime.go:59-72)."""
    df = transcripts_from_events(spark, sf_dir)
    df = df.withColumn("ts_str", F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
    op = build_operator({
        "Type": "processor_strptime", "SourceKey": "ts_str",
        "Format": "yyyy-MM-dd HH:mm:ss", "EnablePreciseTimestamp": True,
    })
    return op(df).select(
        "conv_id", "turn_idx", F.col("precise_timestamp").alias("epoch_ms")
    )


O_STRPTIME_PRECISE = _ORACLE_T + """
SELECT conv_id, turn_idx, cast(floor(epoch(ts)) AS BIGINT) * 1000 AS epoch_ms
FROM t
"""


def _synth_prom_lines(spark, sf_dir):
    """Deterministic exposition-format fixture: one prom text line per
    events row, cycling through 8 shapes (ms/sec/float timestamps,
    spaced + trailing-comma labels, escapes, Inf/NaN, comment + invalid
    lines). Only Spark parses the TEXT; the oracle recomputes expected
    output from the same source columns."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )  # split the single-file fixture across cores BEFORE payload
    # synthesis: the exchange carries the narrow event columns, not
    # the synthesized JSON/log strings (~25x narrower shuffle)
    k = F.pmod("event_id", F.lit(8))
    uid = F.col("user_id").cast("string")
    val = F.col("value").cast("string")
    ms = (F.lit(1715829785083) + F.col("event_id") * 137).cast("string")
    sec = (F.lit(1700000000) + F.pmod("event_id", F.lit(100000000))).cast("string")
    fsec = F.concat(
        (F.lit(1000000000) + F.pmod("event_id", F.lit(1000))).cast("string"),
        F.lit(".5"),
    )
    line = (
        F.when(k == 0, F.concat(
            F.lit('http_requests_total{method="GET",path="/api/u'), uid,
            F.lit('",code="200"} '), val, F.lit(" "), ms))
        .when(k == 1, F.concat(
            F.lit('node_cpu_seconds  { mode = "idle" , cpu="'),
            F.pmod("user_id", F.lit(4)).cast("string"),
            F.lit('" , }  '), val, F.lit(" "), sec))
        .when(k == 2, F.concat(F.lit("process_open_fds "), uid))
        .when(k == 3, F.lit(
            'disk_io{device="/dev/sd\\a",note="q\\"uote\\\\end",empty=""} +Inf'))
        .when(k == 4, F.lit("# HELP http_requests_total The total"))
        .when(k == 5, F.lit("broken{foo} 3"))
        .when(k == 6, F.concat(
            F.lit('temp_celsius{host="h'), uid, F.lit('"} '), val,
            F.lit(" "), fsec))
        .otherwise(F.concat(
            F.lit('gauge_x{a="b"} NaN '), ms, F.lit(" # exemplar xyz")))
    )
    # see _otlp_trace_lines: split the single-file fixture across cores
    return ev.select(
        F.col("event_id").alias("line_id"), line.alias("content")
    )


def _vcode():
    return (
        F.when(F.isnan("value"), F.lit(-999999))
        .when(F.col("value") == float("inf"), F.lit(999998))
        .when(F.col("value") == float("-inf"), F.lit(-999998))
        .otherwise(F.floor(F.col("value") * 100))
    )


def q_prom_parse_metrics(spark, sf_dir):
    """processor_prom_parse_metric_native: codegen possessive-regex parse
    of the exposition format (TextParser.cpp FSM semantics) — name,
    exploded label pairs, coded value, resolved epoch-millis timestamp."""
    from loongcollector_spark.operators.prom import prom_parse_metric

    parsed = prom_parse_metric(
        _prom_lines(spark, sf_dir), "content",
        honor_timestamps=True, default_ts_ms=86_400_000,
    )
    return parsed.select(
        "line_id",
        F.col("__name__").alias("name"),
        _vcode().cast("long").alias("vcode"),
        "ts_ms",
        F.explode("labels").alias("label_key", "label_value"),
    )


O_PROM_PARSE_METRICS = """
WITH e AS (SELECT event_id, user_id, value,
                  1715829785083 + event_id * 137 AS ms,
                  (1700000000 + event_id % 100000000) * 1000 AS sec_ms,
                  (1000000000 + event_id % 1000) * 1000 + 500 AS fsec_ms,
                  cast(floor(value * 100) AS BIGINT) AS vc
           FROM events)
SELECT event_id AS line_id, 'http_requests_total' AS name, vc AS vcode, ms AS ts_ms,
  unnest(['__name__','code','method','path']) AS label_key,
  unnest(['http_requests_total','200','GET','/api/u' || user_id]) AS label_value
FROM e WHERE event_id % 8 = 0
UNION ALL
SELECT event_id, 'node_cpu_seconds', vc, sec_ms,
  unnest(['__name__','cpu','mode']),
  unnest(['node_cpu_seconds', cast(user_id % 4 AS VARCHAR), 'idle'])
FROM e WHERE event_id % 8 = 1
UNION ALL
SELECT event_id, 'process_open_fds', user_id * 100, 86400000,
  '__name__', 'process_open_fds'
FROM e WHERE event_id % 8 = 2
UNION ALL
SELECT event_id, 'disk_io', 999998, 86400000,
  unnest(['__name__','device','empty','note']),
  unnest(['disk_io','/dev/sd' || chr(92) || 'a', '',
          'q"uote' || chr(92) || 'end'])
FROM e WHERE event_id % 8 = 3
UNION ALL
SELECT event_id, 'temp_celsius', vc, fsec_ms,
  unnest(['__name__','host']),
  unnest(['temp_celsius','h' || user_id])
FROM e WHERE event_id % 8 = 6
UNION ALL
SELECT event_id, 'gauge_x', -999999, ms,
  unnest(['__name__','a']), unnest(['gauge_x','b'])
FROM e WHERE event_id % 8 = 7
"""


def q_prom_relabel(spark, sf_dir):
    """processor_prom_relabel_metric_native: the prometheus action chain
    (replace w/ group interpolation, lowercase, md5-hashmod, labelmap,
    labeldrop, keep) as map-column algebra over parsed metrics."""
    from loongcollector_spark.operators.prom import (
        prom_parse_metric, prom_relabel,
    )

    parsed = prom_parse_metric(
        _prom_lines(spark, sf_dir), "content",
        honor_timestamps=True, default_ts_ms=86_400_000,
    ).filter(F.col("__name__") == "http_requests_total")
    relabeled = prom_relabel(parsed, [
        {"action": "replace", "source_labels": ["method", "path"],
         "separator": ";", "regex": "(GET|POST);/api/(.*)",
         "target_label": "api_user", "replacement": "${2}-${1}"},
        {"action": "lowercase", "source_labels": ["method"],
         "target_label": "method_lc"},
        {"action": "hashmod", "source_labels": ["path"], "modulus": 97,
         "target_label": "shard"},
        {"action": "labelmap", "regex": "co(de)",
         "replacement": "status_$1"},
        {"action": "labeldrop", "regex": "path"},
        {"action": "keep", "source_labels": ["__name__"],
         "regex": "http_.*"},
    ])
    return relabeled.select(
        "line_id", F.explode("labels").alias("label_key", "label_value")
    )


O_PROM_RELABEL = """
SELECT event_id AS line_id,
  unnest(['__name__','api_user','code','method','method_lc','shard','status_de'])
    AS label_key,
  unnest(['http_requests_total',
          'u' || user_id || '-GET',
          '200', 'GET', 'get',
          cast(('0x' || substr(md5('/api/u' || user_id), 17, 16))::UBIGINT % 97
               AS VARCHAR),
          '200']) AS label_value
FROM events WHERE event_id % 8 = 0
"""


def q_sls_pb_log_hex(spark, sf_dir):
    """SLS protobuf serializer (SLSSerializer.cpp / sls_logs.proto Log):
    Time=1 varint + Contents=2 key/value submessages, assembled entirely
    as codegen binary expressions (serializer.sls_pb_log_column) —
    byte-compared against a DuckDB reconstruction of the wire bytes."""
    from loongcollector_spark.serializer import sls_pb_log_column

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    log = sls_pb_log_column(ev, "ts", ["event_type", "props"])
    return ev.select(
        F.col("event_id").alias("line_id"),
        F.hex(log).alias("log_hex"),
        F.length(log).cast("long").alias("log_nbytes"),
    )


# events timestamps are all in [2^28, 2^35) so the Time varint is exactly
# 5 bytes with continuation bits on the first 4; content keys/values are
# < 128 bytes so every length varint is 1 byte.
O_SLS_PB_LOG_HEX = """
WITH e AS (
  SELECT event_id, event_type, props, cast(floor(epoch(ts)) AS BIGINT) AS t
  FROM events
)
SELECT event_id AS line_id,
  '08'
  || lpad(to_hex((t % 128) + 128), 2, '0')
  || lpad(to_hex(((t // 128) % 128) + 128), 2, '0')
  || lpad(to_hex(((t // 16384) % 128) + 128), 2, '0')
  || lpad(to_hex(((t // 2097152) % 128) + 128), 2, '0')
  || lpad(to_hex(t // 268435456), 2, '0')
  || '12' || lpad(to_hex(14 + octet_length(encode(event_type))), 2, '0')
  || '0A' || '0A' || hex('event_type')
  || '12' || lpad(to_hex(octet_length(encode(event_type))), 2, '0') || hex(event_type)
  || '12' || lpad(to_hex(9 + octet_length(encode(props))), 2, '0')
  || '0A' || '05' || hex('props')
  || '12' || lpad(to_hex(octet_length(encode(props))), 2, '0') || hex(props)
  AS log_hex,
  cast(6 + 2 + 14 + octet_length(encode(event_type))
         + 2 + 9 + octet_length(encode(props)) AS BIGINT) AS log_nbytes
FROM e
"""


def q_flusher_stats(spark, sf_dir):
    """flusher_statistics counters (flusher_statistics.go:64-86):
    loggroup/log counts + total marshaled LogGroup bytes, computed as
    pure aggregates over the codegen per-log serialized length (no blob
    assembly). The oracle recomputes the wire length closed-form."""
    from loongcollector_spark.flushers import statistics_frame

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return statistics_frame(ev, group_cols=("user_id",), generate_pb=True,
                            content_cols=["event_type", "props"])


# per-log bytes = Time field (1 tag + 5-byte varint, ts in [2^28, 2^35))
# + two Contents submessages (see O_SLS_PB_LOG_HEX); Logs-field framing
# adds 1 tag byte + a 1/2/3-byte length varint per log.
O_FLUSHER_STATS = """
WITH e AS (
  SELECT user_id,
    6 + 2 + 14 + octet_length(encode(event_type))
      + 2 + 9 + octet_length(encode(props)) AS nb
  FROM events
),
f AS (
  SELECT user_id,
    1 + (CASE WHEN nb < 128 THEN 1 WHEN nb < 16384 THEN 2 ELSE 3 END) + nb
      AS fb
  FROM e
)
SELECT cast(count(DISTINCT user_id) AS BIGINT) AS n_loggroups,
  count(*) AS n_logs,
  cast(sum(fb) AS BIGINT) AS pb_bytes
FROM f
"""


def q_pb_group_roundtrip(spark, sf_dir):
    """processor_parse_from_pb end-to-end: LoongSuite PipelineEventGroup
    payloads (metadata map + LogEvents, pipeline_event_group.proto) are
    ENCODED per user_id group with the codegen wire expressions, then
    DECODED by the registry operator's ManualPBParser-style walker — the
    oracle checks the round trip reproduces the raw source columns."""
    from loongcollector_spark.operators import build_operator
    from loongcollector_spark.pbwire import loongsuite_group_frame

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    payloads = loongsuite_group_frame(
        ev, group_cols=("user_id",), order_col="event_id", time_col="ts",
        content_cols=["event_type", "props"], level="info",
        metadata={"source": "bench"},
    ).select(F.col("user_id").alias("group_id"), F.col("group_pb").alias("payload"))
    op = build_operator({"Type": "processor_parse_from_pb", "Protocol": "LoongSuite"})
    decoded = op(payloads)
    return decoded.select(
        "group_id", "log_idx", "log_time",
        F.col("contents")["event_type"].alias("event_type"),
        F.col("contents")["props"].alias("props"),
        "level",
        F.col("metadata")["source"].alias("src"),
    )


O_PB_GROUP_ROUNDTRIP = """
SELECT user_id AS group_id,
  cast(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS INT)
    AS log_idx,
  cast(floor(epoch(ts)) AS BIGINT) AS log_time,
  event_type, props, 'info' AS level, 'bench' AS src
FROM events
"""


def _synth_otlp_trace_lines(spark, sf_dir):
    """Deterministic OTLP-JSON trace payload per events row (one
    resourceSpan/scopeSpan/span): ids from md5(event_id), kind cycling
    1-5, status cycling 0-2, one span event, timestamps from ts."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )  # split the single-file fixture across cores BEFORE payload
    # synthesis: the exchange carries the narrow event columns, not
    # the synthesized JSON/log strings (~25x narrower shuffle)
    uid = F.col("user_id").cast("string")
    tid = F.md5(F.col("event_id").cast("string"))
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    dur_us = (F.pmod("event_id", F.lit(100)) + 1) * 1000
    content = F.concat(
        F.lit('{"resourceSpans":[{"resource":{"attributes":['
              '{"key":"host.name","value":{"stringValue":"h'), uid,
        F.lit('"}},{"key":"service.name","value":{"stringValue":"svc'),
        F.pmod("user_id", F.lit(5)).cast("string"),
        F.lit('"}},{"key":"region","value":{"stringValue":"r'),
        F.pmod("user_id", F.lit(3)).cast("string"),
        F.lit('"}},{"key":"idx","value":{"intValue":"'), uid,
        F.lit('"}}]},"scopeSpans":[{"scope":{"name":"lib","version":"1.0"},'
              '"spans":[{"traceId":"'), tid,
        F.lit('","spanId":"'), F.substring(tid, 1, 16),
        F.lit('","parentSpanId":"","name":"op_'), F.col("event_type"),
        F.lit('","kind":'), (F.pmod("event_id", F.lit(5)) + 1).cast("string"),
        F.lit(',"traceState":"","startTimeUnixNano":"'),
        (us * 1000).cast("string"),
        F.lit('","endTimeUnixNano":"'),
        ((us + dur_us) * 1000).cast("string"),
        F.lit('","attributes":[{"key":"etype","value":{"stringValue":"'),
        F.col("event_type"),
        F.lit('"}}],"events":[{"name":"chk","timeUnixNano":"'),
        (us * 1000).cast("string"),
        F.lit('","attributes":[]}],"links":[],"status":{"code":'),
        F.pmod("event_id", F.lit(3)).cast("string"),
        F.lit(',"message":"m'), uid, F.lit('"}}]}]}]}'),
    )
    # hash-repartition stands in for the many-file input layout a real
    # deployment has (the sf fixtures are one single-row-group parquet
    # file = one split); without it the whole parse runs on one core
    return ev.select(
        F.col("event_id").alias("line_id"), content.alias("content")
    )


def q_otel_trace_spans(spark, sf_dir):
    """processor_otel_trace: OTLP-JSON spans → SLS log contents (the
    otlp_trace_parser.go:132-215 field mapping), exploded per key."""
    from loongcollector_spark.operators.otelops import otel_trace_to_logs

    out = otel_trace_to_logs(_otlp_trace_lines(spark, sf_dir), "content")
    return out.select(
        "line_id", "log_time", F.explode("contents").alias("ckey", "cval")
    )


O_OTEL_TRACE_SPANS = """
WITH e AS (
  SELECT event_id, user_id, event_type,
    md5(cast(event_id AS VARCHAR)) AS tid,
    epoch_us(ts) AS us,
    (event_id % 100 + 1) * 1000 AS dur_us,
    cast(event_id % 3 AS INT) AS scode,
    cast(event_id % 5 + 1 AS INT) AS kind
  FROM events
)
SELECT event_id AS line_id,
  (us + dur_us) * 1000 // 1000000000 AS log_time,
  unnest(['attribute','duration','end','host','kind','links','logs','name',
          'otlp.name','otlp.version','parentSpanID','resource','service',
          'spanID','start','statusCode','statusMessage','traceID',
          'traceState']) AS ckey,
  unnest(['{"etype":"' || event_type || '"}',
          cast(dur_us AS VARCHAR),
          cast(us + dur_us AS VARCHAR),
          'h' || user_id,
          CASE kind WHEN 1 THEN 'internal' WHEN 2 THEN 'server'
                    WHEN 3 THEN 'client' WHEN 4 THEN 'producer'
                    ELSE 'consumer' END,
          '[]',
          '[{"attribute":{},"name":"chk","time":' || us * 1000 || '}]',
          'op_' || event_type,
          'lib', '1.0', '',
          '{"idx":' || user_id || ',"region":"r' || user_id % 3 || '"}',
          'svc' || user_id % 5,
          substr(tid, 1, 16),
          cast(us AS VARCHAR),
          CASE scode WHEN 1 THEN 'OK' WHEN 2 THEN 'ERROR' ELSE 'UNSET' END,
          'm' || user_id,
          tid,
          '']) AS cval
FROM e
"""


def _synth_otlp_metric_lines(spark, sf_dir):
    """One OTLP-JSON metrics payload per events row: a gauge, a sum, a
    3-bucket histogram and a 2-quantile summary datapoint."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )  # split the single-file fixture across cores BEFORE payload
    # synthesis: the exchange carries the narrow event columns, not
    # the synthesized JSON/log strings (~25x narrower shuffle)
    uid = F.col("user_id").cast("string")
    ns = (F.unix_micros(F.col("ts").cast("timestamp")) * 1000).cast("string")
    val = F.col("value").cast("string")
    content = F.concat(
        F.lit('{"resourceMetrics":[{"resource":{"attributes":['
              '{"key":"host.name","value":{"stringValue":"h'), uid,
        F.lit('"}}]},"scopeMetrics":[{"scope":{"name":"s","version":"1"},'
              '"metrics":['
              '{"name":"req.gauge","gauge":{"dataPoints":[{"attributes":'
              '[{"key":"l1","value":{"stringValue":"x'),
        F.pmod("user_id", F.lit(7)).cast("string"),
        F.lit('"}}],"timeUnixNano":"'), ns, F.lit('","asDouble":'), val,
        F.lit('}]}},'
              '{"name":"req_total","sum":{"isMonotonic":'),
        F.when(F.pmod("event_id", F.lit(2)) == 0, F.lit("true")).otherwise(F.lit("false")),
        F.lit(',"dataPoints":[{"attributes":[],"timeUnixNano":"'), ns,
        F.lit('","asInt":"'), uid,
        F.lit('"}]}},'
              '{"name":"lat","histogram":{"dataPoints":[{"attributes":[],'
              '"timeUnixNano":"'), ns,
        F.lit('","count":"'), (F.col("user_id") * 3 + 3).cast("string"),
        F.lit('","sum":'), val,
        F.lit(',"min":0,"max":0,"explicitBounds":[0.5,2.5],'
              '"bucketCounts":["'), uid,
        F.lit('","'), (F.col("user_id") + 1).cast("string"),
        F.lit('","'), (F.col("user_id") + 2).cast("string"),
        F.lit('"]}]}},'
              '{"name":"rt","summary":{"dataPoints":[{"attributes":[],'
              '"timeUnixNano":"'), ns,
        F.lit('","count":"'), (F.col("user_id") + 1).cast("string"),
        F.lit('","sum":'), val,
        F.lit(',"quantileValues":[{"quantile":0.5,"value":'), val,
        F.lit('},{"quantile":0.99,"value":'),
        (F.col("user_id").cast("double") + 0.5).cast("string"),
        F.lit("}]}]}}]}]}]}"),
    )
    # hash-repartition stands in for the many-file input layout a real
    # deployment has (the sf fixtures are one single-row-group parquet
    # file = one split); without it the whole parse runs on one core
    return ev.select(
        F.col("event_id").alias("line_id"), content.alias("content")
    )


def q_otel_metrics(spark, sf_dir):
    """processor_otel_metric: gauge/sum/histogram/summary datapoints →
    __name__/__time_nano__/__labels__/__value__ metric logs with Go
    float formatting, sorted #$#-labels, cumulative histogram buckets."""
    from loongcollector_spark.operators.otelops import otel_metrics_to_logs

    out = otel_metrics_to_logs(_otlp_metric_lines(spark, sf_dir), "content")
    return out.select(
        "line_id", "__name__", "__time_nano__", "__labels__", "__value__"
    )


O_OTEL_METRICS = """
WITH e AS (
  SELECT event_id, user_id, value,
    cast(epoch_us(ts) * 1000 AS VARCHAR) AS tn,
    'host.name#$#h' || user_id AS hl,
    CASE WHEN event_id % 2 = 0 THEN 'true' ELSE 'false' END AS mono,
    CASE WHEN value = floor(value)
         THEN cast(cast(value AS BIGINT) AS VARCHAR)
         ELSE cast(value AS VARCHAR) END AS vs
  FROM events
)
SELECT event_id AS line_id,
  unnest(['req_gauge', 'req_total',
          'lat_sum', 'lat_count',
          'lat_bucket', 'lat_bucket', 'lat_bucket',
          'rt_sum', 'rt_count', 'rt', 'rt']) AS "__name__",
  tn AS "__time_nano__",
  unnest([hl || '|l1#$#x' || user_id % 7,
          hl || '|otlp.metric.ismonotonic#$#' || mono,
          hl, hl,
          hl || '|le#$#0.5', hl || '|le#$#2.5', hl || '|le#$#+Inf',
          hl, hl, hl || '|quantile#$#0.5', hl || '|quantile#$#0.99'])
    AS "__labels__",
  unnest([vs, cast(user_id AS VARCHAR),
          vs, cast(user_id * 3 + 3 AS VARCHAR),
          cast(user_id AS VARCHAR), cast(user_id * 2 + 1 AS VARCHAR),
          cast(user_id * 3 + 3 AS VARCHAR),
          vs, cast(user_id + 1 AS VARCHAR), vs,
          cast(user_id AS VARCHAR) || '.5']) AS "__value__"
FROM e
"""


def _synth_otlp_log_lines(spark, sf_dir):
    """One OTLP-JSON logs payload per events row: resource attributes
    (string + int), two LogRecords — a full one (severity, string body,
    two attributes) and a bare one (no severity, int body, no
    attributes) so the conditional attributes/resources content keys
    and every body type branch are exercised at scale."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    uid = F.col("user_id").cast("string")
    eid = F.col("event_id").cast("string")
    ns = (F.unix_micros(F.col("ts").cast("timestamp")) * 1000).cast("string")
    sev_txt = F.element_at(
        F.array(*[F.lit(s) for s in
                  ("TRACE", "DEBUG", "INFO", "WARN", "ERROR")]),
        (F.pmod("event_id", F.lit(5)) + 1).cast("int"),
    )
    content = F.concat(
        F.lit('{"resourceLogs":[{"resource":{"attributes":['
              '{"key":"service.name","value":{"stringValue":"svc'),
        F.pmod("user_id", F.lit(5)).cast("string"),
        F.lit('"}},{"key":"idx","value":{"intValue":"'), uid,
        F.lit('"}}]},"scopeLogs":[{"scope":{"name":"lib"},"logRecords":['
              '{"timeUnixNano":"'), ns,
        F.lit('","severityNumber":'),
        (F.pmod("event_id", F.lit(24)) + 1).cast("string"),
        F.lit(',"severityText":"'), sev_txt,
        F.lit('","body":{"stringValue":"'), F.col("event_type"),
        F.lit('"},"attributes":[{"key":"k1","value":{"stringValue":"v'),
        uid,
        F.lit('"}},{"key":"n","value":{"intValue":"'), eid,
        F.lit('"}}]},{"timeUnixNano":"'), ns,
        F.lit('","body":{"intValue":"'), eid, F.lit('"}}]}]}]}'),
    )
    return ev.select(
        F.col("event_id").alias("line_id"), content.alias("content")
    )


def q_otel_logs(spark, sf_dir):
    """service_otlp Mode=logs / Format=otlp_logv1: OTLP log records →
    the ConvertOtlpLogV1 content contract (time_unix_nano / severity /
    content / conditional attributes+resources JSON, sorted keys)."""
    from loongcollector_spark.operators.otelops import otel_logs_to_logs

    out = otel_logs_to_logs(_otlp_log_lines(spark, sf_dir), "content")
    c = F.col("contents")
    return out.select(
        "line_id",
        c["time_unix_nano"].alias("time_unix_nano"),
        c["severity_number"].alias("severity_number"),
        c["severity_text"].alias("severity_text"),
        c["content"].alias("body"),
        c["attributes"].alias("attributes"),
        c["resources"].alias("resources"),
        "log_time",
    )


O_OTEL_LOGS = """
WITH e AS (
  SELECT event_id, user_id, event_type,
    cast(epoch_us(ts) * 1000 AS VARCHAR) AS tn,
    cast(floor(epoch_us(ts) / 1000000) AS BIGINT) AS lt,
    '{"idx":' || user_id || ',"service.name":"svc' || user_id % 5 || '"}'
      AS res
  FROM events
)
SELECT event_id AS line_id,
  tn AS time_unix_nano,
  unnest([cast(1 + event_id % 24 AS VARCHAR), '0']) AS severity_number,
  unnest([(['TRACE','DEBUG','INFO','WARN','ERROR'])[cast(1 + event_id % 5 AS INT)],
          '']) AS severity_text,
  unnest([event_type, cast(event_id AS VARCHAR)]) AS body,
  unnest(['{"k1":"v' || user_id || '","n":' || event_id || '}',
          NULL]) AS attributes,
  res AS resources,
  lt AS log_time
FROM e
"""


def _synth_otel_route_rows(spark, sf_dir):
    """The otel processors' OUTPUT rows the aggregators consume —
    19-content trace rows, 4-content metric rows, and a 7-content
    log-shaped row per event. Materialized as a fixture because in the
    reference pipeline aggregator_opentelemetry sits DOWNSTREAM of the
    otel processor: it receives already-converted events, it does not
    re-run the conversion. The conversions themselves stay fully timed
    (and oracle-checked) in otel_trace_spans / otel_metrics; the route
    query measures the aggregator. Converter edits invalidate the cache
    via the otelops module source in the key."""
    from loongcollector_spark.operators.otelops import (
        otel_metrics_to_logs, otel_trace_to_logs,
    )

    trace_rows = otel_trace_to_logs(
        _otlp_trace_lines(spark, sf_dir), "content"
    ).select("contents")
    m = otel_metrics_to_logs(_otlp_metric_lines(spark, sf_dir), "content")
    metric_rows = m.select(F.create_map(
        F.lit("__name__"), F.col("__name__"),
        F.lit("__time_nano__"), F.col("__time_nano__"),
        F.lit("__labels__"), F.col("__labels__"),
        F.lit("__value__"), F.col("__value__"),
    ).alias("contents"))
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    log_rows = ev.select(F.create_map(
        F.lit("links"), F.lit("[]"),
        F.lit("timeUnixNano"), F.lit("0"),
        F.lit("severityNumber"), F.lit("9"),
        F.lit("severityText"), F.lit("INFO"),
        F.lit("content"), F.col("event_type"),
        F.lit("attribute"), F.lit("{}"),
        F.lit("resource"), F.lit("{}"),
    ).alias("contents"))
    return trace_rows.unionByName(metric_rows).unionByName(log_rows)


def q_otel_aggregator_routes(spark, sf_dir):
    """aggregator_opentelemetry + aggregator_skywalking: shape-based
    logstore routing over the otel processors' real output rows (the
    aggregator's production input — see _synth_otel_route_rows),
    counted per (otel, skywalking) route pair."""
    from loongcollector_spark.operators import build_operator
    from loongcollector_spark.operators.otelops import (
        skywalking_aggregator_route,
    )

    rows = _materialized(
        spark, sf_dir, "otel_route_rows", _synth_otel_route_rows)
    routed = build_operator({"Type": "aggregator_opentelemetry"})(rows)
    return (
        routed
        .withColumn("sw_store", skywalking_aggregator_route(F.col("contents")))
        .groupBy(F.col("__logstore__").alias("otel_store"), "sw_store")
        .agg(F.count("*").alias("n"))
    )


O_OTEL_AGGREGATOR_ROUTES = """
SELECT 'otlp_traces' AS otel_store, 'sw_logs' AS sw_store, count(*) AS n
FROM events
UNION ALL
SELECT 'otlp_metrics', 'sw_metrics', 11 * count(*) FROM events
UNION ALL
SELECT 'otlp_logs', 'sw_traces', count(*) FROM events
"""


def _synth_influx_lines(spark, sf_dir):
    """Deterministic influx line-protocol fixture: one line per events
    row, cycling 4 shapes — tagged float with escaped tag value, a
    multi-field line (int/uint/bool/quoted-string), an escaped
    measurement + field key with an x.5 float, and an exponent-form
    float that exercises the Go-'g' sci branch. Only Spark parses the
    TEXT; the oracle recomputes expected output from the same source
    columns."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    k = F.pmod("event_id", F.lit(4))
    uid = F.pmod("user_id", F.lit(50)).cast("string")
    ival = (F.pmod("event_id", F.lit(4999)) + 1).cast("string")
    ns = (F.lit(1434055562000000000) + F.col("event_id")).cast("string")
    half = F.concat(F.pmod("event_id", F.lit(9)).cast("string"), F.lit(".5"))
    mant = (F.pmod("event_id", F.lit(8)) + 2).cast("string")
    line = (
        F.when(k == 0, F.concat(
            F.lit("cpu,host=h"), uid, F.lit(",region=us\\ west value="),
            ival, F.lit(" "), ns))
        .when(k == 1, F.concat(
            F.lit("mem used="), ival, F.lit("i,free="), ival,
            F.lit('u,active=true,note="x\\"'), uid, F.lit('"')))
        .when(k == 2, F.concat(
            F.lit("temp\\ sensor,a=b temp\\ low="), half, F.lit(" "), ns))
        .otherwise(F.concat(F.lit("big value="), mant, F.lit("e+06")))
    )
    return ev.select(
        F.col("event_id").alias("line_id"), line.alias("content"))


# Synthesized payload fixtures are materialized once per sf_dir and then
# READ like the stored ingest columns they stand in for (rationale on
# _materialized); the synth functions above stay the single source of
# truth for what the bytes are.
def _otelops_source():
    import inspect

    from loongcollector_spark.operators import otelops

    return inspect.getsource(otelops)


_synth_otel_route_rows._cache_key_extra = _otelops_source()


def _prom_lines(spark, sf_dir):
    return _materialized(spark, sf_dir, "prom_lines", _synth_prom_lines)


def _otlp_trace_lines(spark, sf_dir):
    return _materialized(
        spark, sf_dir, "otlp_trace_lines", _synth_otlp_trace_lines)


def _otlp_metric_lines(spark, sf_dir):
    return _materialized(
        spark, sf_dir, "otlp_metric_lines", _synth_otlp_metric_lines)


def _otlp_log_lines(spark, sf_dir):
    return _materialized(
        spark, sf_dir, "otlp_log_lines", _synth_otlp_log_lines)


def _influx_lines(spark, sf_dir):
    return _materialized(spark, sf_dir, "influx_lines", _synth_influx_lines)


def q_influx_decode(spark, sf_dir):
    """service_http_server Format=influxdb (pkg/protocol/decoder/
    influxdb/decoder.go:159-219): line-protocol text → one metric log
    per field, Go-'g' float formatting, sorted #$# labels, FieldsExtend
    extras — all codegen."""
    op = build_operator({
        "Type": "service_http_server", "Format": "influxdb",
        "FieldsExtend": True, "DB": "bench", "DefaultTimeNano": 42,
    })
    out = op(_influx_lines(spark, sf_dir))
    return out.select(
        "line_id",
        F.col("__name__").alias("name"),
        F.col("__labels__").alias("labels"),
        F.col("__value__").alias("value_str"),
        F.col("__time_nano__").alias("ts_ns"),
        F.col("__type__").alias("vtype"),
        F.col("__field__").alias("field_key"),
        F.col("`__tag__:db`").alias("db"),
    )


O_INFLUX_DECODE = """
WITH e AS (SELECT event_id, user_id,
                  cast(event_id % 4999 + 1 AS BIGINT) AS ival,
                  1434055562000000000 + event_id AS ns,
                  (event_id % 9) || '.5' AS half,
                  (event_id % 8 + 2) AS mant
           FROM events)
SELECT event_id AS line_id, 'cpu' AS name,
  'host#$#h' || (user_id % 50) || '|region#$#us west' AS labels,
  cast(ival AS VARCHAR) AS value_str, ns AS ts_ns,
  'float' AS vtype, 'value' AS field_key, 'bench' AS db
FROM e WHERE event_id % 4 = 0
UNION ALL
SELECT event_id, 'mem:' || f.key,
  '', f.val, 42, f.typ, f.key, 'bench'
FROM e, LATERAL (
  SELECT unnest(['used','free','active','note']) AS key,
         unnest([cast(ival AS VARCHAR), cast(ival AS VARCHAR), '1',
                 'x"' || (user_id % 50)]) AS val,
         unnest(['int','int','bool','string']) AS typ
) f
WHERE event_id % 4 = 1
UNION ALL
SELECT event_id, 'temp sensor:temp low', 'a#$#b', half, ns,
  'float', 'temp low', 'bench'
FROM e WHERE event_id % 4 = 2
UNION ALL
SELECT event_id, 'big', '', mant || 'e+06', 42, 'float', 'value', 'bench'
FROM e WHERE event_id % 4 = 3
"""


def q_statsd_decode(spark, sf_dir):
    """service_http_server Format=statsd (pkg/protocol/decoder/statsd/
    decoder.go:44-65): dogstatsd lines → metric logs; set-type metrics
    (non-numeric value) drop like the reference's float64 assertion."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    k = F.pmod("event_id", F.lit(3))
    val = F.pmod("event_id", F.lit(1000)).cast("string")
    half = F.concat(F.pmod("event_id", F.lit(9)).cast("string"), F.lit(".5"))
    uid = F.pmod("user_id", F.lit(20)).cast("string")
    line = (
        F.when(k == 0, F.concat(
            F.lit("page.views:"), val, F.lit("|c|@0.5|#env:prod,id:u"), uid))
        .when(k == 1, F.concat(F.lit("lat:"), half, F.lit("|ms")))
        .otherwise(F.lit("users:uniq|s"))  # set type → dropped
    )
    df = ev.select(F.col("event_id").alias("line_id"), line.alias("content"))
    op = build_operator({
        "Type": "service_http_server", "Format": "statsd",
        "DefaultTimeNano": 7,
    })
    return op(df).select(
        "line_id",
        F.col("__name__").alias("name"),
        F.col("__labels__").alias("labels"),
        F.col("__value__").alias("value"),
        F.col("__time_nano__").alias("ts_ns"),
        F.col("__type__").alias("mtype"),
    )


O_STATSD_DECODE = """
SELECT event_id AS line_id, 'page.views' AS name,
  'env#$#prod|id#$#u' || (user_id % 20) AS labels,
  cast(event_id % 1000 AS DOUBLE) AS value, 7 AS ts_ns, 'c' AS mtype
FROM events WHERE event_id % 3 = 0
UNION ALL
SELECT event_id, 'lat', '', (event_id % 9) + 0.5, 7, 'ms'
FROM events WHERE event_id % 3 = 1
"""


def q_journal_export(spark, sf_dir):
    """service_journal (input_journal.go:339-371): export-format blobs →
    fields + _realtime_timestamp_, PRIORITY/SYSLOG_FACILITY mapped
    through the reference's conversion tables."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    blob = F.concat(
        F.lit("__REALTIME_TIMESTAMP="),
        (F.lit(1700000000000000) + F.col("event_id")).cast("string"),
        F.lit("\n__MONOTONIC_TIMESTAMP="),
        F.pmod("event_id", F.lit(100000)).cast("string"),
        F.lit("\nPRIORITY="), F.pmod("event_id", F.lit(8)).cast("string"),
        F.lit("\nSYSLOG_FACILITY="),
        F.pmod("event_id", F.lit(24)).cast("string"),
        F.lit("\n_SYSTEMD_UNIT=u"),
        F.pmod("user_id", F.lit(5)).cast("string"),
        F.lit(".service\nMESSAGE=msg="), F.col("event_type"),
    )
    df = ev.select(F.col("event_id").alias("line_id"), blob.alias("content"))
    op = build_operator({
        "Type": "service_journal", "ParsePriority": True,
        "ParseSyslogFacility": True,
    })
    out = op(df)
    f = F.col("fields")
    return out.select(
        "line_id",
        F.col("_realtime_timestamp_").alias("rt"),
        F.col("_monotonic_timestamp_").alias("mono"),
        f.getItem("PRIORITY").alias("priority"),
        f.getItem("SYSLOG_FACILITY").alias("facility"),
        f.getItem("_SYSTEMD_UNIT").alias("unit"),
        f.getItem("MESSAGE").alias("message"),
    )


O_JOURNAL_EXPORT = """
WITH pr AS (SELECT unnest(['emergency','alert','critical','error',
                           'warning','notice','informational','debug'])
              AS name, unnest(range(8)) AS num),
fac AS (SELECT unnest(['kernel','user','mail','daemon','auth','syslog',
                       'line printer','network news','uucp','clock daemon',
                       'security/auth','ftp','ntp','log audit','log alert',
                       'clock daemon','local0','local1','local2','local3',
                       'local4','local5','local6','local7']) AS name,
               unnest(range(24)) AS num)
SELECT e.event_id AS line_id,
  cast(1700000000000000 + e.event_id AS VARCHAR) AS rt,
  cast(e.event_id % 100000 AS VARCHAR) AS mono,
  pr.name AS priority, fac.name AS facility,
  'u' || (e.user_id % 5) || '.service' AS unit,
  'msg=' || e.event_type AS message
FROM events e
JOIN pr ON pr.num = e.event_id % 8
JOIN fac ON fac.num = e.event_id % 24
"""


def q_command_input(spark, sf_dir):
    """input_command (input_command.go:175-230): a deterministic script's
    stdout becomes (content, script_md5) rows — exercised end-to-end
    through the driver-side exec + parallelize path."""
    from loongcollector_spark.sources import service_command

    df = service_command(spark, "seq 0 99\n")
    return (
        df.where(F.col("content") != "")      # trailing-\n empty line
        .select(F.col("content").cast("int").alias("n"), "script_md5")
    )


O_COMMAND_INPUT = """
SELECT cast(i AS INT) AS n,
       'd71e1892b6b1cbdd30d1bc69a270dcdb' AS script_md5  -- md5 of the script
FROM range(0, 100) t(i)
"""


def _warc_fixture_dir(spark, sf_dir) -> str:
    """Deterministic WET-style WARC archives built once per sf_dir from
    the documents table (one conversion record per doc, round-robin over
    4 archive files — the CC many-files layout). Cache keyed like
    _materialized: documents fixture identity + this builder's source."""
    import hashlib
    import inspect

    import pandas as pd

    st = os.stat(f"{sf_dir}/documents.parquet")
    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{st.st_size}|{st.st_mtime_ns}|"
        f"{inspect.getsource(_warc_fixture_dir)}".encode()
    ).hexdigest()[:12]
    out_dir = os.path.join(_FIXTURE_CACHE, f"warc_{tag}")
    if not os.path.exists(out_dir):
        os.makedirs(_FIXTURE_CACHE, exist_ok=True)
        tmp = f"{out_dir}.tmp{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        docs = pd.read_parquet(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
        ).sort_values("doc_id")
        parts: list[list[bytes]] = [[] for _ in range(4)]
        for doc_id, text in zip(docs["doc_id"], docs["text"]):
            if text is None:
                continue
            payload = str(text).encode("utf-8")
            hdr = (
                f"WARC/1.0\r\nWARC-Type: conversion\r\n"
                f"WARC-Target-URI: http://ex.com/doc/{doc_id}\r\n"
                f"WARC-Date: 2026-01-01T00:00:00Z\r\n"
                f"WARC-Record-ID: <urn:doc:{doc_id}>\r\n"
                f"Content-Length: {len(payload)}\r\n\r\n"
            ).encode()
            parts[int(doc_id) % 4].append(hdr + payload + b"\r\n\r\n")
        for i, recs in enumerate(parts):
            with open(os.path.join(tmp, f"part{i}.warc"), "wb") as f:
                f.write(b"".join(recs))
        try:
            os.rename(tmp, out_dir)
        except OSError:
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    return out_dir


def q_warc_records(spark, sf_dir):
    """WARC/WET crawl-archive ingestion (ISO 28500, the CommonCrawl
    container): length-framed record walk over binary archive files —
    one task per archive, no shuffle (the production partitioning for a
    100k-file crawl snapshot). The oracle recomputes every record's
    URI / byte length / payload md5 closed-form from the documents
    table, so the framing + payload extraction is hash-checked
    end-to-end."""
    from loongcollector_spark.sources import read_warc

    recs = read_warc(spark, _warc_fixture_dir(spark, sf_dir),
                     record_types=["conversion"])
    return recs.select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long").alias("doc_id"),
        "warc_type", "content_length",
        F.md5("payload").alias("payload_md5"),
    )


O_WARC_RECORDS = """
SELECT doc_id, 'conversion' AS warc_type,
       octet_length(encode(text)) AS content_length,
       md5(text) AS payload_md5
FROM documents WHERE text IS NOT NULL
"""


def q_dup_line_stats(spark, sf_dir):
    """Gopher duplicate-line signals (Rae et al. 2021 §A1.1) over a
    multi-line view of the documents corpus: every doc gets a synthetic
    boilerplate footer, and docs with doc_id%3==0 repeat it — exercising
    both the dup-line and dup-char fractions non-trivially. The two-level
    (doc, line-hash) aggregation shuffles hashes + ints only."""
    from loongcollector_spark.functions.text import dup_line_stats

    docs = _docs(spark, sf_dir)
    footer = F.concat(F.lit("-- footer "), F.pmod("doc_id", F.lit(7)))
    multi = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit("\n"), footer,
            F.when(F.pmod("doc_id", F.lit(3)) == 0,
                   F.concat(F.lit("\n"), footer)).otherwise(F.lit("")),
        ).alias("text"),
    )
    return dup_line_stats(multi)


O_DUP_LINE_STATS = """
WITH multi AS (
  SELECT doc_id,
    text || chr(10) || '-- footer ' || (doc_id % 7)
      || CASE WHEN doc_id % 3 = 0
              THEN chr(10) || '-- footer ' || (doc_id % 7) ELSE '' END AS text
  FROM documents
),
lines AS (
  SELECT doc_id, trim(l) AS l
  FROM multi, unnest(string_split(text, chr(10))) AS u(l)
  WHERE trim(l) <> ''
),
per_line AS (
  SELECT doc_id, l, count(*) AS cnt, len(l) AS ln
  FROM lines GROUP BY 1, 2
),
agg AS (
  SELECT doc_id, sum(cnt) AS n_lines, count(*) AS n_distinct,
         sum(cnt * ln) AS chars, sum((cnt - 1) * ln) AS dup_chars
  FROM per_line GROUP BY 1
)
SELECT doc_id, cast(n_lines AS BIGINT) AS n_lines,
  cast(floor(((n_lines - n_distinct) * 1000) / n_lines) AS BIGINT)
    AS dup_line_frac_1e3,
  cast(CASE WHEN chars > 0 THEN floor((dup_chars * 1000) / chars)
            ELSE 0 END AS BIGINT) AS dup_char_frac_1e3
FROM agg
"""


def q_heavy_hitters(spark, sf_dir):
    """Windowed top-k heavy hitters — the classic log-analytics rollup
    (per hour, the 3 most frequent event types with counts; ties broken
    by name). Two-level: a map-side-combinable (hour, type) count, then a
    row_number window over the already-aggregated (small) frame — the
    rank shuffle carries counts, never events."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    counts = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("hour").orderBy(
        F.col("n").desc(), F.col("event_type"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("hour", "rank", "event_type", "n")
    )


O_HEAVY_HITTERS = """
WITH c AS (
  SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT hour, cast(rank AS INT) AS rank, event_type, n FROM (
  SELECT hour, event_type, n,
         row_number() OVER (PARTITION BY hour ORDER BY n DESC, event_type)
           AS rank
  FROM c
) WHERE rank <= 3
"""


def q_decayed_counts(spark, sf_dir):
    """Time-decayed per-user activity (the freshness-weighted engagement
    metric of telemetry rollups): each event weighs 2^-age_days (one
    halflife per day) — implemented as an integer SHIFT
    (1e6 DIV (1 << age_days)), so the decay is exact in both engines
    (libm pow differs in ulps; shifts cannot). Reference time = max(ts)
    over the table, making the query deterministic."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ref = ev.agg(F.max("ts")).first()[0]
    age_days = F.floor(
        (F.unix_micros(F.lit(ref).cast("timestamp"))
         - F.unix_micros(F.col("ts").cast("timestamp")))
        / F.lit(86_400_000_000)
    ).cast("long")
    k = F.least(age_days, F.lit(40))
    # 1e6 / 2^k is EXACT in double (1e6 < 2^20; power-of-two scaling),
    # so the long cast equals DuckDB's integer // division. SQL-function
    # shiftleft (column bit count — the DataFrame API wants a literal)
    w = F.expr("cast(1000000 / shiftleft(cast(1 AS BIGINT), "
               "cast(_k AS INT)) AS BIGINT)")
    return (
        ev.select("user_id", k.alias("_k"))
        .select("user_id", w.alias("_w"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"),
             F.sum("_w").alias("decayed_1e6"))
    )


O_DECAYED_COUNTS = """
WITH r AS (SELECT max(ts) AS ref FROM events),
w AS (
  SELECT user_id,
    1000000 // (1 << least(cast(floor(
      (epoch_us(r.ref) - epoch_us(ts)) / 86400000000) AS BIGINT), 40))
      AS wt
  FROM events, r
)
SELECT user_id, cast(count(*) AS BIGINT) AS n_events,
  cast(sum(wt) AS BIGINT) AS decayed_1e6
FROM w GROUP BY user_id
"""


def q_kmv_distinct(spark, sf_dir):
    """KMV / bottom-k distinct sketch (Beyer et al. SIGMOD'07): distinct
    users per event_type, estimated from the 64 minimum md5 prefixes —
    deterministic (unlike HLL blobs), so the oracle replays the sketch
    itself, and the exact distinct rides along for the error story."""
    from loongcollector_spark.functions.sketches import kmv_distinct

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = kmv_distinct(ev, ["event_type"], "user_id", k=64)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"))
    return out.join(exact, "event_type")


O_KMV_DISTINCT = """
WITH h AS (
  SELECT DISTINCT event_type,
         substr(md5(cast(user_id AS VARCHAR)), 1, 12) AS hh
  FROM events WHERE user_id IS NOT NULL
),
r AS (
  SELECT event_type, hh,
         row_number() OVER (PARTITION BY event_type ORDER BY hh) AS rn
  FROM h
),
sk AS (
  SELECT event_type,
    cast(count(*) AS BIGINT) AS n_hashes,
    CASE WHEN count(*) < 64 THEN cast(count(*) AS BIGINT)
         ELSE cast(63 * 281474976710656
                   // greatest(cast(('0x' || max(CASE WHEN rn = 64 THEN hh
                                                 END))::UBIGINT AS BIGINT),
                               1) AS BIGINT)
    END AS kmv_estimate
  FROM r WHERE rn <= 64 GROUP BY event_type
),
c AS (
  SELECT event_type, cast(count(*) AS BIGINT) AS n_rows,
         cast(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events WHERE user_id IS NOT NULL GROUP BY event_type
)
SELECT c.event_type, c.n_rows, sk.n_hashes, sk.kmv_estimate, c.n_exact
FROM c JOIN sk USING (event_type)
"""


def q_pool_embeddings(spark, sf_dir):
    """Chunk→document embedding pooling: consecutive groups of 4 vectors
    mean-pooled per dimension with per-element integer quantization
    BEFORE the sum (order-free, hash-exact) — one per-(group, dim) row
    so every pooled dimension is verified, not a summary."""
    from loongcollector_spark.functions.similarity import pool_embeddings

    return pool_embeddings(_emb(spark, sf_dir), group_size=4)


O_POOL_EMBEDDINGS = """
WITH ex AS (
  SELECT vec_id // 4 AS group_id,
         cast(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
         cast(floor(cast(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT)
           AS q
  FROM embeddings
)
SELECT group_id, dim, cast(count(*) AS BIGINT) AS n_vecs,
  cast(floor(sum(q) / count(*)) AS BIGINT) AS mean_q
FROM ex GROUP BY group_id, dim
"""


def q_dsir_scores(spark, sf_dir):
    """DSIR importance resampling (Xie et al. 2023): raw = all docs,
    target = every 7th doc; per-doc hashed-n-gram importance score with
    integer-quantized per-bucket log ratios (order-free sum, replayed
    exactly by the oracle)."""
    from loongcollector_spark.functions.classifier import dsir_scores

    docs = _docs(spark, sf_dir)
    return dsir_scores(docs, docs.filter(F.col("doc_id") % 7 == 0),
                       n_buckets=1024)


O_DSIR_SCORES = """
WITH ws AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
  FROM documents WHERE text IS NOT NULL
),
g AS (
  SELECT doc_id, unnest(list_concat(ws,
    CASE WHEN len(ws) >= 2
      THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
      ELSE [] END)) AS gram
  FROM ws
),
f AS (
  SELECT doc_id,
         ('0x' || substr(md5(gram), 1, 8))::UBIGINT % 1024 AS bucket,
         count(*) AS n
  FROM g GROUP BY 1, 2
),
rb AS (SELECT bucket, cast(sum(n) AS BIGINT) AS r_n FROM f GROUP BY bucket),
tb AS (SELECT bucket, cast(sum(n) AS BIGINT) AS t_n FROM f
       WHERE doc_id % 7 = 0 GROUP BY bucket),
tot AS (
  SELECT (SELECT sum(n) FROM f) AS r_tot,
         (SELECT sum(n) FROM f WHERE doc_id % 7 = 0) AS t_tot
),
ratio AS (
  SELECT coalesce(rb.bucket, tb.bucket) AS bucket,
    cast(floor(1000.0 * log10(
      ((coalesce(t_n, 0) + 1) * cast(tot.r_tot + 1024 AS DOUBLE))
      / ((coalesce(r_n, 0) + 1) * cast(tot.t_tot + 1024 AS DOUBLE))
    ) + 1e-9) AS BIGINT) AS lr_1e3
  FROM rb FULL OUTER JOIN tb ON rb.bucket = tb.bucket, tot
)
SELECT f.doc_id, cast(sum(f.n) AS BIGINT) AS n_grams,
  cast(sum(f.n * ratio.lr_1e3) AS BIGINT) AS dsir_score_1e3
FROM f JOIN ratio ON f.bucket = ratio.bucket
GROUP BY f.doc_id
"""


def q_train_perceptron(spark, sf_dir):
    """IN-ENGINE classifier training (batch perceptron over hashed
    uni+bigram features, integer-exact): labels derive from text parity,
    3 rounds from w=0; the oracle unrolls the identical training loop as
    CTE rounds and matches the final weight vector bucket-for-bucket."""
    from loongcollector_spark.functions.classifier import train_perceptron

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull()).select(
        "doc_id", "text",
        (F.length("text") % 2 == 0).cast("int").alias("label"),
    )
    return train_perceptron(docs, n_buckets=512, iters=3, lr=1)


def _perceptron_oracle(n_buckets: int, iters: int) -> str:
    head = f"""
WITH ws AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws,
    CASE WHEN length(text) % 2 = 0 THEN 1 ELSE -1 END AS y
  FROM documents WHERE text IS NOT NULL
),
g AS (
  SELECT doc_id, y, unnest(list_concat(ws,
    CASE WHEN len(ws) >= 2
      THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
      ELSE [] END)) AS gram
  FROM ws
),
f AS (
  SELECT doc_id, any_value(y) AS y,
         ('0x' || substr(md5(gram), 1, 8))::UBIGINT % {n_buckets} AS bucket,
         count(*) AS n
  FROM g GROUP BY doc_id, bucket
),
w1 AS (SELECT cast(bucket AS BIGINT) AS bucket,
              cast(sum(y * n) AS BIGINT) AS w FROM f GROUP BY bucket)"""
    parts = [head]
    for t in range(2, iters + 1):
        p = t - 1
        parts.append(f""",
m{t} AS (
  SELECT f.doc_id, any_value(f.y) AS y,
         sum(f.n * coalesce(w{p}.w, 0)) AS margin
  FROM f LEFT JOIN w{p} ON cast(f.bucket AS BIGINT) = w{p}.bucket
  GROUP BY f.doc_id
),
mis{t} AS (SELECT doc_id FROM m{t} WHERE y * margin <= 0),
g{t} AS (
  SELECT cast(f.bucket AS BIGINT) AS bucket,
         cast(sum(f.y * f.n) AS BIGINT) AS gs
  FROM f JOIN mis{t} USING (doc_id) GROUP BY 1
),
w{t} AS (
  SELECT coalesce(a.bucket, b.bucket) AS bucket,
         coalesce(a.w, 0) + coalesce(b.gs, 0) AS w
  FROM w{p} a FULL OUTER JOIN g{t} b ON a.bucket = b.bucket
)""")
    parts.append(f"""
SELECT bucket, w AS weight FROM w{iters} WHERE w != 0""")
    return "".join(parts)


O_TRAIN_PERCEPTRON = _perceptron_oracle(512, 3)


def q_hashed_classifier(spark, sf_dir):
    """fastText-style hashed uni+bigram linear classifier over the
    documents corpus (functions/classifier.py): codegen feature hashing,
    (doc, bucket) count agg, BROADCAST weight join, integer milli-score
    dot product + logistic — the quality-gating scorer of a training-data
    pipeline, with the weight vector as a broadcast model frame."""
    from loongcollector_spark.functions.classifier import hashed_ngram_scores

    return hashed_ngram_scores(_docs(spark, sf_dir), n_buckets=4096)


O_HASHED_CLASSIFIER = """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
  FROM documents WHERE text IS NOT NULL
),
g AS (
  SELECT doc_id, unnest(list_concat(ws,
    CASE WHEN len(ws) >= 2
      THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
      ELSE [] END)) AS gram
  FROM w
),
c AS (
  SELECT doc_id,
         ('0x' || substr(md5(gram), 1, 8))::UBIGINT % 4096 AS bucket,
         count(*) AS n
  FROM g GROUP BY 1, 2
),
s AS (
  SELECT doc_id, cast(sum(n) AS BIGINT) AS n_grams,
    cast(sum(n * (cast(('0x' || substr(md5('w:' || bucket), 1, 8))::UBIGINT
                       % 2001 AS BIGINT) - 1000)) AS BIGINT) AS score_milli
  FROM c GROUP BY 1
)
SELECT doc_id, n_grams, score_milli,
  1.0 / (1.0 + exp(-(score_milli::DOUBLE / (n_grams::DOUBLE * 1000.0))))
    AS prob
FROM s
"""


def q_canal_rows(spark, sf_dir):
    """service_canal binlog row/DDL events → logs (input_canal.go:273-460):
    one deterministic binlog event per events row cycling insert / update
    / delete / ddl, converted with PackValues=true — exercises the
    (old,new) update pairing, the _old_ prefix, the GTID trio, the DDL
    field set, and the Go json.Marshal pack (sorted keys, empty→\"\").
    Pure codegen: synth + convert is one projection + generate, zero
    exchanges (test_canal.py pins the plan shape)."""
    from loongcollector_spark.operators import build_operator

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    k = F.pmod("event_id", F.lit(4))
    uid = F.col("user_id").cast("string")
    vi = F.pmod("event_id", F.lit(97)).cast("string")
    one = lambda v: F.array(F.array(uid, v))  # noqa: E731
    binlog = ev.select(
        F.col("event_id").alias("event_seq"),
        F.element_at(
            F.array(F.lit("insert"), F.lit("update"),
                    F.lit("delete"), F.lit("ddl")), (k + 1).cast("int")
        ).alias("action"),
        F.lit("appdb").alias("db"), F.col("event_type").alias("tbl"),
        F.array(F.lit("id"), F.lit("v")).alias("columns"),
        F.when(k == 1, F.concat(one(F.concat(F.lit("o"), vi)),
                                one(F.concat(F.lit("n"), vi))))
        .when(k == 3, F.lit(None).cast("array<array<string>>"))
        .otherwise(one(vi)).alias("rows"),
        F.concat(F.lit("g:"), F.col("event_id").cast("string")).alias("gtid"),
        F.lit("mysql-bin.000007").alias("filename"),
        (F.col("event_id") + 1000).alias("log_pos"),
        F.lit(0).cast("long").alias("event_time"),
        F.lit(0).cast("long").alias("event_size"),
        F.lit(0).cast("long").alias("server_id"),
        F.when(k == 3, F.concat(F.lit("ALTER TABLE "), F.col("event_type")))
        .alias("query"),
        F.lit(0).cast("long").alias("error_code"),
        F.lit(1).cast("long").alias("exec_time"),
        F.lit("").alias("status_vars"),
    )
    op = build_operator({
        "Type": "service_canal", "Host": "db1",
        "EnableDDL": True, "PackValues": True,
    })
    out = op(binlog)
    c = F.col("contents")
    return out.select(
        "event_seq", "log_idx",
        c["_event_"].alias("evt"), c["_db_"].alias("dbname"),
        c["_gtid_"].alias("gtid"), c["_offset_"].alias("off"),
        c["old_data"].alias("old_data"), c["data"].alias("data"),
    )


O_CANAL_ROWS = """
WITH e AS (
  SELECT event_id, event_type, event_id % 4 AS k,
         cast(user_id AS VARCHAR) AS uid,
         cast(event_id % 97 AS VARCHAR) AS vi
  FROM events
)
SELECT event_id AS event_seq, 0 AS log_idx,
  CASE k WHEN 0 THEN 'row_insert' WHEN 1 THEN 'row_update'
         WHEN 2 THEN 'row_delete' ELSE 'ddl' END AS evt,
  'appdb' AS dbname,
  'g:' || event_id AS gtid,
  cast(event_id + 1000 AS VARCHAR) AS off,
  CASE WHEN k = 1 THEN '{"_old_id":"' || uid || '","_old_v":"o' || vi || '"}'
       ELSE '' END AS old_data,
  CASE k
    WHEN 0 THEN '{"id":"' || uid || '","v":"' || vi || '"}'
    WHEN 1 THEN '{"id":"' || uid || '","v":"n' || vi || '"}'
    WHEN 2 THEN '{"id":"' || uid || '","v":"' || vi || '"}'
    ELSE '{"ErrorCode":"0","ExecutionTime":"1","Query":"ALTER TABLE '
         || event_type || '","StatusVars":""}'
  END AS data
FROM e
"""


def q_asof_enrich(spark, sf_dir):
    """Point-in-time enrichment: every event picks up the most recent
    per-user snapshot value at-or-before its timestamp (union +
    last-ignorenulls running window — one exchange on user_id, no
    range-join candidate explosion). Oracle is DuckDB's native ASOF
    JOIN, an independent implementation of the same semantics."""
    from loongcollector_spark.functions.temporal import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    snaps = (
        ev.filter(F.col("event_id") % 97 == 0)
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("plan_value"))
    )
    facts = ev.select("user_id", "ts", "event_id", "value")
    return asof_join(facts, snaps, on="user_id", time_col="ts")


O_ASOF_ENRICH = """
WITH snap AS (
  SELECT user_id, ts, max(value) AS plan_value
  FROM events WHERE event_id % 97 = 0 GROUP BY user_id, ts
)
SELECT e.user_id, e.ts, e.event_id, e.value, s.plan_value
FROM events e ASOF JOIN snap s
  ON e.user_id = s.user_id AND e.ts >= s.ts
"""


def q_sessionize_events(spark, sf_dir):
    """Gap-based sessionization (30-min silence rule) — lag + running
    sum over one ordered window, microsecond-exact gap arithmetic;
    per-session aggregate rows keep the oracle hash order-free (value
    sums as integer cents)."""
    from loongcollector_spark.functions.temporal import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    s = sessionize(ev, key="user_id", time_col="ts", gap_s=1800,
                   order_tiebreak="event_id")
    return s.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("t_start"),
        F.max("ts").alias("t_end"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


O_SESSIONIZE_EVENTS = """
WITH o AS (
  SELECT user_id, ts, event_id, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
         THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts, value,
    sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM o
)
SELECT user_id, cast(session_idx AS BIGINT) AS session_idx, count(*) AS n_events,
  min(ts) AS t_start, max(ts) AS t_end,
  cast(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM s GROUP BY user_id, session_idx
"""


def q_range_join_windows(spark, sf_dir):
    """Interval (range) join without a nested-loop plan: every event
    joins the 6-hour maintenance windows that contain it via
    bucket-equi-join + residual (intervals explode to overlapped
    1-hour buckets, broadcast; the fact stream never shuffles). Oracle
    is DuckDB's native inequality join — an independent plan for the
    same predicate."""
    from loongcollector_spark.functions.temporal import range_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    iv = ev.filter(F.col("event_id") % 499 == 0).select(
        F.col("event_id").alias("iv_id"),
        F.col("ts").alias("t_start"),
        (F.col("ts") + F.expr("INTERVAL 6 HOURS")).alias("t_end"),
    )
    facts = ev.select("event_id", "ts")
    return range_join(facts, iv, time_col="ts", bucket_s=3600).select(
        "event_id", "ts", "iv_id")


O_RANGE_JOIN_WINDOWS = """
WITH iv AS (
  SELECT event_id AS iv_id, ts AS t_start,
         ts + INTERVAL '6 hours' AS t_end
  FROM events WHERE event_id % 499 = 0
)
SELECT e.event_id, e.ts, iv.iv_id
FROM events e JOIN iv ON e.ts >= iv.t_start AND e.ts < iv.t_end
"""


def q_rollup_candlestick(spark, sf_dir):
    """Hypertable rollup: one candlestick row (count/min/max/sum/open/
    close) per (user, day bucket) — a single partial-aggregating
    shuffle. Values as integer cents keep both engines bit-exact; ts is
    unique per user in the fixture, so time-ordered first/last are
    deterministic."""
    from loongcollector_spark.functions.temporal import rollup_time_bucket

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "ts",
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    return rollup_time_bucket(ev, key="user_id", time_col="ts",
                              value_col="vc", bucket_s=86_400)


O_ROLLUP_CANDLESTICK = """
WITH e AS (
  SELECT user_id, ts, cast(round(value * 100) AS BIGINT) AS vc,
         epoch_us(ts) // 86400000000 AS b
  FROM events
)
SELECT user_id, count(*) AS n_events,
  min(vc) AS v_min, max(vc) AS v_max,
  cast(sum(vc) AS BIGINT) AS v_sum,
  arg_min(vc, ts) AS v_first, arg_max(vc, ts) AS v_last,
  make_timestamp(b * 86400000000) AS bucket_ts
FROM e GROUP BY user_id, b
"""


def q_gapfill_locf(spark, sf_dir):
    """Dense 6-hour series per user with last-observation-carried-
    forward over empty buckets: grid from sequence+explode, actuals
    left-joined on, one ordered window carries values forward. Oracle
    rebuilds the grid with generate_series + IGNORE NULLS last_value."""
    from loongcollector_spark.functions.temporal import gapfill_locf

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "ts",
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    return gapfill_locf(ev, key="user_id", time_col="ts",
                        value_col="vc", bucket_s=21_600)


O_GAPFILL_LOCF = """
WITH e AS (
  SELECT user_id, ts, cast(round(value * 100) AS BIGINT) AS vc,
         epoch_us(ts) // 21600000000 AS b
  FROM events
), a AS (
  SELECT user_id, b, count(*) AS n, arg_max(vc, ts) AS vlast
  FROM e GROUP BY user_id, b
), k AS (
  SELECT user_id, min(b) AS b0, max(b) AS b1 FROM e GROUP BY user_id
), g AS (
  SELECT user_id, unnest(generate_series(b0, b1)) AS b FROM k
)
SELECT g.user_id, make_timestamp(g.b * 21600000000) AS bucket_ts,
  cast(coalesce(a.n, 0) AS BIGINT) AS n_events,
  last_value(a.vlast IGNORE NULLS) OVER (
    PARTITION BY g.user_id ORDER BY g.b
    ROWS UNBOUNDED PRECEDING) AS value_locf
FROM g LEFT JOIN a ON g.user_id = a.user_id AND g.b = a.b
"""


def q_bm25_search(spark, sf_dir):
    """BM25 relevance search over the documents corpus for a fixed
    query; the token explode is filtered to the query's terms before
    the (doc, term) shuffle, corpus stats come from one no-explode
    scan. Score quantized to milli-units for engine-exact equality."""
    from loongcollector_spark.functions.ranking import bm25_search

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bm25_search(docs, ["spark", "shuffle", "vector"])


O_BM25_SEARCH = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM documents
), lens AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         w -> w <> '')) AS dl
  FROM documents
), stats AS (
  SELECT cast(count(*) AS DOUBLE) AS n_docs,
         avg(cast(dl AS DOUBLE)) AS avg_dl FROM lens
), tf AS (
  SELECT doc_id, term, cast(count(*) AS DOUBLE) AS tf
  FROM toks WHERE term IN ('spark', 'shuffle', 'vector')
  GROUP BY doc_id, term
), dfreq AS (
  SELECT term, cast(count(DISTINCT doc_id) AS DOUBLE) AS df
  FROM tf GROUP BY term
)
SELECT tf.doc_id, cast(count(*) AS BIGINT) AS n_terms_matched,
  cast(round(sum(
    ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
    * tf.tf * (1.2 + 1)
    / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avg_dl))
  ) * 1000) AS BIGINT) AS score_milli
FROM tf
JOIN dfreq d USING (term) CROSS JOIN stats s
JOIN lens l ON l.doc_id = tf.doc_id
GROUP BY tf.doc_id
"""


def q_tfidf_top_terms(spark, sf_dir):
    """Top-3 TF-IDF terms per document, rank made total by (quantized
    score desc, term asc) so row_number agrees across engines."""
    from loongcollector_spark.functions.ranking import tfidf_top_terms

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tfidf_top_terms(docs, top_k=3)


O_TFIDF_TOP_TERMS = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, cast(count(*) AS DOUBLE) AS tf
  FROM toks WHERE term <> '' GROUP BY doc_id, term
), dfreq AS (
  SELECT term, cast(count(DISTINCT doc_id) AS DOUBLE) AS df
  FROM tf GROUP BY term
), n AS (
  SELECT cast(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term,
    cast(round(tf.tf * ln(n.n_docs / d.df) * 1000) AS BIGINT) AS tfidf_milli
  FROM tf JOIN dfreq d USING (term) CROSS JOIN n
), ranked AS (
  SELECT doc_id, term, tfidf_milli,
    row_number() OVER (PARTITION BY doc_id
                       ORDER BY tfidf_milli DESC, term) AS rank
  FROM scored
)
SELECT doc_id, cast(rank AS INT) AS rank, term, tfidf_milli
FROM ranked WHERE rank <= 3
"""


def q_latency_percentiles(spark, sf_dir):
    """Telemetry SLO rollup: exact p50/p95/p99 (linear interpolation,
    the R-7 estimator both engines implement bit-identically) + count
    per event_type — one partial-aggregating shuffle; at scale this is
    where an approx-percentile sketch would slot in, but the oracle
    pins the exact variant."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pct = F.percentile("value", F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)))
    return (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), pct.alias("_p"))
        .select(
            "event_type", "n",
            F.col("_p")[0].alias("p50"),
            F.col("_p")[1].alias("p95"),
            F.col("_p")[2].alias("p99"),
        )
    )


O_LATENCY_PERCENTILES = """
SELECT event_type, count(*) AS n,
  quantile_cont(value, 0.5) AS p50,
  quantile_cont(value, 0.95) AS p95,
  quantile_cont(value, 0.99) AS p99
FROM events GROUP BY event_type
"""


def q_zscore_outliers(spark, sf_dir):
    """Per-user anomaly signal: each event's z-score against its user's
    mean/stddev, quantized to centi-units — one window shuffle on
    user_id, no self-join. Users need >= 3 events and non-degenerate
    spread so both engines see the same denominator."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id")
    mean = F.avg("value").over(w)
    sd = F.stddev_samp("value").over(w)
    n = F.count("*").over(w)
    return (
        ev.select(
            "event_id", "user_id", "value",
            mean.alias("_m"), sd.alias("_s"), n.alias("_n"),
        )
        .filter((F.col("_n") >= 3) & (F.col("_s") > 1e-9))
        .select(
            "event_id", "user_id",
            F.round((F.col("value") - F.col("_m")) / F.col("_s") * 100)
            .cast("long").alias("z_centi"),
        )
    )


O_ZSCORE_OUTLIERS = """
WITH s AS (
  SELECT event_id, user_id, value,
    avg(value) OVER w AS m,
    stddev_samp(value) OVER w AS sd,
    count(*) OVER w AS n
  FROM events
  WINDOW w AS (PARTITION BY user_id)
)
SELECT event_id, user_id,
  cast(round((value - m) / sd * 100) AS BIGINT) AS z_centi
FROM s WHERE n >= 3 AND sd > 1e-9
"""


def q_log_to_sls_metric(spark, sf_dir):
    """processor_log_to_sls_metric, the reference-exact Go twin: metric
    NAME from the action FIELD's value (names[name],
    processor_log_to_sls_metric.go:312-322), labels sorted and joined
    ``k#$#v|...`` (converter_sls_metric.go:83-91), raw-string value
    validated float-parseable, whole log dropped on any validation
    failure."""
    df = transcripts_from_events(spark, sf_dir).filter(
        F.col("text").rlike(r"^\w+=[^ ]*&")
    )
    kv = build_operator({
        "Type": "processor_split_key_value", "SourceKey": "text",
        "Delimiter": "&", "Separator": "=",
        "Keys": ["action", "lat_ms", "ok", "tok"],
    })
    df = kv(df).filter("_parse_ok")
    m = build_operator({
        "Type": "processor_log_to_sls_metric",
        "MetricLabelKeys": ["role"],
        "MetricValues": {"action": "lat_ms"},
        "CustomMetricLabels": {"env": "prod"},
    })(df)
    return m.groupBy("__name__", "__labels__").agg(
        F.count("*").alias("n"),
        F.sum(F.col("__value__").cast("long")).alias("value_sum"),
        F.max("__time_nano__").alias("max_tn"),
    )


O_LOG_TO_SLS_METRIC = _ORACLE_T + r"""
, kv AS (
  SELECT role, epoch_us(ts) * 1000 AS tn,
    regexp_extract(text, 'action=([^&]*)', 1) AS action,
    regexp_extract(text, 'lat_ms=([^&]*)', 1) AS lat_ms
  FROM t WHERE regexp_matches(text, '^\w+=[^ ]*&')
)
SELECT action AS __name__,
  'env#$#prod|role#$#' || role AS __labels__,
  count(*) AS n,
  cast(sum(cast(lat_ms AS BIGINT)) AS BIGINT) AS value_sum,
  cast(max(tn) AS VARCHAR) AS max_tn
FROM kv
WHERE regexp_matches(action, '^[a-zA-Z_:][a-zA-Z0-9_:]*$')
  AND try_cast(lat_ms AS DOUBLE) IS NOT NULL
  AND role IS NOT NULL AND NOT contains(role, '|') AND NOT contains(role, '#$#')
GROUP BY action, role
"""


def q_char_entropy(spark, sf_dir):
    """Character-distribution entropy gibberish signal over the
    documents corpus (per-char integer-quantized log terms keep the sum
    order-free and hash-oracle-able, the lm.py trick)."""
    from loongcollector_spark.functions.text import char_entropy

    docs = _docs(spark, sf_dir).filter(
        F.trim(F.coalesce(F.col("text"), F.lit(""))) != "")
    return char_entropy(docs)


O_CHAR_ENTROPY = """
WITH c AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch
  FROM documents WHERE trim(coalesce(text, '')) <> ''
), pc AS (
  SELECT doc_id, ch, count(*) AS n FROM c GROUP BY 1, 2
), d AS (
  SELECT doc_id, cast(sum(n) AS BIGINT) AS n_chars,
         cast(sum(cast(floor(n * log2(n) * 1e6) AS BIGINT)) AS BIGINT) AS s
  FROM pc GROUP BY 1
)
SELECT doc_id, n_chars,
  cast(floor((log2(n_chars) - s / (n_chars * 1e6)) * 1000) AS BIGINT)
    AS entropy_1e3
FROM d
"""


def q_incremental_dedup(spark, sf_dir):
    """Incremental exact dedup: the documents corpus split into an
    accumulated snapshot (doc_id % 3 != 0) and a new batch (% 3 == 0);
    each batch doc is admitted (new) or flagged dup_snapshot /
    dup_batch against the snapshot's fingerprint set."""
    from loongcollector_spark.functions.curation import incremental_dedup

    docs = _docs(spark, sf_dir)
    snap = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    return incremental_dedup(batch, snap)


O_INCREMENTAL_DEDUP = r"""
WITH snap AS (
  SELECT DISTINCT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
  FROM documents WHERE doc_id % 3 <> 0
), batch AS (
  SELECT doc_id,
         md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint
  FROM documents WHERE doc_id % 3 = 0
)
SELECT doc_id, fingerprint,
  CASE WHEN fp IS NOT NULL THEN 'dup_snapshot'
       WHEN doc_id <> min(doc_id) OVER (PARTITION BY fingerprint)
         THEN 'dup_batch'
       ELSE 'new' END AS status
FROM batch LEFT JOIN snap ON fingerprint = fp
"""

def _synth_redis_info(spark, sf_dir):
    """Deterministic redis INFO fixture: one INFO body per user_id with
    Server/Clients/Memory/Replication/Keyspace sections, the whitelist
    bait lines (os, mem_allocator), two Keyspace dbs, and — for every
    10th user — an injected ``-ERR`` line that must stop the scan
    (input_redis.go:192). Every 5th user is probed over a unix socket
    url. Only Spark parses the TEXT; the oracle recomputes expected
    fields closed-form from the same events aggregate."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    agg = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    uid, cnt = F.col("user_id"), F.col("cnt")

    def s(c):
        return c.cast("string")

    info = F.concat(
        F.lit("# Server\r\nredis_version:7.0."), s(uid % 10),
        F.lit("\r\nos:Linux 5.10\r\nuptime_in_seconds:"), s(cnt),
        F.lit("\r\nlru_clock:"), s(uid),
        F.when(uid % 10 == 0, F.lit("\r\n-ERR connection reset"))
        .otherwise(F.lit("")),
        F.lit("\r\n# Clients\r\nconnected_clients:"), s(uid % 97 + 1),
        F.lit("\r\n# Memory\r\nused_memory:"), s(cnt * 1000),
        F.lit("\r\nmem_allocator:jemalloc-5.2.1"),
        F.lit("\r\n# Replication\r\nrole:"),
        F.when(uid % 2 == 0, F.lit("master")).otherwise(F.lit("slave")),
        F.lit("\r\n# Keyspace\r\ndb0:keys="), s(cnt),
        F.lit(",expires="), s(uid % 7), F.lit(",avg_ttl="), s(uid % 11),
        F.lit("\r\ndb1:keys="), s(uid % 13),
        F.lit(",expires=2,avg_ttl="), s(uid % 5), F.lit("\r\n"),
    )
    url = F.when(
        uid % 5 == 0,
        F.concat(F.lit("unix:///var/run/redis"), s(uid), F.lit(".sock")),
    ).otherwise(
        F.concat(F.lit("redis-"), s(uid), F.lit(":"), s(uid % 3 + 6379)))
    return agg.select(url.alias("url"), info.alias("content"))


def q_redis_info(spark, sf_dir):
    """metric_redis (plugins/input/redis/input_redis.go:178-240): INFO
    bodies → per-server fields map via one codegen fold — Server-section
    whitelist, Tracking renames, Keyspace db expansion + totals, and the
    ERR scan stop, exploded to (server, port, socket, metric, value)."""
    src = _materialized(
        spark, sf_dir, "redis_info_bodies", _synth_redis_info)
    # the fixture is one small file = one task; spread the fold-heavy
    # parse across cores (a fleet scrape archive arrives pre-split)
    src = src.repartition(spark.sparkContext.defaultParallelism)
    out = build_operator({"Type": "metric_redis"})(src)
    kv = out.select(
        "server", "port", "socket",
        F.explode("fields").alias("metric", "value"))
    return kv


O_REDIS_INFO = """
WITH u AS (
  SELECT user_id AS uid, count(*) AS cnt FROM events GROUP BY user_id
), base AS (
  SELECT uid, cnt,
    CASE WHEN uid % 5 = 0 THEN NULL
         ELSE 'redis-' || uid END AS server,
    CASE WHEN uid % 5 = 0 THEN NULL
         ELSE cast(uid % 3 + 6379 AS VARCHAR) END AS port,
    CASE WHEN uid % 5 = 0 THEN '/var/run/redis' || uid || '.sock'
         ELSE NULL END AS socket,
    CASE WHEN uid % 10 = 0 THEN
      ['redis_version', 'uptime', 'lru_clock',
       'total_db_count', 'total_db_avg_ttl', 'total_db_keys',
       'total_db_expires']
    ELSE
      ['redis_version', 'uptime', 'lru_clock', 'clients', 'used_memory',
       'replication_role', 'db0_keys', 'db0_expires', 'db0_avg_ttl',
       'db1_keys', 'db1_expires', 'db1_avg_ttl', 'total_db_count',
       'total_db_avg_ttl', 'total_db_keys', 'total_db_expires']
    END AS ks,
    CASE WHEN uid % 10 = 0 THEN
      ['7.0.' || (uid % 10), cast(cnt AS VARCHAR), cast(uid AS VARCHAR),
       '0', '0', '0', '0']
    ELSE
      ['7.0.' || (uid % 10), cast(cnt AS VARCHAR), cast(uid AS VARCHAR),
       cast(uid % 97 + 1 AS VARCHAR), cast(cnt * 1000 AS VARCHAR),
       CASE WHEN uid % 2 = 0 THEN 'master' ELSE 'slave' END,
       cast(cnt AS VARCHAR), cast(uid % 7 AS VARCHAR),
       cast(uid % 11 AS VARCHAR), cast(uid % 13 AS VARCHAR), '2',
       cast(uid % 5 AS VARCHAR), '2',
       cast((uid % 11 + uid % 5) // 2 AS VARCHAR),
       cast(cnt + uid % 13 AS VARCHAR), cast(uid % 7 + 2 AS VARCHAR)]
    END AS vs
  FROM u
)
SELECT server, port, socket, f.k AS metric, f.v AS value
FROM base, LATERAL (SELECT unnest(ks) AS k, unnest(vs) AS v) f
"""


def q_netping_metrics(spark, sf_dir):
    """metric_netping (plugins/input/netping/netping.go:283-345): probe
    result rows → the reference metric-log fan-out — success-gated rtt
    gauges, httping response/cert rows, dns resolve pair, err-vs-http
    label selection, Go-'g' values, sorted #$# labels. One projection +
    explode, no shuffle."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").repartition(
        spark.sparkContext.defaultParallelism, "event_id")
    eid, uid = F.col("event_id"), F.col("user_id")
    t = F.pmod(eid, F.lit(4))
    ok = F.pmod(eid, F.lit(3)) != 0
    host = F.concat(F.lit("svc"), F.pmod(uid, F.lit(6)).cast("string"),
                    F.lit(".io"))
    tot = F.when(t.isin(0, 1), F.lit(3)).otherwise(F.lit(1))
    rmin = F.pmod(eid, F.lit(7)) + F.lit(0.5)
    probe = ev.select(
        F.element_at(
            F.array(F.lit("ping"), F.lit("tcping"), F.lit("httping"),
                    F.lit("dns")), (t + 1).cast("int")).alias("type"),
        F.concat(F.lit("probe"), F.pmod(uid, F.lit(20)).cast("string"))
        .alias("name"),
        F.concat(F.lit("10.0.0."), F.pmod(uid, F.lit(9)).cast("string"))
        .alias("src"),
        F.when(t == 0, F.concat(
            F.lit("8.8."), F.pmod(uid, F.lit(4)).cast("string"),
            F.lit(".8")))
        .when(t == 1, F.concat(
            F.lit("svc"), F.pmod(uid, F.lit(6)).cast("string"),
            F.lit(":443")))
        .when(t == 2, F.concat(F.lit("https://"), host))
        .alias("dst"),
        F.concat(F.lit("h"), F.pmod(uid, F.lit(5)).cast("string"))
        .alias("src_host"),
        tot.alias("total"),
        F.when(ok, tot).otherwise(F.lit(0)).alias("success"),
        F.when(ok, F.lit(0)).otherwise(tot).alias("failed"),
        rmin.alias("min_rtt_ms"), (rmin + 3).alias("max_rtt_ms"),
        (rmin + 1).alias("avg_rtt_ms"),
        (rmin * 3 + 1).alias("total_rtt_ms"),
        (F.pmod(eid, F.lit(2)) + F.lit(0.5)).alias("stddev_rtt_ms"),
        F.when((t == 2) & ok, F.pmod(eid, F.lit(300)) + 1)
        .alias("http_rt_ms"),
        F.when((t == 2) & ok, F.pmod(eid, F.lit(1000)))
        .alias("http_response_bytes"),
        F.lit("HTTP/1.1").alias("http_proto"),
        F.lit("https").alias("http_url_schema"),
        host.alias("http_url_host"),
        F.when((t == 2) & ok, F.lit("200")).alias("http_code"),
        ((t == 2) & ok & (F.pmod(uid, F.lit(2)) == 0)).alias("has_cert"),
        F.pmod(eid, F.lit(90)).alias("cert_ttl_days"),
        host.alias("cert_subject_cn"), F.lit("R3").alias("cert_issuer_cn"),
        host.alias("dns_name"), rmin.alias("dns_rt_ms"),
        F.when(~ok, F.when(t == 3, F.lit("no such host"))
               .otherwise(F.lit("dial timeout"))).alias("err"),
        F.col("ts"),
    )
    return build_operator({"Type": "metric_netping"})(probe)


O_NETPING_METRICS = """
WITH e AS (
  SELECT event_id AS eid, user_id AS uid,
    event_id % 4 AS t, (event_id % 3 <> 0) AS ok,
    cast(epoch_us(ts) AS VARCHAR) || '000' AS tn,
    'probe' || (user_id % 20) AS nm,
    '10.0.0.' || (user_id % 9) AS src,
    'h' || (user_id % 5) AS sh,
    'svc' || (user_id % 6) || '.io' AS host,
    (event_id % 7) + 0.5 AS rmin
  FROM events
), p AS (
  SELECT *,
    CASE t WHEN 0 THEN '8.8.' || (uid % 4) || '.8'
           WHEN 1 THEN 'svc' || (uid % 6) || ':443'
           WHEN 2 THEN 'https://' || host END AS dst,
    CASE WHEN t IN (0, 1) THEN 3 ELSE 1 END AS tot,
    CASE t WHEN 0 THEN 'ping' WHEN 1 THEN 'tcping'
           WHEN 2 THEN 'httping' END AS tname
  FROM e
), lbl AS (
  SELECT *,
    'dst#$#' || dst || '|name#$#' || nm || '|src#$#' || src
      || '|src_host#$#' || sh AS base_l,
    'dst#$#' || dst || '|err#$#dial timeout|name#$#' || nm || '|src#$#'
      || src || '|src_host#$#' || sh AS err_l,
    'code#$#200|codex#$#2xx|dst#$#' || dst || '|name#$#' || nm
      || '|proto#$#HTTP/1.1|src#$#' || src || '|src_host#$#' || sh
      || '|url_host#$#' || host || '|url_schema#$#https' AS http_l,
    'issuer_commmon_name#$#R3|name#$#' || nm || '|src#$#' || src
      || '|src_host#$#' || sh || '|subject_commmon_name#$#' || host
      || '|url#$#' || dst || '|url_host#$#' || host AS cert_l,
    'dns_name#$#' || host || '|src#$#' || src || '|src_host#$#' || sh
      AS dns_l,
    'dns_name#$#' || host || '|err#$#no such host|src#$#' || src
      || '|src_host#$#' || sh AS dnsf_l
  FROM p
)
SELECT f.n AS "__name__", tn AS "__time_nano__", f.l AS "__labels__",
       f.v AS "__value__"
FROM lbl, LATERAL (
  SELECT
    unnest(CASE
      WHEN t = 3 AND ok THEN
        ['dns_resolve_rt_ms', 'dns_resolve_success', 'dns_resolve_failed']
      WHEN t = 3 THEN ['dns_resolve_success', 'dns_resolve_failed']
      WHEN t IN (0, 1) AND ok THEN
        [tname || '_total', tname || '_success', tname || '_failed',
         tname || '_rtt_min_ms', tname || '_rtt_max_ms',
         tname || '_rtt_avg_ms', tname || '_rtt_total_ms',
         tname || '_rtt_stddev_ms']
      WHEN t = 2 AND ok AND uid % 2 = 0 THEN
        ['httping_total', 'httping_success', 'httping_failed',
         'httping_rt_ms', 'httping_response_bytes',
         'httping_cert_ttl_days']
      WHEN t = 2 AND ok THEN
        ['httping_total', 'httping_success', 'httping_failed',
         'httping_rt_ms', 'httping_response_bytes']
      ELSE [tname || '_total', tname || '_success', tname || '_failed']
    END) AS n,
    unnest(CASE
      WHEN t = 3 AND ok THEN [dns_l, dns_l, dns_l]
      WHEN t = 3 THEN [dnsf_l, dnsf_l]
      WHEN t IN (0, 1) AND ok THEN
        [base_l, base_l, base_l, base_l, base_l, base_l, base_l, base_l]
      WHEN t = 2 AND ok AND uid % 2 = 0 THEN
        [http_l, http_l, http_l, http_l, http_l, cert_l]
      WHEN t = 2 AND ok THEN [http_l, http_l, http_l, http_l, http_l]
      ELSE [err_l, err_l, err_l]
    END) AS l,
    unnest(CASE
      WHEN t = 3 AND ok THEN [cast(rmin AS VARCHAR), '1', '0']
      WHEN t = 3 THEN ['0', '1']
      WHEN t IN (0, 1) AND ok THEN
        ['3', '3', '0', cast(rmin AS VARCHAR),
         cast(rmin + 3 AS VARCHAR), cast(rmin + 1 AS VARCHAR),
         cast(rmin * 3 + 1 AS VARCHAR),
         cast((eid % 2) + 0.5 AS VARCHAR)]
      WHEN t = 2 AND ok AND uid % 2 = 0 THEN
        ['1', '1', '0', cast(eid % 300 + 1 AS VARCHAR),
         cast(eid % 1000 AS VARCHAR), cast(eid % 90 AS VARCHAR)]
      WHEN t = 2 AND ok THEN
        ['1', '1', '0', cast(eid % 300 + 1 AS VARCHAR),
         cast(eid % 1000 AS VARCHAR)]
      ELSE [cast(tot AS VARCHAR), '0', cast(tot AS VARCHAR)]
    END) AS v
) f
"""


def q_request_breaker(spark, sf_dir):
    """ext_request_breaker decision replay (operators/httpext.py) over a
    per-backend request log derived from events: endpoint = path@shard
    (64 partitions — the per-host granularity a client breaker actually
    keys on), success = status < 500 (handy DefaultResponseValidator).
    One RANGE-window shuffle carrying (endpoint, ts, ok); decisions and
    trailing-window ratios are emitted per request."""
    from loongcollector_spark.operators import build_operator

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    path = (
        F.when(F.pmod("user_id", F.lit(4)) == 0, F.lit("/index.html"))
        .when(F.pmod("user_id", F.lit(4)) == 1, F.lit("/api/v1/items"))
        .when(F.pmod("user_id", F.lit(4)) == 2, F.lit("/login"))
        .otherwise(F.lit("/healthz"))
    )
    reqs = ev.select(
        F.col("event_id"),
        F.concat(path, F.lit("@h"), F.pmod("user_id", F.lit(16))).alias("endpoint"),
        F.col("ts"),
        (F.pmod("event_id", F.lit(6)) != 0).alias("ok"),  # %6=0 → 500
    )
    op = build_operator({"Type": "ext_request_breaker",
                         "FailureRatio": 0.10, "WindowInSeconds": 10})
    return op(reqs).select(
        "event_id", "endpoint", "win_total", "win_failed",
        "fail_ratio_milli", "would_break",
    )


O_REQUEST_BREAKER = """
WITH r AS (
  SELECT event_id,
    (CASE cast(user_id % 4 AS INT) WHEN 0 THEN '/index.html'
          WHEN 1 THEN '/api/v1/items' WHEN 2 THEN '/login'
          ELSE '/healthz' END) || '@h' || cast(user_id % 16 AS VARCHAR)
      AS endpoint,
    epoch_us(ts) AS us,
    event_id % 6 <> 0 AS ok
  FROM events
), w AS (
  SELECT event_id, endpoint,
    count(*) FILTER (WHERE true) OVER tw AS win_total,
    coalesce(sum(CASE WHEN ok THEN 0 ELSE 1 END) OVER tw, 0) AS win_failed
  FROM r
  WINDOW tw AS (PARTITION BY endpoint ORDER BY us
                RANGE BETWEEN 10000000 PRECEDING AND 1 PRECEDING)
)
SELECT event_id, endpoint, win_total, cast(win_failed AS BIGINT) AS win_failed,
  CASE WHEN win_total > 0
       THEN cast(floor(win_failed * 1000.0 / win_total) AS BIGINT)
       ELSE 0 END AS fail_ratio_milli,
  CASE WHEN win_total > 0 THEN win_failed * 1.0 / win_total > 0.10
       ELSE false END AS would_break
FROM w
"""


def q_chat_render(spark, sf_dir):
    """Chat-template rendering (functions/chatprep.py): one training
    sample per conversation with assistant-span loss statistics. The
    per-turn render is a scan-stage concat; the only shuffle is the
    per-conversation groupBy a shard writer needs anyway."""
    from loongcollector_spark.functions.chatprep import render_chat_samples

    t = transcripts_from_events(spark, sf_dir)
    out = render_chat_samples(t)
    return out.select(
        "conv_id", F.md5("sample_text").alias("sample_md5"),
        "n_turns", "sample_chars", "assistant_chars", "loss_frac_milli",
    )


O_CHAT_RENDER = f"""{_ORACLE_T},
r AS (
  SELECT conv_id, turn_idx,
    '<|' || role || '|>' || text AS rt,
    CASE WHEN role = 'assistant'
         THEN len('<|' || role || '|>' || text) ELSE 0 END AS alen
  FROM t
), s AS (
  SELECT conv_id,
    string_agg(rt, chr(10) ORDER BY turn_idx) AS sample_text,
    count(*) AS n_turns,
    sum(alen) AS assistant_chars
  FROM r GROUP BY conv_id
)
SELECT conv_id, md5(sample_text) AS sample_md5,
  cast(n_turns AS BIGINT) AS n_turns,
  cast(len(sample_text) AS BIGINT) AS sample_chars,
  cast(assistant_chars AS BIGINT) AS assistant_chars,
  cast(floor(assistant_chars * 1000.0 / len(sample_text)) AS BIGINT)
    AS loss_frac_milli
FROM s
"""


def q_sft_pairs(spark, sf_dir):
    """SFT example extraction (functions/chatprep.py): one (prompt,
    completion) row per assistant turn; prompts travel as fingerprints
    + length stats, the completion text rides along for tokenization.
    The running-prefix window is conversation-bounded."""
    from loongcollector_spark.functions.chatprep import sft_pairs

    t = transcripts_from_events(spark, sf_dir)
    return sft_pairs(t).select(
        "conv_id", "turn_idx", "prompt_md5", "prompt_turns",
        "prompt_chars", F.md5("completion").alias("completion_md5"),
        "completion_tokens",
    )


O_SFT_PAIRS = f"""{_ORACLE_T},
r AS (
  SELECT conv_id, turn_idx, role, text,
    '<|' || role || '|>' || text AS rt
  FROM t
), w AS (
  SELECT conv_id, turn_idx, role, text,
    array_to_string(list(rt) OVER win, chr(10)) AS prompt,
    count(*) OVER win AS prompt_turns
  FROM r
  WINDOW win AS (PARTITION BY conv_id ORDER BY turn_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT conv_id, turn_idx, md5(prompt) AS prompt_md5,
  cast(prompt_turns AS BIGINT) AS prompt_turns,
  cast(len(prompt) AS BIGINT) AS prompt_chars,
  md5(text) AS completion_md5,
  cast(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
       ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)
    AS completion_tokens
FROM w WHERE role = 'assistant' AND prompt_turns > 0
"""


_BADWORDS = ("slow", "garbage", "spam")


def q_badwords_filter(spark, sf_dir):
    """C4 blocklist gate (functions/curation.badwords_filter): flagged
    token occurrences per document + kept flag; only actual hits are
    ever shuffled."""
    from loongcollector_spark.functions.curation import badwords_filter

    return badwords_filter(_docs(spark, sf_dir), list(_BADWORDS))


O_BADWORDS_FILTER = f"""
WITH w AS (
  SELECT doc_id,
    regexp_replace(
      unnest(string_split_regex(trim(lower(coalesce(text, ''))), '\\s+')),
      '^\\W+|\\W+$', '', 'g') AS w
  FROM documents
), h AS (
  SELECT doc_id, count(*) AS flagged FROM w
  WHERE w IN {_BADWORDS!r} GROUP BY doc_id
)
SELECT d.doc_id, coalesce(h.flagged, 0) AS flagged_tokens,
  coalesce(h.flagged, 0) = 0 AS kept
FROM documents d LEFT JOIN h USING (doc_id)
"""


def _mojibake_oracle_sql() -> str:
    """Inject + repair chains generated from the SAME fix table the
    operator compiles, so the two stay in lockstep."""
    from loongcollector_spark.functions.text import MOJIBAKE_FIXES

    corrupt = "coalesce(text, '')"
    for src, bad in (("the", "â€œthe"),
                     ("e", "Ã©"), ("o", "Ã¶")):
        corrupt = f"replace({corrupt}, '{src}', '{bad}')"
    fixed = "c"
    for bad, good in MOJIBAKE_FIXES:
        fixed = f"replace({fixed}, '{bad}', '{good}')"
    return f"""
WITH c0 AS (SELECT doc_id, {corrupt} AS c FROM documents),
f AS (SELECT doc_id, c, {fixed} AS fx FROM c0)
SELECT doc_id, md5(fx) AS fixed_md5,
  cast(len(c) - len(fx) AS BIGINT) AS mojibake_chars,
  len(c) <> len(fx) AS changed
FROM f
"""


def q_mojibake_fix(spark, sf_dir):
    """ftfy-lite mojibake repair (functions/text.fix_mojibake) over a
    deterministically corrupted copy of the documents corpus (the
    fixtures are clean; real crawls are not). Inject and repair are both
    single codegen projections — no shuffle anywhere."""
    from loongcollector_spark.functions.text import fix_mojibake

    d = _docs(spark, sf_dir).select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text"))
    corrupted = d.withColumn(
        "text",
        F.replace(F.replace(F.replace(
            F.col("text"),
            F.lit("the"), F.lit("â€œthe")),
            F.lit("e"), F.lit("Ã©")),
            F.lit("o"), F.lit("Ã¶")),
    )
    out = fix_mojibake(corrupted)
    return out.select(
        "doc_id", F.md5("fixed_text").alias("fixed_md5"),
        "mojibake_chars", (F.col("mojibake_chars") > 0).alias("changed"),
    )


O_MOJIBAKE_FIX = _mojibake_oracle_sql()


_MIX_TARGET = {f"src{i}": (0.08 if i % 2 == 0 else 0.02) for i in range(20)}


def q_source_mix(spark, sf_dir):
    """DoReMi-style source reweighting (curation.source_mix_weights):
    per-source token mass vs a target mixture → integer sampling
    weights. One (source, tokens) partial-agg shuffle; the total is a
    broadcast 1-row cross join."""
    from loongcollector_spark.functions.curation import source_mix_weights

    return source_mix_weights(_docs(spark, sf_dir), _MIX_TARGET)


O_SOURCE_MIX = """
WITH tk AS (
  SELECT source,
    sum(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
        ELSE len(string_split_regex(trim(text), '\\s+')) END) AS tokens
  FROM documents GROUP BY source
), tot AS (SELECT sum(tokens) AS total FROM tk)
SELECT source, cast(tokens AS BIGINT) AS tokens,
  cast(floor(tokens * 1000000.0 / total) AS BIGINT) AS share_ppm,
  cast(CASE WHEN cast(substr(source, 4) AS INT) % 2 = 0
       THEN 80000 ELSE 20000 END AS BIGINT) AS target_ppm,
  cast(CASE WHEN floor(tokens * 1000000.0 / total) > 0
       THEN floor((CASE WHEN cast(substr(source, 4) AS INT) % 2 = 0
                   THEN 80000 ELSE 20000 END) * 1000.0
                  / floor(tokens * 1000000.0 / total))
       ELSE 0 END AS BIGINT) AS weight_milli
FROM tk CROSS JOIN tot
"""


def q_quality_bins(spark, sf_dir):
    """Exact curriculum quantile bins via the histogram-CDF trick
    (curation.quality_bins): the global sort an ntile would need runs on
    the ~100-row distinct-score histogram; documents map-side join the
    broadcast CDF."""
    from loongcollector_spark.functions.curation import quality_bins
    from loongcollector_spark.functions.text import with_quality

    scored = with_quality(_docs(spark, sf_dir))
    return quality_bins(scored, n_bins=10, score_col="pct_alpha")


O_QUALITY_BINS = """
WITH s AS (
  SELECT doc_id,
    cast(floor(100.0 * len(regexp_replace(text, '[^A-Za-z]', '', 'g'))
               / len(text)) AS INT) AS pct_alpha
  FROM documents
), h AS (
  SELECT pct_alpha AS v, count(*) AS n FROM s GROUP BY 1
), c AS (
  SELECT v, coalesce(sum(n) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
    PRECEDING AND 1 PRECEDING), 0) AS below FROM h
), t AS (SELECT sum(n) AS total FROM h)
SELECT doc_id, s.pct_alpha,
  cast(least(floor(below * 10.0 / total), 9) AS INT) AS bin
FROM s JOIN c ON s.pct_alpha = c.v CROSS JOIN t
"""


def q_agent_loops(spark, sf_dir):
    """Stuck-agent loop detection (chatprep.agent_loop_stats) over the
    transcripts, with the action coarsened to (role, tool, first text
    char) so repeated-action runs actually occur in the fixture. All
    windows are conversation-partitioned gaps-and-islands."""
    from loongcollector_spark.functions.chatprep import agent_loop_stats

    t = transcripts_from_events(spark, sf_dir).withColumn(
        "text", F.substring("text", 1, 1))
    return agent_loop_stats(t)


O_AGENT_LOOPS = f"""{_ORACLE_T},
a AS (
  SELECT conv_id, turn_idx, role, tool, substr(text, 1, 1) AS act
  FROM t
), f AS (
  SELECT conv_id, turn_idx,
    CASE WHEN lag(role) OVER w = role AND lag(tool) OVER w = tool
              AND lag(act) OVER w = act THEN 0 ELSE 1 END AS is_new
  FROM a WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
), i AS (
  SELECT conv_id, sum(is_new) OVER (PARTITION BY conv_id ORDER BY turn_idx
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM f
), r AS (
  SELECT conv_id, island, count(*) AS run FROM i GROUP BY 1, 2
)
SELECT conv_id, cast(max(run) AS BIGINT) AS max_run,
  cast(sum(run) AS BIGINT) AS n_turns, max(run) >= 3 AS looping
FROM r GROUP BY conv_id
"""


def q_snmp_fields(spark, sf_dir):
    """service_snmp (plugins/input/snmp/input_snmp.go:505-563): polled
    varbind rows → the reference's 7-field log shape — hwaddr/ipaddr
    conversions, OctetString-vs-ToBigInt content switch, BER type-name
    table. One codegen projection, no shuffle."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").repartition(
        spark.sparkContext.defaultParallelism, "event_id")
    eid, uid = F.col("event_id"), F.col("user_id")
    t = F.pmod(eid, F.lit(4))

    def h2(c):
        return F.lpad(F.hex(c.cast("bigint")), 2, "0")

    ip4 = F.unhex(F.concat(
        F.lit("0A"), h2(F.pmod(uid, F.lit(256))),
        h2(F.pmod(eid, F.lit(256))), h2(F.pmod(uid + eid, F.lit(256)))))
    mac = F.unhex(F.lpad(
        F.hex(F.pmod(eid * F.lit(2654435761), F.lit(1 << 48))), 12, "0"))
    varbinds = ev.select(
        F.pmod(uid, F.lit(3)).cast("int").alias("target_index"),
        F.concat(F.lit("10.0.0."), F.pmod(uid, F.lit(3)).cast("string"),
                 F.lit(":161")).alias("target"),
        F.element_at(
            F.array(F.lit("ifIndex"), F.lit("sysDescr"),
                    F.lit("ipAdEntAddr"), F.lit("ifPhysAddress")),
            (t + 1).cast("int")).alias("field"),
        F.element_at(
            F.array(F.lit(".1.3.6.1.2.1.2.2.1.1"), F.lit(".1.3.6.1.2.1.1.1"),
                    F.lit(".1.3.6.1.2.1.4.20.1.1"),
                    F.lit(".1.3.6.1.2.1.2.2.1.6")),
            (t + 1).cast("int")).alias("oid"),
        F.when(t == 2, F.lit("ipaddr")).when(t == 3, F.lit("hwaddr"))
        .otherwise(F.lit("")).alias("conversion"),
        F.when(t == 0, F.lit(0x02)).when(t == 2, F.lit(0x40))
        .otherwise(F.lit(0x04)).cast("int").alias("type_code"),
        F.when(t == 1, F.col("event_type").cast("binary"))
        .when(t == 2, ip4).when(t == 3, mac).alias("value_bytes"),
        F.when(t == 0, uid - 500).cast("long").alias("value_num"),
    )
    return build_operator({"Type": "service_snmp"})(varbinds)


O_SNMP_FIELDS = """
WITH base AS (
  SELECT event_id AS eid, user_id AS uid, event_type,
         event_id % 4 AS t
  FROM events
)
SELECT
  cast(uid % 3 AS VARCHAR) AS _targetindex_,
  '10.0.0.' || (uid % 3) || ':161' AS _target_,
  CASE t WHEN 0 THEN 'ifIndex' WHEN 1 THEN 'sysDescr'
         WHEN 2 THEN 'ipAdEntAddr' ELSE 'ifPhysAddress' END AS _field_,
  CASE t WHEN 0 THEN '.1.3.6.1.2.1.2.2.1.1'
         WHEN 1 THEN '.1.3.6.1.2.1.1.1'
         WHEN 2 THEN '.1.3.6.1.2.1.4.20.1.1'
         ELSE '.1.3.6.1.2.1.2.2.1.6' END AS _oid_,
  CASE t WHEN 2 THEN 'ipaddr' WHEN 3 THEN 'hwaddr' ELSE '' END
    AS _conversion_,
  CASE t WHEN 0 THEN 'Integer' WHEN 2 THEN 'IPAddress'
         ELSE 'OctetString' END AS _type_,
  CASE t
    WHEN 0 THEN cast(uid - 500 AS VARCHAR)
    WHEN 1 THEN event_type
    WHEN 2 THEN '10.' || (uid % 256) || '.' || (eid % 256) || '.'
             || ((uid + eid) % 256)
    ELSE rtrim(regexp_replace(
           printf('%012x', (eid * 2654435761) % 281474976710656),
           '(..)', '\\1:', 'g'), ':')
  END AS _content_,
  true AS _decode_ok
FROM base
"""


def q_wineventlog_events(spark, sf_dir):
    """service_wineventlog (plugins/input/input_wineventlog/eventlog/
    eventlog.go:67-132 ToEvent + the winlogbeat query grammar): forwarded
    event XML → field map, with EventID range/exclusion, Level-name and
    Provider filters applied. Decode + filter ride the scan; no shuffle."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").repartition(
        spark.sparkContext.defaultParallelism, "event_id")
    eid, uid = F.col("event_id"), F.col("user_id")
    xml = F.concat(
        F.lit("<Event><System><Provider Name='Prov"),
        F.pmod(uid, F.lit(4)).cast("string"),
        F.lit("'/><EventID>"), (F.pmod(eid, F.lit(300)) + 4600).cast("string"),
        F.lit("</EventID><Version>1</Version><Level>"),
        F.pmod(eid, F.lit(6)).cast("string"),
        F.lit("</Level><TimeCreated SystemTime='"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"),
        F.lit("'/><EventRecordID>"), eid.cast("string"),
        F.lit("</EventRecordID><Execution ProcessID='"),
        F.pmod(uid, F.lit(5000)).cast("string"),
        F.lit("' ThreadID='9'/><Channel>"),
        F.when(F.pmod(uid, F.lit(2)) == 0, F.lit("System"))
        .otherwise(F.lit("Application")),
        F.lit("</Channel><Computer>WIN-"), F.pmod(uid, F.lit(7)).cast("string"),
        F.lit("</Computer></System><EventData><Data Name='param1'>"),
        F.col("event_type"),
        F.lit("</Data><Data Name='svc'>"), uid.cast("string"),
        F.lit("</Data><Data>"), F.pmod(eid, F.lit(10)).cast("string"),
        F.lit("</Data></EventData></Event>"))
    out = build_operator({
        "Type": "service_wineventlog", "SourceKey": "xml",
        "EventID": "4600-4850,-4700", "Level": "info,err,critical",
        "Provider": ["Prov0", "Prov1", "Prov2"],
    })(ev.select(xml.alias("xml")))
    f = F.col("fields")
    return out.select(
        f["event_id"].alias("event_id"),
        f["level"].alias("level"),
        f["source_name"].alias("source_name"),
        f["log_name"].alias("log_name"),
        f["record_number"].alias("record_number"),
        f["event_data"].alias("event_data"),
        f["process_id"].alias("process_id"),
        F.col("event_time"),
    )


O_WINEVENTLOG_EVENTS = """
WITH base AS (
  SELECT event_id AS eid, user_id AS uid, event_type, ts,
         event_id % 6 AS lvl
  FROM events
)
SELECT
  cast(4600 + eid % 300 AS VARCHAR) AS event_id,
  CASE lvl WHEN 1 THEN 'Critical' WHEN 2 THEN 'Error'
           WHEN 3 THEN 'Warning' WHEN 5 THEN 'Verbose'
           ELSE 'Information' END AS level,
  'Prov' || (uid % 4) AS source_name,
  CASE WHEN uid % 2 = 0 THEN 'System' ELSE 'Application' END AS log_name,
  cast(eid AS VARCHAR) AS record_number,
  '{"Data1":"' || (eid % 10) || '","param1":"' || event_type
    || '","svc":"' || uid || '"}' AS event_data,
  cast(uid % 5000 AS VARCHAR) AS process_id,
  ts AS event_time
FROM base
WHERE eid % 300 <= 250 AND eid % 300 != 100   -- 4600-4850, -4700
  AND lvl IN (0, 1, 2, 4)                     -- info(0,4), err, critical
  AND uid % 4 IN (0, 1, 2)                    -- provider list
"""


def q_skywalking_logs(spark, sf_dir):
    """service_skywalking logging conversion (plugins/input/
    skywalkingv3/logging_handle.go:96-117): LogData rows → the fixed
    content keys, second/ns time split, endpoint-vs-tag attribute
    precedence, trace gating. One projection, no shuffle."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").repartition(
        spark.sparkContext.defaultParallelism, "event_id")
    eid, uid = F.col("event_id"), F.col("user_id")
    has_trace = F.pmod(eid, F.lit(3)) != 0
    override = F.pmod(eid, F.lit(5)) == 0
    logdata = ev.select(
        (F.unix_micros(F.col("ts").cast("timestamp")) / 1000)
        .cast("long").alias("timestamp"),
        F.concat(F.lit("svc"), F.pmod(uid, F.lit(5)).cast("string"))
        .alias("service"),
        F.concat(F.lit("inst"), F.pmod(uid, F.lit(3)).cast("string"))
        .alias("service_instance"),
        F.concat(F.lit("/api/"), F.col("event_type")).alias("endpoint"),
        F.element_at(
            F.array(F.lit("TEXT"), F.lit("JSON"), F.lit("YAML")),
            (F.pmod(eid, F.lit(3)) + 1).cast("int")).alias("body_type"),
        F.col("props").alias("body_text"),
        F.when(has_trace, F.concat(F.lit("t"), eid.cast("string")))
        .alias("trace_id"),
        F.when(has_trace, F.concat(F.lit("seg"), uid.cast("string")))
        .alias("trace_segment_id"),
        F.when(has_trace, F.pmod(eid, F.lit(7))).cast("long")
        .alias("span_id"),
        F.when(override,
               F.create_map(F.lit("endpoint"), F.lit("/override")))
        .otherwise(F.create_map(
            F.lit("level"), F.col("event_type"),
            F.lit("uid"), uid.cast("string"))).alias("tags"),
    )
    out = build_operator({"Type": "service_skywalking"})(logdata)
    c = F.col("contents")
    return out.select(
        "time", "time_ns",
        c["service"].alias("service"),
        c["content"].alias("content"),
        c["attribute"].alias("attribute"),
        c["resource"].alias("resource"),
        c["traceID"].alias("trace_id"),
        c["spanID"].alias("span_id"),
        c["timeUnixNano"].alias("time_unix_nano"),
    )


O_SKYWALKING_LOGS = """
WITH base AS (
  SELECT event_id AS eid, user_id AS uid, event_type, props,
         epoch_ms(ts::TIMESTAMP) AS ms,
         event_id % 3 != 0 AS has_trace,
         event_id % 5 = 0 AS override
  FROM events
)
SELECT
  cast(ms // 1000 AS BIGINT) AS time,
  cast((ms % 1000) * 1000000 AS BIGINT) AS time_ns,
  'svc' || (uid % 5) AS service,
  props AS content,
  CASE WHEN override THEN '{"endpoint":"/override"}'
       ELSE '{"endpoint":"/api/' || event_type || '","level":"'
            || event_type || '","uid":"' || uid || '"}' END AS attribute,
  '{"serviceInstance":"inst' || (uid % 3) || '"}' AS resource,
  CASE WHEN has_trace THEN 't' || eid END AS trace_id,
  CASE WHEN has_trace THEN 'seg' || uid || '.' || (eid % 7) END
    AS span_id,
  cast(ms AS VARCHAR) AS time_unix_nano
FROM base
"""


def q_chunk_windows(spark, sf_dir):
    """Sliding-window context chunking (curation.chunk_windows): docs →
    fixed 64-token windows at stride 48, partial tails >= 8 tokens kept.
    Word array materialized once; sequence+posexplode rides the scan."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism, "doc_id")
    from loongcollector_spark.functions.curation import chunk_windows

    return chunk_windows(docs, window=64, stride=48, min_tokens=8)


O_CHUNK_WINDOWS = """
WITH w AS (
  SELECT doc_id,
    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
      AS words
  FROM documents WHERE text IS NOT NULL
), s AS (
  SELECT doc_id, words, unnest(range(0, len(words), 48)) AS start_tok
  FROM w
)
SELECT doc_id,
  cast(start_tok / 48 AS INT) AS chunk_idx,
  cast(start_tok AS INT) AS start_tok,
  cast(least(64, len(words) - start_tok) AS INT) AS n_tokens,
  array_to_string(list_slice(words, start_tok + 1, start_tok + 64), ' ')
    AS chunk_text
FROM s
WHERE least(64, len(words) - start_tok) >= 8
"""


def q_ann_pq_topk(spark, sf_dir):
    """Product-quantization ANN (similarity.pq_topk): 8 one-byte codes
    per vector from seed sub-codebooks, query scored by ADC table
    lookups over integer micro-units — encode and query are broadcasts
    of one collected-array row, zero corpus shuffle."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(
        spark.sparkContext.defaultParallelism, "vec_id")
    from loongcollector_spark.functions.similarity import pq_topk

    return pq_topk(emb, query_vec_id=0, k=10, m=8, n_codes=16,
                   shortlist=50)


O_ANN_PQ_TOPK = """
WITH e AS (
  SELECT vec_id, embedding FROM embeddings
), cent AS (
  SELECT vec_id AS cid, embedding AS cvec FROM e
  WHERE vec_id BETWEEN 1 AND 16
), q AS (
  SELECT embedding AS qe FROM e WHERE vec_id = 0
), js AS (
  SELECT unnest(range(0, 8)) AS j
), dist AS (
  SELECT v.vec_id, js.j, c.cid,
    list_sum(list_transform(range(1, 9), t ->
      cast(floor((v.embedding[js.j * 8 + t]::DOUBLE
                  - c.cvec[js.j * 8 + t]::DOUBLE)
                 * (v.embedding[js.j * 8 + t]::DOUBLE
                    - c.cvec[js.j * 8 + t]::DOUBLE) * 1e6 + 0.5)
           AS BIGINT))) AS du
  FROM e v, cent c, js WHERE v.vec_id != 0
), codes AS (
  SELECT vec_id, j, cid, row_number() OVER (
    PARTITION BY vec_id, j ORDER BY du, cid) AS rn
  FROM dist
), qdist AS (
  SELECT js.j, c.cid,
    list_sum(list_transform(range(1, 9), t ->
      cast(floor((q.qe[js.j * 8 + t]::DOUBLE
                  - c.cvec[js.j * 8 + t]::DOUBLE)
                 * (q.qe[js.j * 8 + t]::DOUBLE
                    - c.cvec[js.j * 8 + t]::DOUBLE) * 1e6 + 0.5)
           AS BIGINT))) AS du
  FROM q, cent c, js
), adc AS (
  SELECT codes.vec_id, cast(sum(qdist.du) AS BIGINT) AS adc_dist_u
  FROM codes JOIN qdist ON codes.j = qdist.j AND codes.cid = qdist.cid
  WHERE codes.rn = 1
  GROUP BY codes.vec_id
), cand AS (
  SELECT vec_id, adc_dist_u FROM adc
  ORDER BY adc_dist_u ASC, vec_id ASC LIMIT 50
)
SELECT cand.vec_id, cand.adc_dist_u,
  cast(list_sum(list_transform(range(1, 65), t ->
    cast(floor((v.embedding[t]::DOUBLE - q.qe[t]::DOUBLE)
               * (v.embedding[t]::DOUBLE - q.qe[t]::DOUBLE) * 1e6 + 0.5)
         AS BIGINT))) AS BIGINT) AS l2_dist_u
FROM cand JOIN e v ON v.vec_id = cand.vec_id, q
ORDER BY l2_dist_u ASC, cand.vec_id ASC LIMIT 10
"""


def q_preference_pairs(spark, sf_dir):
    """DPO preference-pair mining (chatprep.response_contrast_pairs):
    assistant responses to the same user prompt (by fingerprint) ranked
    deterministically; one (chosen, rejected) pair per prompt with >=2
    distinct responses. One shuffle (fp window + agg share the
    exchange); text never shuffles — md5s and ids only."""
    from loongcollector_spark.functions.chatprep import (
        response_contrast_pairs,
    )

    t = transcripts_from_events(spark, sf_dir)
    return response_contrast_pairs(t)


O_PREFERENCE_PAIRS = f"""{_ORACLE_T},
resp AS (
  SELECT conv_id, turn_idx, role,
    md5(lag(text) OVER w) AS prompt_fp,
    lag(role) OVER w AS prev_role,
    lag(text) OVER w AS prompt,
    md5(coalesce(text, '')) AS rmd5,
    CASE WHEN trim(coalesce(text, '')) = '' THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS tokens
  FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
), cand0 AS (
  SELECT conv_id, turn_idx, prompt_fp, rmd5, cast(tokens AS BIGINT)
      AS tokens
  FROM resp
  WHERE role = 'assistant' AND prev_role = 'user' AND prompt IS NOT NULL
), cand AS (
  SELECT prompt_fp, rmd5, conv_id, turn_idx, tokens FROM (
    SELECT *, row_number() OVER (PARTITION BY prompt_fp, rmd5
      ORDER BY conv_id, turn_idx) AS drn
    FROM cand0
  ) WHERE drn = 1
), ranked AS (
  SELECT *,
    row_number() OVER (PARTITION BY prompt_fp
      ORDER BY tokens DESC, conv_id ASC, turn_idx ASC) AS rn_hi,
    row_number() OVER (PARTITION BY prompt_fp
      ORDER BY tokens ASC, conv_id DESC, turn_idx DESC) AS rn_lo,
    count(*) OVER (PARTITION BY prompt_fp) AS n_candidates
  FROM cand
), agg AS (
  SELECT prompt_fp, cast(max(n_candidates) AS BIGINT) AS n_candidates,
    max(CASE WHEN rn_hi = 1 THEN conv_id END) AS chosen_conv,
    max(CASE WHEN rn_hi = 1 THEN turn_idx END) AS chosen_turn,
    max(CASE WHEN rn_hi = 1 THEN rmd5 END) AS chosen_md5,
    max(CASE WHEN rn_hi = 1 THEN tokens END) AS chosen_tokens,
    max(CASE WHEN rn_lo = 1 THEN conv_id END) AS rejected_conv,
    max(CASE WHEN rn_lo = 1 THEN turn_idx END) AS rejected_turn,
    max(CASE WHEN rn_lo = 1 THEN rmd5 END) AS rejected_md5,
    max(CASE WHEN rn_lo = 1 THEN tokens END) AS rejected_tokens
  FROM ranked WHERE n_candidates >= 2
  GROUP BY prompt_fp
)
SELECT * FROM agg WHERE chosen_md5 != rejected_md5
"""


def q_k8s_pod_entities(spark, sf_dir):
    """service_kubernetesmeta pod path (meta_collector_core.go:14-120):
    observed pods → pod + container entity events — genKey md5 ids,
    Go-JSON labels/containers packing, container fan-out. Projections +
    one explode, no shuffle."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").repartition(
        spark.sparkContext.defaultParallelism, "event_id")
    eid, uid = F.col("event_id"), F.col("user_id")
    two = F.pmod(eid, F.lit(2)) == 0

    def cont(i):
        return F.struct(
            F.lit(f"c{i}").alias("name"),
            F.concat(F.lit(f"img{i}:"), F.pmod(uid, F.lit(9))
                     .cast("string")).alias("image"),
            (F.when(F.pmod(eid + i, F.lit(3)) == 0, F.lit("500m")))
            .alias("cpu_request"),
            F.lit(None).cast("string").alias("cpu_limit"),
            F.lit("64Mi").alias("memory_request"),
            F.lit(None).cast("string").alias("memory_limit"),
            F.when(two, F.array(F.lit(80), F.lit(443)))
            .alias("ports"),
            F.when(~two, F.array(F.struct(
                F.lit("data").alias("name"),
                F.lit("/var/data").alias("path"))))
            .alias("volume_mounts"),
        )

    pods = ev.select(
        F.concat(F.lit("ns"), F.pmod(uid, F.lit(5)).cast("string"))
        .alias("namespace"),
        F.concat(F.lit("pod-"), eid.cast("string")).alias("name"),
        F.lit("v1").alias("api_version"),
        F.element_at(F.array(F.lit("Running"), F.lit("Pending"),
                             F.lit("Succeeded")),
                     (F.pmod(eid, F.lit(3)) + 1).cast("int"))
        .alias("phase"),
        F.concat(F.lit("10.0."), F.pmod(uid, F.lit(30)).cast("string"),
                 F.lit("."), F.pmod(eid, F.lit(250)).cast("string"))
        .alias("pod_ip"),
        F.create_map(F.lit("app"), F.col("event_type")).alias("labels"),
        F.when(F.pmod(eid, F.lit(3)) != 0,
               F.create_map(F.lit("note"), uid.cast("string")))
        .alias("annotations"),
        F.when(two, F.array(cont(0), cont(1)))
        .otherwise(F.array(cont(0))).alias("containers"),
        F.col("ts").cast("timestamp").alias("creation_ts"),
        (eid + 1000).cast("long").alias("first_observed"),
        (eid + 2000).cast("long").alias("last_observed"),
        F.when(two, F.lit("Update")).otherwise(F.lit("Create"))
        .alias("method"),
    )
    out = build_operator({
        "Type": "service_kubernetesmeta", "Domain": "k8s",
        "ClusterID": "cid1", "Interval": 15})(pods)
    c = F.col("contents")
    return out.select(
        c["__entity_type__"].alias("entity_type"),
        c["__entity_id__"].alias("entity_id"),
        c["__method__"].alias("method"),
        c["name"].alias("name"),
        c["pod_name"].alias("pod_name"),
        c["labels"].alias("labels"),
        c["containers"].alias("containers"),
        c["container_ports"].alias("container_ports"),
        c["volumes"].alias("volumes"),
        c["__first_observed_time__"].alias("first_observed"),
        c["__keep_alive_seconds__"].alias("keep_alive"),
        c["status"].alias("status"),
    )


O_K8S_POD_ENTITIES = """
WITH base AS (
  SELECT event_id AS eid, user_id AS uid, event_type,
         event_id % 2 = 0 AS two,
         'ns' || (uid % 5) AS ns, 'pod-' || event_id AS pod,
         CASE event_id % 3 WHEN 0 THEN 'Running' WHEN 1 THEN 'Pending'
              ELSE 'Succeeded' END AS phase,
         CASE WHEN event_id % 2 = 0 THEN 'Update' ELSE 'Create' END
           AS method
  FROM events
), conts AS (
  SELECT *, unnest(CASE WHEN two THEN [0, 1] ELSE [0] END) AS ci
  FROM base
)
SELECT 'k8s.pod' AS entity_type,
  md5('cid1' || 'Pod' || ns || pod) AS entity_id,
  method, pod AS name,
  NULL AS pod_name,
  '{"app":"' || event_type || '"}' AS labels,
  CASE WHEN two THEN
    '[{"image":"img0:' || (uid % 9) || '","name":"c0"},'
      || '{"image":"img1:' || (uid % 9) || '","name":"c1"}]'
  ELSE '[{"image":"img0:' || (uid % 9) || '","name":"c0"}]' END
    AS containers,
  NULL AS container_ports, NULL AS volumes,
  cast(eid + 1000 AS VARCHAR) AS first_observed,
  '30' AS keep_alive, phase AS status
FROM base
UNION ALL
SELECT 'k8s.container',
  md5('cid1' || 'container' || ns || pod || 'c' || ci),
  method, 'c' || ci, pod,
  NULL,
  NULL,
  CASE WHEN two THEN '[80,443]' ELSE '[]' END,
  CASE WHEN two THEN '[]'
       ELSE '[{"volumeMountName":"data","volumeMountPath":"/var/data"}]'
  END,
  cast(eid + 1000 AS VARCHAR), '30', NULL
FROM conts
"""


def q_k8s_entities(spark, sf_dir):
    """service_kubernetesmeta non-pod kinds (meta_collector_core.go:
    119-204 Service/Node, meta_collector_app.go:13-49 Deployment):
    observed objects of three kinds → entity events — genKey md5 ids,
    Go-JSON object/array packing (map marshals sorted, struct marshals
    in declaration order), cluster-scoped Node keys. Pure projections,
    no shuffle."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").repartition(
        spark.sparkContext.defaultParallelism, "event_id")
    eid, uid = F.col("event_id"), F.col("user_id")
    base_cols = [
        F.concat(F.lit("ns"), F.pmod(uid, F.lit(5)).cast("string"))
        .alias("namespace"),
        F.lit("v1").alias("api_version"),
        F.create_map(F.lit("app"), F.col("event_type")).alias("labels"),
        F.when(F.pmod(eid, F.lit(3)) != 0,
               F.create_map(F.lit("note"), uid.cast("string")))
        .alias("annotations"),
        F.col("ts").cast("timestamp").alias("creation_ts"),
        (eid + 1000).cast("long").alias("first_observed"),
        (eid + 2000).cast("long").alias("last_observed"),
        F.when(F.pmod(eid, F.lit(2)) == 0, F.lit("Update"))
        .otherwise(F.lit("Create")).alias("method"),
    ]
    kw = dict(domain="k8s", cluster_id="cid1", interval=15)

    from loongcollector_spark.operators.k8smetaops import (
        k8s_deployment_entities, k8s_node_entities, k8s_service_entities,
    )

    svc = k8s_service_entities(ev.filter(F.pmod(eid, F.lit(3)) == 0).select(
        *base_cols,
        F.concat(F.lit("svc-"), eid.cast("string")).alias("name"),
        F.create_map(F.lit("app"), F.col("event_type")).alias("selector"),
        F.when(F.pmod(eid, F.lit(2)) == 0, F.lit("ClusterIP"))
        .otherwise(F.lit("NodePort")).alias("type"),
        F.concat(F.lit("10.1."), F.pmod(uid, F.lit(30)).cast("string"),
                 F.lit("."), F.pmod(eid, F.lit(250)).cast("string"))
        .alias("cluster_ip"),
        F.array(F.struct(
            (F.pmod(eid, F.lit(3)) + 80).cast("int").alias("port"),
            (F.pmod(eid, F.lit(3)) + 8080).cast("string")
            .alias("target_port"),
            F.lit("TCP").alias("protocol"))).alias("ports"),
    ), **kw)
    dep = k8s_deployment_entities(ev.filter(F.pmod(eid, F.lit(3)) == 1).select(
        *base_cols,
        F.concat(F.lit("dep-"), eid.cast("string")).alias("name"),
        F.when(F.pmod(eid, F.lit(7)) != 0,
               F.create_map(F.lit("app"), F.col("event_type")))
        .alias("match_labels"),
        F.when(F.pmod(eid, F.lit(13)) != 0,
               F.pmod(eid, F.lit(10)).cast("int")).alias("replicas"),
        F.pmod(eid, F.lit(5)).cast("int").alias("ready_replicas"),
        F.array(F.struct(
            F.lit("c0").alias("name"),
            F.concat(F.lit("img:"), F.pmod(uid, F.lit(9)).cast("string"))
            .alias("image"))).alias("containers"),
    ), **kw)
    node = k8s_node_entities(ev.filter(F.pmod(eid, F.lit(3)) == 2).select(
        *base_cols,
        F.concat(F.lit("node-"), eid.cast("string")).alias("name"),
        F.array(F.struct(
            F.lit("Ready").alias("type"),
            F.when(F.pmod(eid, F.lit(2)) == 0, F.lit("True"))
            .otherwise(F.lit("False")).alias("status"))).alias("conditions"),
        F.concat(F.lit("10.2."), F.pmod(uid, F.lit(30)).cast("string"),
                 F.lit("."), F.pmod(eid, F.lit(250)).cast("string"))
        .alias("internal_ip"),
        F.concat(F.lit("host-"), eid.cast("string")).alias("host_name"),
        F.create_map(F.lit("cpu"),
                     (F.pmod(eid, F.lit(8)) + 1).cast("string"),
                     F.lit("memory"), F.lit("16Gi")).alias("capacity"),
        F.create_map(F.lit("cpu"),
                     F.pmod(eid, F.lit(8)).cast("string")).alias("allocatable"),
        F.array(
            F.struct(F.lit("InternalIP").alias("type"),
                     F.concat(F.lit("10.2."),
                              F.pmod(uid, F.lit(30)).cast("string"),
                              F.lit("."),
                              F.pmod(eid, F.lit(250)).cast("string"))
                     .alias("address")),
            F.struct(F.lit("Hostname").alias("type"),
                     F.concat(F.lit("host-"), eid.cast("string"))
                     .alias("address"))).alias("addresses"),
        F.concat(F.lit("prov://"), eid.cast("string")).alias("provider_id"),
    ), **kw)

    c = F.col("contents")
    def proj(df, detail, extra):
        return df.select(
            c["__entity_type__"].alias("entity_type"),
            c["__entity_id__"].alias("entity_id"),
            c["__method__"].alias("method"),
            c["name"].alias("name"),
            c["labels"].alias("labels"),
            c["annotations"].alias("annotations"),
            c[detail].alias("detail"),
            c[extra].alias("extra"),
            c["__first_observed_time__"].alias("first_observed"),
            c["__keep_alive_seconds__"].alias("keep_alive"),
        )
    return (
        proj(svc, "ports", "cluster_ip")
        .unionByName(proj(dep, "containers", "replicas"))
        .unionByName(proj(node, "addresses", "provider_id"))
    )


O_K8S_ENTITIES = """
WITH base AS (
  SELECT event_id AS eid, user_id AS uid, event_type,
    'ns' || (uid % 5) AS ns,
    CASE WHEN event_id % 2 = 0 THEN 'Update' ELSE 'Create' END AS method,
    '{"app":"' || event_type || '"}' AS labels,
    CASE WHEN event_id % 3 != 0 THEN '{"note":"' || uid || '"}'
         ELSE '{}' END AS annotations,
    cast(event_id + 1000 AS VARCHAR) AS fo
  FROM events
)
SELECT 'k8s.service' AS entity_type,
  md5('cid1' || 'Service' || ns || 'svc-' || eid) AS entity_id,
  method, 'svc-' || eid AS name, labels, annotations,
  '[{"port":"' || (eid % 3 + 80) || '","protocol":"TCP","targetPort":"'
    || (eid % 3 + 8080) || '"}]' AS detail,
  '10.1.' || (uid % 30) || '.' || (eid % 250) AS extra,
  fo AS first_observed, '30' AS keep_alive
FROM base WHERE eid % 3 = 0
UNION ALL
SELECT 'k8s.deployment',
  md5('cid1' || 'Deployment' || ns || 'dep-' || eid),
  method, 'dep-' || eid, labels, annotations,
  '[{"image":"img:' || (uid % 9) || '","name":"c0"}]',
  CASE WHEN eid % 13 != 0 THEN cast(eid % 10 AS VARCHAR) ELSE '' END,
  fo, '30'
FROM base WHERE eid % 3 = 1
UNION ALL
SELECT 'k8s.node',
  md5('cid1' || 'Node' || '' || 'node-' || eid),
  method, 'node-' || eid, labels, annotations,
  '[{"type":"InternalIP","address":"10.2.' || (uid % 30) || '.'
    || (eid % 250) || '"},{"type":"Hostname","address":"host-' || eid
    || '"}]',
  'prov://' || eid,
  fo, '30'
FROM base WHERE eid % 3 = 2
"""


def q_process_metrics(spark, sf_dir):
    """metric_process_v2 (input_process.go): regex + threshold + top-N
    process selection (CPU-top then mem-top with dedup and the
    MaxProcessCount cap — the reference's append-order semantics) and
    the metric-log emission contract (__name__/__labels__/__value__/
    __time_nano__, labels sorted k#$#v with comm truncation)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").repartition(
        spark.sparkContext.defaultParallelism, "event_id")
    eid = F.col("event_id")
    procs = ev.select(
        eid.alias("scan_idx"),
        F.pmod(eid, F.lit(32768)).cast("int").alias("pid"),
        F.concat(F.lit("/usr/bin/"), F.col("event_type")).alias("exe"),
        F.concat(F.lit("/usr/bin/"), F.col("event_type"), F.lit(" --run"))
        .alias("cmdline"),
        F.col("event_type").alias("comm"),
        (eid / F.lit(100.0)).alias("cpu_percent"),
        (eid / F.lit(300.0)).alias("stime_percent"),
        (eid / F.lit(200.0)).alias("utime_percent"),
        ((F.lit(200000) - eid) * 1024).cast("long").alias("rss"),
        eid.cast("long").alias("swap"),
        (eid * 2).cast("long").alias("vsz"),
        (eid * 3).cast("long").alias("data"),
        F.pmod(eid, F.lit(17)).cast("int").alias("threads_num"),
        F.pmod(eid, F.lit(23)).cast("int").alias("fds_num"),
        (eid * 5).cast("long").alias("net_in_bytes"),
        (eid * 6).cast("long").alias("net_in_packet"),
        (eid * 7).cast("long").alias("net_out_bytes"),
        (eid * 8).cast("long").alias("net_out_packet"),
        (eid * 9).cast("long").alias("read_bytes"),
        (eid * 10).cast("long").alias("write_bytes"),
        (eid * 11).cast("long").alias("read_count"),
        (eid * 12).cast("long").alias("write_count"),
        F.col("ts"),
    )
    op = build_operator({
        "Type": "metric_process_v2", "TopNCPU": 50, "TopNMem": 30,
        "MinCPULimitPercent": 25.0, "MinMemoryLimitKB": 100,
        "MaxProcessCount": 60, "Thread": True, "NetIO": True,
        "ProcessNamesRegex": ["^/usr/bin/(click|error|view)"],
    })
    return op(procs)


O_PROCESS_METRICS = """
WITH p AS (
  SELECT event_id AS scan_idx, event_id % 32768 AS pid,
    event_type AS comm, ts,
    event_id / 100.0 AS cpu, event_id / 300.0 AS stp,
    event_id / 200.0 AS utp,
    (200000 - event_id) * 1024 AS rss, event_id AS swap,
    event_id * 2 AS vsz, event_id * 3 AS datam
  FROM events
  WHERE regexp_matches('/usr/bin/' || event_type,
                       '^/usr/bin/(click|error|view)')
     OR regexp_matches('/usr/bin/' || event_type || ' --run',
                       '^/usr/bin/(click|error|view)')
), thr AS (
  SELECT * FROM p WHERE cpu >= 25.0 OR rss >= 100 * 1024
), cpu_sel AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (ORDER BY cpu DESC, scan_idx) AS rk
    FROM thr) WHERE rk <= 50
), mem_cand AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (ORDER BY rss DESC, scan_idx) AS mrk
    FROM thr) WHERE mrk <= 30
), mem_sel AS (
  SELECT * FROM (
    SELECT m.*, row_number() OVER (ORDER BY m.mrk) AS slot
    FROM mem_cand m
    WHERE m.scan_idx NOT IN (SELECT scan_idx FROM cpu_sel)
  ) WHERE slot <= 60 - (SELECT count(*) FROM cpu_sel)
), sel AS (
  SELECT scan_idx, pid, comm, ts, cpu, stp, utp, rss, swap, vsz, datam
  FROM cpu_sel
  UNION ALL
  SELECT scan_idx, pid, comm, ts, cpu, stp, utp, rss, swap, vsz, datam
  FROM mem_sel
), m AS (
  SELECT sel.*, u.name AS mname,
    CASE u.name
      WHEN 'process_cpu_percent' THEN cpu
      WHEN 'process_cpu_stime_percent' THEN stp
      WHEN 'process_cpu_utime_percent' THEN utp
      WHEN 'process_mem_rss' THEN rss
      WHEN 'process_mem_swap' THEN swap
      WHEN 'process_mem_vsz' THEN vsz
      WHEN 'process_mem_data' THEN datam
      WHEN 'process_threads' THEN scan_idx % 17
      WHEN 'process_net_in_bytes' THEN scan_idx * 5
      WHEN 'process_net_in_packet' THEN scan_idx * 6
      WHEN 'process_net_out_bytes' THEN scan_idx * 7
      WHEN 'process_net_out_packet' THEN scan_idx * 8
    END AS v
  FROM sel, unnest(['process_cpu_percent', 'process_cpu_stime_percent',
    'process_cpu_utime_percent', 'process_mem_rss', 'process_mem_swap',
    'process_mem_vsz', 'process_mem_data', 'process_threads',
    'process_net_in_bytes', 'process_net_in_packet',
    'process_net_out_bytes', 'process_net_out_packet']) AS u(name)
)
SELECT mname AS __name__,
  'comm#$#' || comm || '|hostname#$#host|ip#$#127.0.0.1|pid#$#' || pid
    AS __labels__,
  cast(v AS DOUBLE) AS __value__,
  epoch_us(ts) * 1000 AS __time_nano__
FROM m
"""


def _synth_system_snapshots(spark, sf_dir):
    """Two counter snapshots (10 s apart) for 4 hosts, derived from
    per-host event aggregates: CPU jiffies, mem gauges, TCP counters,
    two disks (sda + the sda1 partition — excluded from 'total'), two
    interfaces. The deltas are closed-form so the DuckDB oracle rebuilds
    every metric row exactly."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    base = ev.groupBy(F.pmod(F.col("user_id"), F.lit(4)).alias("h")).agg(
        F.count("*").alias("n"))

    def disks(scale):
        def dev(name, rb, wb, rc, wc, rt, wt, io):
            return F.struct(
                F.lit(name).alias("name"), rb.cast("long").alias("read_bytes"),
                wb.cast("long").alias("write_bytes"),
                rc.cast("long").alias("read_count"),
                wc.cast("long").alias("write_count"),
                rt.cast("long").alias("read_time"),
                wt.cast("long").alias("write_time"),
                io.cast("long").alias("io_time"))

        n = F.col("n")
        s = F.lit(scale)
        return F.array(
            dev("sda", n * 1000 + s * 4000, n * 2000 + s * 8000,
                n * 10 + s * 40, n * 20 + s * 80, n * 100 + s * 400,
                n * 200 + s * 160, n * 50 + s * 500),
            dev("sda1", n * 500 + s * 100, n * 1000 + s * 200,
                n * 5, n * 10 + s * 10, n * 50, n * 100 + s * 30,
                n * 25 + s * 20),
        )

    def nets(scale):
        def itf(name, br, bs, pr, ps, ei, eo, di, do):
            return F.struct(
                F.lit(name).alias("name"), br.cast("long").alias("bytes_recv"),
                bs.cast("long").alias("bytes_sent"),
                pr.cast("long").alias("packets_recv"),
                ps.cast("long").alias("packets_sent"),
                ei.cast("long").alias("errin"), eo.cast("long").alias("errout"),
                di.cast("long").alias("dropin"),
                do.cast("long").alias("dropout"))

        n = F.col("n")
        s = F.lit(scale)
        return F.array(
            itf("eth0", n * 900 + s * 5000, n * 800 + s * 6000,
                n * 9 + s * 50, n * 8 + s * 60, s * 2, s * 1, s * 3,
                F.lit(0)),
            itf("lo", n * 10 + s * 100, n * 10 + s * 100,
                n + s * 10, n + s * 10, F.lit(0), F.lit(0), F.lit(0),
                F.lit(0)),
        )

    def snap(idx):
        h, n, s = F.col("h"), F.col("n"), F.lit(idx)
        return base.select(
            F.concat(F.lit("h"), h.cast("string")).alias("host"),
            F.lit(idx).alias("snap_idx"),
            (F.lit("2026-01-01 00:00:00").cast("timestamp")
             + F.make_interval(secs=s * 10)).alias("snap_ts"),
            (n + s * 40).cast("double").alias("cpu_user"),
            (n * 2 + s * 10).cast("double").alias("cpu_system"),
            (s * 5).cast("double").alias("cpu_nice"),
            (h + s * 2).cast("double").alias("cpu_irq"),
            s.cast("double").alias("cpu_softirq"),
            F.lit(0.0).alias("cpu_guest"),
            F.lit(0.0).alias("cpu_guest_nice"),
            (n * 100 + s * 900).cast("double").alias("cpu_idle"),
            (h + s * 4).cast("double").alias("cpu_iowait"),
            (s * 2).cast("double").alias("cpu_steal"),
            F.lit(8).alias("ncpus"),
            (h * 10 + 0.5).alias("mem_util_pct"),
            (n * 10).cast("long").alias("mem_cache"),
            (n * 11).cast("long").alias("mem_free"),
            (n * 12).cast("long").alias("mem_available"),
            (n * 13).cast("long").alias("mem_used"),
            (n * 14).cast("long").alias("mem_total"),
            (h + 0.25).alias("swap_util_pct"),
            (h + 0.5).alias("load1"),
            (h + 0.25).alias("load5"),
            (h + 0.125).alias("load15"),
            F.lit(1700000000).cast("long").alias("boot_time"),
            (n * 100 + s * 200).cast("long").alias("tcp_out_segs"),
            (n * 50 + s * 300).cast("long").alias("tcp_in_segs"),
            (n + s * h).cast("long").alias("tcp_retrans_segs"),
            disks(idx).alias("disks"),
            nets(idx).alias("interfaces"),
        )

    return snap(0).unionByName(snap(1))


def q_system_metrics(spark, sf_dir):
    """metric_system_v2 (input_system_v2.go): delta-rate metric
    computation between two counter snapshots — CPU busy/total jiffy
    utils, mem/load gauges, per-disk and per-interface rates with the
    summed 'total' device (partitions excluded from the disk total),
    zero-ops latency suppression, TCP segment deltas + retransmission
    percentage."""
    snaps = _materialized(
        spark, sf_dir, "system_snapshots", _synth_system_snapshots)
    op = build_operator({"Type": "metric_system_v2"})
    out = op(snaps)
    return out.select(
        "__name__", "__labels__",
        F.floor(F.col("__value__") * 10000).cast("long")
        .alias("value_1e4"),
        "__time_nano__",
    )


O_SYSTEM_METRICS = """
WITH base AS (
  SELECT user_id % 4 AS h, count(*) AS n FROM events GROUP BY 1
), hosts AS (
  SELECT h, n,
    'hostname#$#host|ip#$#127.0.0.1' AS lbl,
    epoch_us(TIMESTAMP '2026-01-01 00:00:10') * 1000 AS tn
  FROM base
), host_rows AS (
  SELECT u.name AS mname,
    CASE u.name
      WHEN 'system_load1' THEN h + 0.5
      WHEN 'system_load5' THEN h + 0.25
      WHEN 'system_load15' THEN h + 0.125
      WHEN 'system_boot_time' THEN 1700000000
      WHEN 'cpu_count' THEN 8
      WHEN 'cpu_util' THEN 100.0 * 58 / 964
      WHEN 'cpu_wait_util' THEN 100.0 * 4 / 964
      WHEN 'cpu_sys_util' THEN 100.0 * 10 / 964
      WHEN 'cpu_user_util' THEN 100.0 * 40 / 964
      WHEN 'cpu_irq_util' THEN 100.0 * 2 / 964
      WHEN 'cpu_softirq_util' THEN 100.0 * 1 / 964
      WHEN 'cpu_nice_util' THEN 100.0 * 5 / 964
      WHEN 'cpu_steal_util' THEN 100.0 * 2 / 964
      WHEN 'cpu_guest_util' THEN 0.0
      WHEN 'cpu_guestnice_util' THEN 0.0
      WHEN 'mem_util' THEN h * 10 + 0.5
      WHEN 'mem_cache' THEN n * 10
      WHEN 'mem_free' THEN n * 11
      WHEN 'mem_available' THEN n * 12
      WHEN 'mem_used' THEN n * 13
      WHEN 'mem_total' THEN n * 14
      WHEN 'mem_swap_util' THEN h + 0.25
      WHEN 'protocol_tcp_outsegs' THEN 200
      WHEN 'protocol_tcp_insegs' THEN 300
      WHEN 'protocol_tcp_retran_segs' THEN h
      WHEN 'protocol_tcp_retran_util' THEN 100.0 * h / 200
    END AS v, lbl, tn
  FROM hosts, unnest(['system_load1', 'system_load5', 'system_load15',
    'system_boot_time', 'cpu_count', 'cpu_util', 'cpu_wait_util',
    'cpu_sys_util', 'cpu_user_util', 'cpu_irq_util', 'cpu_softirq_util',
    'cpu_nice_util', 'cpu_steal_util', 'cpu_guest_util',
    'cpu_guestnice_util', 'mem_util', 'mem_cache', 'mem_free',
    'mem_available', 'mem_used', 'mem_total', 'mem_swap_util',
    'protocol_tcp_outsegs', 'protocol_tcp_insegs',
    'protocol_tcp_retran_segs', 'protocol_tcp_retran_util']) AS u(name)
), disk_rows AS (
  -- deltas over 10s: sda(rb 4000, wb 8000, rc 40, wc 80, rt 400,
  -- wt 160, io 500); sda1(rb 100, wb 200, rc 0, wc 10, rt 0, wt 30,
  -- io 20); total = sda only (partition digit excluded)
  SELECT u.name AS mname,
    CASE u.name
      WHEN 'disk_rbps' THEN CASE d.dev WHEN 'sda1' THEN 10.0 ELSE 400.0 END
      WHEN 'disk_wbps' THEN CASE d.dev WHEN 'sda1' THEN 20.0 ELSE 800.0 END
      WHEN 'disk_riops' THEN CASE d.dev WHEN 'sda1' THEN 0.0 ELSE 4.0 END
      WHEN 'disk_wiops' THEN CASE d.dev WHEN 'sda1' THEN 1.0 ELSE 8.0 END
      WHEN 'disk_rlatency' THEN CASE d.dev WHEN 'sda1' THEN NULL
                                           ELSE 400.0 / 40 END
      WHEN 'disk_wlatency' THEN CASE d.dev WHEN 'sda1' THEN 30.0 / 10
                                           ELSE 160.0 / 80 END
      WHEN 'disk_util' THEN CASE d.dev
        WHEN 'total' THEN NULL
        WHEN 'sda1' THEN 20 * 100.0 / 1000 / 10
        ELSE 500 * 100.0 / 1000 / 10 END
    END AS v,
    'disk#$#' || d.dev || '|hostname#$#host|ip#$#127.0.0.1' AS lbl, tn
  FROM hosts,
    unnest(['sda', 'sda1', 'total']) AS d(dev),
    unnest(['disk_rbps', 'disk_wbps', 'disk_riops', 'disk_wiops',
            'disk_rlatency', 'disk_wlatency', 'disk_util']) AS u(name)
), net_rows AS (
  -- deltas over 10s: eth0(br 5000, bs 6000, pr 50, ps 60, err 3,
  -- drop 3); lo(br 100, bs 100, pr 10, ps 10); total = both
  SELECT u.name AS mname,
    CASE u.name
      WHEN 'net_in' THEN CASE i.itf WHEN 'eth0' THEN 500.0
                                    WHEN 'lo' THEN 10.0 ELSE 510.0 END
      WHEN 'net_out' THEN CASE i.itf WHEN 'eth0' THEN 600.0
                                     WHEN 'lo' THEN 10.0 ELSE 610.0 END
      WHEN 'net_in_pkt' THEN CASE i.itf WHEN 'eth0' THEN 5.0
                                        WHEN 'lo' THEN 1.0 ELSE 6.0 END
      WHEN 'net_out_pkt' THEN CASE i.itf WHEN 'eth0' THEN 6.0
                                         WHEN 'lo' THEN 1.0 ELSE 7.0 END
      WHEN 'net_drop_util' THEN CASE i.itf
        WHEN 'eth0' THEN 100.0 * 3 / 110
        WHEN 'lo' THEN 0.0 ELSE 100.0 * 3 / 130 END
      WHEN 'net_err_util' THEN CASE i.itf
        WHEN 'eth0' THEN 100.0 * 3 / 110
        WHEN 'lo' THEN 0.0 ELSE 100.0 * 3 / 130 END
    END AS v,
    'hostname#$#host|interface#$#' || i.itf || '|ip#$#127.0.0.1' AS lbl,
    tn
  FROM hosts,
    unnest(['eth0', 'lo', 'total']) AS i(itf),
    unnest(['net_in', 'net_out', 'net_in_pkt', 'net_out_pkt',
            'net_drop_util', 'net_err_util']) AS u(name)
)
SELECT mname AS __name__, lbl AS __labels__,
  cast(floor(v * 10000) AS BIGINT) AS value_1e4, tn AS __time_nano__
FROM (SELECT * FROM host_rows UNION ALL SELECT * FROM disk_rows
      UNION ALL SELECT * FROM net_rows)
WHERE v IS NOT NULL
"""


def q_host_meta_nodes(spark, sf_dir):
    """metric_meta_host (input_host_meta.go + meta_helper.go
    makeMetaLog): HOST + PROCESS MetaNode log projection — category-
    keyed attribute JSON, strconv-string labels, genProcessNodeID ids,
    HOST:<id>:<name> parent strings, empty-cmdline/zero-RSS skips."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").repartition(
        spark.sparkContext.defaultParallelism, "event_id")
    eid, uid = F.col("event_id"), F.col("user_id")
    procs = F.array(F.struct(
        F.pmod(eid, F.lit(32768)).cast("int").alias("pid"),
        F.when(F.pmod(eid, F.lit(11)) != 0,
               F.concat(F.lit("/usr/bin/"), F.col("event_type"),
                        F.lit(" --id "), eid.cast("string")))
        .otherwise(F.lit("")).alias("cmdline"),
        F.concat(F.lit("/usr/bin/"), F.col("event_type")).alias("exe"),
        F.col("event_type").alias("comm"),
        F.lit(1).cast("int").alias("ppid"),
        (eid + 7).cast("long").alias("start_time"),
        F.pmod(eid, F.lit(5)).cast("long").alias("rss"),  # 0 -> skipped
    ))
    hosts = ev.select(
        F.concat(F.lit("hid"), F.pmod(uid, F.lit(4)).cast("string"))
        .alias("host_id"),
        F.concat(F.lit("web"), F.pmod(uid, F.lit(4)).cast("string"))
        .alias("hostname"),
        F.concat(F.lit("10.3.0."), F.pmod(uid, F.lit(4)).cast("string"))
        .alias("ip"),
        F.lit(1700000000).cast("long").alias("boot_time"),
        F.lit("linux").alias("os"), F.lit("ubuntu").alias("platform"),
        F.lit("debian").alias("platform_family"),
        F.lit("22.04").alias("platform_version"),
        F.lit("5.15.0").alias("kernel_version"),
        F.lit("x86_64").alias("kernel_arch"),
        F.lit("kvm").alias("virtualization_system"),
        F.lit("guest").alias("virtualization_role"),
        (F.pmod(uid, F.lit(3)) * 8 + 8).cast("int").alias("processor_count"),
        F.lit(8).cast("int").alias("core_count"),
        F.lit("GenuineIntel").alias("vendor_id"),
        F.lit("6").alias("family"), F.lit("85").alias("model"),
        F.lit("Xeon").alias("model_name"),
        (F.pmod(uid, F.lit(2)) * 400 + 2200).cast("double").alias("mhz"),
        F.lit(28160).cast("int").alias("cache_size"),
        (uid * 1024).cast("long").alias("mem_total"),
        (uid * 64).cast("long").alias("swap_total"),
        (uid * 2048).cast("long").alias("vsz_total"),
        F.array().cast(
            "array<struct<device:string,opts:string,fstype:string,"
            "mount_point:string>>").alias("disks"),
        F.array().cast(
            "array<struct<index:int,name:string,mtu:int,"
            "hardware_address:string,flags:array<string>,"
            "addrs:array<string>>>").alias("nets"),
        procs.alias("processes"),
        F.col("ts"),
    )
    from loongcollector_spark.operators.hostmetaops import host_meta_nodes

    # one HOST row per input row here (the per-host dedup is the scrape
    # loop's job); PROCESS fan-out exercises the filters at volume
    return host_meta_nodes(hosts, process=True).select(
        "id", "type", "attributes", "labels", "parents")


O_HOST_META_NODES = """
WITH e AS (
  SELECT event_id AS eid, user_id % 4 AS h, user_id AS uid, event_type
  FROM events
)
SELECT 'hid' || h || '_10.3.0.' || h AS id, 'HOST' AS type,
  '{"CPU":{"cache_size":28160,"core_count":8,"family":"6","mhz":'
    || (uid % 2 * 400 + 2200)
    || ',"model":"85","model_name":"Xeon","processor_count":'
    || (uid % 3 * 8 + 8) || ',"vendor_id":"GenuineIntel"},'
    || '"MEM":{"mem_total":' || (uid * 1024) || ',"swap_total":'
    || (uid * 64) || ',"vsz_total":' || (uid * 2048) || '}}'
    AS attributes,
  '{"boot_time":"1700000000","host_id":"hid' || h
    || '","hostname":"web' || h
    || '","ip":"10.3.0.' || h || '","kernel_arch":"x86_64",'
    || '"kernel_version":"5.15.0","os":"linux","platform":"ubuntu",'
    || '"platform_family":"debian","platform_version":"22.04",'
    || '"virtualization_role":"guest","virtualization_system":"kvm"}'
    AS labels,
  '[]' AS parents
FROM e
UNION ALL
SELECT 'web' || h || '_10.3.0.' || h || '_PROCESS_' || (eid % 32768)
    || '_' || (eid + 7),
  'PROCESS',
  '{"command":"/usr/bin/' || event_type || ' --id ' || eid
    || '","exe":"/usr/bin/' || event_type || '","name":"' || event_type
    || '","pid":' || (eid % 32768) || ',"ppid":1}',
  '{"hostname":"web' || h || '","ip":"10.3.0.' || h || '"}',
  '["HOST:hid' || h || '_10.3.0.' || h || ':web' || h || '"]'
FROM e WHERE eid % 11 != 0 AND eid % 5 != 0
"""


def _synth_dhash_jpegs(spark, sf_dir):
    """One 72x64 q50 uniform-block JPEG per document: doc pairs
    (2k, 2k+1) share the group-g = doc//2 block values
    v_g(b) = 128 + 2·((g·7 + b·5) mod 57) over the 8x9 block grid
    (b = r·9 + c), with the odd doc's cell b0 = g mod 72 re-valued to
    128 + 2·((g·7 + b0·5 + 20) mod 57) — a near-duplicate differing in
    at most two dHash comparison bits. Every block value round-trips
    the q50 encode exactly (the media_decode_jpeg construction), and
    the 72x64 -> 8x9 box filter lands on block boundaries, so the
    DuckDB oracle rebuilds every signature closed-form while the engine
    decodes + resizes + hashes for real."""
    import numpy as np
    import pandas as pd

    from loongcollector_spark.functions.jpegcodec import encode_jpeg

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id"]).sort_values("doc_id")
    ids, blobs = [], []
    for doc in docs["doc_id"].tolist():
        g = doc // 2
        b = np.arange(72, dtype=np.int64)
        k = (g * 7 + b * 5) % 57
        if doc % 2 == 1:
            b0 = g % 72
            k[b0] = (g * 7 + b0 * 5 + 20) % 57
        vals = (128 + 2 * k).reshape(8, 9).astype(np.float64)
        img = np.kron(vals, np.ones((8, 8))).astype(np.uint8)
        ids.append(int(doc))
        blobs.append(encode_jpeg(img, quality=50))
    return spark.createDataFrame(
        pd.DataFrame({"media_id": ids, "payload": blobs}),
        "media_id long, payload binary",
    )


# the closed-form band expressions shared by both dhash oracles: the
# per-doc block exponent k(b) and the four 16-bit band sums
_DHASH_ORACLE_BASE = """
WITH d AS (
  SELECT doc_id, doc_id // 2 AS g FROM documents
), k AS (
  SELECT doc_id,
    list_transform(range(0, 72), b -> CASE
      WHEN doc_id % 2 = 1 AND b = g % 72
        THEN (g * 7 + b * 5 + 20) % 57
      ELSE (g * 7 + b * 5) % 57 END) AS kv
  FROM d
), bits AS (
  -- bit (r, c): cell value 128+2*kv[b] < right neighbor  (b = r*9+c)
  SELECT doc_id,
    list_transform(range(0, 64), i ->
      CASE WHEN kv[(i // 8) * 9 + (i % 8) + 1]
              < kv[(i // 8) * 9 + (i % 8) + 2]
           THEN 1 ELSE 0 END) AS bit
  FROM k
), sig AS (
  SELECT doc_id,
    cast(list_sum(list_transform(range(0, 16), j ->
      bit[j + 1] * (1 << (j % 16)))) AS INT) AS dh0,
    cast(list_sum(list_transform(range(16, 32), j ->
      bit[j + 1] * (1 << (j % 16)))) AS INT) AS dh1,
    cast(list_sum(list_transform(range(32, 48), j ->
      bit[j + 1] * (1 << (j % 16)))) AS INT) AS dh2,
    cast(list_sum(list_transform(range(48, 64), j ->
      bit[j + 1] * (1 << (j % 16)))) AS INT) AS dh3
  FROM bits
)
"""


def q_image_dhash(spark, sf_dir):
    """Image perceptual hashing (functions/imagehash.py): decode the
    JPEG fixtures for real, exact box-filter to the 8x9 cell grid,
    dHash bit pack into four 16-bit bands — signatures hash-checked
    against the closed-form reconstruction."""
    from loongcollector_spark.functions.imagehash import image_dhash

    media = _materialized(spark, sf_dir, "dhash_jpegs", _synth_dhash_jpegs)
    return image_dhash(media)


O_IMAGE_DHASH = _DHASH_ORACLE_BASE + """
SELECT doc_id AS media_id, dh0, dh1, dh2, dh3, true AS ok FROM sig
"""


def q_image_near_dup_pairs(spark, sf_dir):
    """Image near-dup pairs: dHash hamming <= 3 via 4-band pigeonhole
    blocking (hamming + first-match residuals inside the join — ids +
    four smallints shuffle, never pixels). The oracle is the FULL
    O(n^2) hamming join over the closed-form signatures, proving
    blocking recall, not just precision."""
    from loongcollector_spark.functions.imagehash import (
        image_dhash, image_near_pairs,
    )

    media = _materialized(spark, sf_dir, "dhash_jpegs", _synth_dhash_jpegs)
    return image_near_pairs(image_dhash(media), max_hamming=3)


O_IMAGE_NEAR_DUP_PAIRS = _DHASH_ORACLE_BASE + """
SELECT a.doc_id AS media_a, b.doc_id AS media_b,
  cast(bit_count(cast(xor(a.dh0, b.dh0) AS BIGINT))
     + bit_count(cast(xor(a.dh1, b.dh1) AS BIGINT))
     + bit_count(cast(xor(a.dh2, b.dh2) AS BIGINT))
     + bit_count(cast(xor(a.dh3, b.dh3) AS BIGINT)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(cast(xor(a.dh0, b.dh0) AS BIGINT))
    + bit_count(cast(xor(a.dh1, b.dh1) AS BIGINT))
    + bit_count(cast(xor(a.dh2, b.dh2) AS BIGINT))
    + bit_count(cast(xor(a.dh3, b.dh3) AS BIGINT)) <= 3
"""


def _synth_dhash_avis(spark, sf_dir):
    """One MJPEG AVI per document, 72x64 q50 uniform-block frames:
    video pairs (2k, 2k+1) are OVERLAPPING CUTS of the same footage —
    even video v (group g = v//2) holds frames k_g(f) for f = 0..3 with
    block values 128 + 2·((g·3 + f·11 + b·5) mod 57); the odd video
    holds frames 1..3 of the same sequence (a head-trimmed copy), so
    the pair shares 3 exact frame fingerprints."""
    import numpy as np
    import pandas as pd

    from loongcollector_spark.functions.jpegcodec import encode_jpeg
    from loongcollector_spark.functions.multimodal import encode_avi_mjpeg

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id"]).sort_values("doc_id")
    b = np.arange(72, dtype=np.int64)
    ids, blobs = [], []
    for doc in docs["doc_id"].tolist():
        g, odd = doc // 2, doc % 2
        frames = []
        for f in range(odd, 4):
            k = (g * 3 + f * 11 + b * 5) % 57
            vals = (128 + 2 * k).reshape(8, 9).astype(np.float64)
            img = np.kron(vals, np.ones((8, 8))).astype(np.uint8)
            frames.append(encode_jpeg(img, quality=50))
        ids.append(int(doc))
        blobs.append(encode_avi_mjpeg(72, 64, frames))
    return spark.createDataFrame(
        pd.DataFrame({"media_id": ids, "payload": blobs}),
        "media_id long, payload binary",
    )


def q_video_near_dups(spark, sf_dir):
    """Video near-dup detection by shared frame fingerprints
    (functions/imagehash.py): walk the AVI containers, decode every
    frame for real, dHash each, join fingerprints across videos and
    keep pairs sharing >= 2 — trimmed/re-muxed copies collide
    frame-for-frame. Oracle: the FULL closed-form fingerprint join."""
    from loongcollector_spark.functions.imagehash import (
        video_frame_dhash, video_near_dups,
    )

    media = _materialized(spark, sf_dir, "dhash_avis", _synth_dhash_avis)
    return video_near_dups(video_frame_dhash(media), min_shared=2)


O_VIDEO_NEAR_DUPS = """
WITH d AS (
  SELECT doc_id, doc_id // 2 AS g, doc_id % 2 AS odd FROM documents
), fr AS (
  SELECT doc_id, g, f.f AS kf
  FROM d, generate_series(0, 3) AS f(f) WHERE f.f >= odd
), k AS (
  SELECT doc_id, kf,
    list_transform(range(0, 72), b -> (g * 3 + kf * 11 + b * 5) % 57)
      AS kv
  FROM fr
), bits AS (
  SELECT doc_id, kf,
    list_transform(range(0, 64), i ->
      CASE WHEN kv[(i // 8) * 9 + (i % 8) + 1]
              < kv[(i // 8) * 9 + (i % 8) + 2]
           THEN 1 ELSE 0 END) AS bit
  FROM k
), sig AS (
  SELECT DISTINCT doc_id,
    cast(list_sum(list_transform(range(0, 16), j ->
      bit[j + 1] * (1 << (j % 16)))) AS INT) AS dh0,
    cast(list_sum(list_transform(range(16, 32), j ->
      bit[j + 1] * (1 << (j % 16)))) AS INT) AS dh1,
    cast(list_sum(list_transform(range(32, 48), j ->
      bit[j + 1] * (1 << (j % 16)))) AS INT) AS dh2,
    cast(list_sum(list_transform(range(48, 64), j ->
      bit[j + 1] * (1 << (j % 16)))) AS INT) AS dh3
  FROM bits
)
SELECT a.doc_id AS media_a, b.doc_id AS media_b,
  cast(count(*) AS BIGINT) AS n_shared
FROM sig a JOIN sig b
  ON a.doc_id < b.doc_id AND a.dh0 = b.dh0 AND a.dh1 = b.dh1
 AND a.dh2 = b.dh2 AND a.dh3 = b.dh3
GROUP BY 1, 2 HAVING count(*) >= 2
"""


def _synth_avc1_mp4s(spark, sf_dir):
    """One 'avc1'-fourcc MP4 per document whose samples are
    DETERMINISTIC ASCII strings (no real H.264 — the container
    fingerprint path never decodes): video pairs (2k, 2k+1) are
    overlapping cuts of the same stream — the even video holds samples
    f = 0..3 with bytes ('G%06d_F%d_' % (g, f)) * 24, the odd video
    holds samples 1..3 (head-trimmed copy) — so the pair shares 3 exact
    sample fingerprints and the DuckDB oracle rebuilds every md5 from
    the same format string."""
    import pandas as pd

    from loongcollector_spark.functions.multimodal import encode_mp4_video

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id"]).sort_values("doc_id")
    ids, blobs = [], []
    for doc in docs["doc_id"].tolist():
        g, odd = doc // 2, doc % 2
        samples = [(("G%06d_F%d_" % (g, f)) * 24).encode()
                   for f in range(odd, 4)]
        ids.append(int(doc))
        blobs.append(encode_mp4_video(64, 48, samples, codec="avc1"))
    return spark.createDataFrame(
        pd.DataFrame({"media_id": ids, "payload": blobs}),
        "media_id long, payload binary",
    )


def q_video_container_dedup(spark, sf_dir):
    """H.264-coverage video dedup WITHOUT a decoder
    (functions/imagehash.py video_container_fingerprints): walk the MP4
    stsz/stco sample tables, md5 the compressed sample bytes, join
    fingerprints across videos, keep pairs sharing >= 2 samples —
    re-muxed/trimmed avc1 copies collide byte-for-byte. Oracle: md5 of
    the same closed-form sample strings."""
    from loongcollector_spark.functions.imagehash import (
        video_container_dedup, video_container_fingerprints,
    )

    media = _materialized(spark, sf_dir, "avc1_mp4s", _synth_avc1_mp4s)
    return video_container_dedup(
        video_container_fingerprints(media), min_shared=2)


O_VIDEO_CONTAINER_DEDUP = """
WITH d AS (
  SELECT doc_id, doc_id // 2 AS g, doc_id % 2 AS odd FROM documents
), sig AS (
  SELECT DISTINCT doc_id,
    md5(repeat('G' || lpad(cast(g AS VARCHAR), 6, '0') || '_F'
               || cast(f.f AS VARCHAR) || '_', 24)) AS fp
  FROM d, generate_series(0, 3) AS f(f) WHERE f.f >= odd
)
SELECT a.doc_id AS media_a, b.doc_id AS media_b,
  cast(count(*) AS BIGINT) AS n_shared
FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND a.fp = b.fp
GROUP BY 1, 2 HAVING count(*) >= 2
"""


def _synth_energy_wavs(spark, sf_dir):
    """One PCM16 WAV per document: 65 frames of 1024 samples, every
    sample in frame f equal to ((doc·13 + f·29) mod 101)·50 — the
    per-frame mean |amplitude| IS that value exactly, so the energy
    fingerprint has a closed form while the engine decodes the RIFF
    container and averages real samples."""
    import numpy as np
    import pandas as pd

    from loongcollector_spark.functions.multimodal import encode_wav_pcm16

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id"]).sort_values("doc_id")
    f = np.arange(65, dtype=np.int64)
    ids, blobs = [], []
    for doc in docs["doc_id"].tolist():
        amp = ((doc * 13 + f * 29) % 101) * 50
        samples = np.repeat(amp, 1024).astype(np.int16)
        ids.append(int(doc))
        blobs.append(encode_wav_pcm16(16000, samples))
    return spark.createDataFrame(
        pd.DataFrame({"media_id": ids, "payload": blobs}),
        "media_id long, payload binary",
    )


def q_media_dedup_clusters(spark, sf_dir):
    """Cross-modal composition: image dHash near-pairs → connected
    components → one row per clustered image with the canonical
    (min-id) survivor and cluster size — the keep-one-per-cluster step
    of an image dedup pipeline over REAL decoded pixels. Oracle: exact
    recursive transitive closure over the closed-form pair set."""
    from pyspark.sql import Window

    from loongcollector_spark.functions.dedup import connected_components
    from loongcollector_spark.functions.imagehash import (
        image_dhash, image_near_pairs,
    )

    media = _materialized(spark, sf_dir, "dhash_jpegs", _synth_dhash_jpegs)
    # 1-in-5 sample: the mod-57 fixture classes become degenerate
    # cliques at sf0.1 (540k edges whose CC rounds are pure scheduling);
    # the component algebra is equally verified on the sampled graph
    media = media.filter(F.pmod(F.col("media_id"), F.lit(5)) == 0)
    pairs = image_near_pairs(image_dhash(media), max_hamming=3).select(
        F.col("media_a").alias("doc_a"), F.col("media_b").alias("doc_b"))
    comp = connected_components(pairs)
    return comp.select(
        F.col("node").alias("media_id"),
        F.col("comp").alias("cluster_id"),
        F.count("*").over(Window.partitionBy("comp")).alias("cluster_size"),
        (F.col("node") == F.col("comp")).alias("keep"),
    )


O_MEDIA_DEDUP_CLUSTERS = (_DHASH_ORACLE_BASE.replace(
    "WITH ", "WITH RECURSIVE ", 1) + """
, pairs AS (
  SELECT a.doc_id AS pa, b.doc_id AS pb
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    AND a.doc_id % 5 = 0 AND b.doc_id % 5 = 0
  WHERE bit_count(cast(xor(a.dh0, b.dh0) AS BIGINT))
      + bit_count(cast(xor(a.dh1, b.dh1) AS BIGINT))
      + bit_count(cast(xor(a.dh2, b.dh2) AS BIGINT))
      + bit_count(cast(xor(a.dh3, b.dh3) AS BIGINT)) <= 3
), edges AS (
  SELECT pa AS src, pb AS dst FROM pairs
  UNION SELECT pb, pa FROM pairs
), reach(node, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e2.src, r.comp FROM edges e2 JOIN reach r ON e2.dst = r.node
), comp AS (SELECT node, min(comp) AS cluster_id FROM reach GROUP BY node)
SELECT node AS media_id, cluster_id,
  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
  node = cluster_id AS keep
FROM comp
""")


def q_incremental_media_dedup(spark, sf_dir):
    """Daily-increment media admission (imagehash.
    incremental_media_admission): odd-id images probe a persisted
    fingerprint index holding the doc_id%4==0 signatures — statuses
    new / dup_index / dup_batch with the min-id batch winner, banding
    keeps both probes bucket-local. Oracle: exact hamming joins over
    the closed-form signatures."""
    from loongcollector_spark.functions.imagehash import (
        image_dhash, incremental_media_admission,
    )

    media = _materialized(spark, sf_dir, "dhash_jpegs", _synth_dhash_jpegs)
    sig = image_dhash(media)
    index = sig.filter(F.pmod(F.col("media_id"), F.lit(4)) == 0)
    batch = sig.filter(F.pmod(F.col("media_id"), F.lit(2)) == 1)
    return incremental_media_admission(batch, index)


O_INCREMENTAL_MEDIA_DEDUP = _DHASH_ORACLE_BASE + """
, ix AS (SELECT * FROM sig WHERE doc_id % 4 = 0),
nb AS (SELECT * FROM sig WHERE doc_id % 2 = 1),
di AS (
  SELECT DISTINCT n.doc_id FROM nb n JOIN ix x
    ON bit_count(cast(xor(n.dh0, x.dh0) AS BIGINT))
     + bit_count(cast(xor(n.dh1, x.dh1) AS BIGINT))
     + bit_count(cast(xor(n.dh2, x.dh2) AS BIGINT))
     + bit_count(cast(xor(n.dh3, x.dh3) AS BIGINT)) <= 3
), db AS (
  SELECT DISTINCT a.doc_id FROM nb a JOIN nb b
    ON b.doc_id < a.doc_id
   AND bit_count(cast(xor(a.dh0, b.dh0) AS BIGINT))
     + bit_count(cast(xor(a.dh1, b.dh1) AS BIGINT))
     + bit_count(cast(xor(a.dh2, b.dh2) AS BIGINT))
     + bit_count(cast(xor(a.dh3, b.dh3) AS BIGINT)) <= 3
)
SELECT n.doc_id AS media_id, n.dh0, n.dh1, n.dh2, n.dh3,
  CASE WHEN di.doc_id IS NOT NULL THEN 'dup_index'
       WHEN db.doc_id IS NOT NULL THEN 'dup_batch'
       ELSE 'new' END AS status
FROM nb n
LEFT JOIN di ON di.doc_id = n.doc_id
LEFT JOIN db ON db.doc_id = n.doc_id
"""


def q_audio_energy_hash(spark, sf_dir):
    """Audio energy-difference fingerprint (functions/imagehash.py):
    decode the WAV container for real, average |amplitude| per
    1024-sample frame, dHash the energy sequence into four 16-bit
    bands (the image_near_pairs banded join serves audio unchanged)."""
    from loongcollector_spark.functions.imagehash import audio_energy_hash

    media = _materialized(spark, sf_dir, "energy_wavs", _synth_energy_wavs)
    return audio_energy_hash(media)


O_AUDIO_ENERGY_HASH = """
WITH a AS (
  SELECT doc_id,
    list_transform(range(0, 65), f -> (doc_id * 13 + f * 29) % 101)
      AS amp
  FROM documents
), bits AS (
  SELECT doc_id,
    list_transform(range(0, 64), i ->
      CASE WHEN amp[i + 1] < amp[i + 2] THEN 1 ELSE 0 END) AS bit
  FROM a
)
SELECT doc_id AS media_id,
  cast(list_sum(list_transform(range(0, 16), j ->
    bit[j + 1] * (1 << (j % 16)))) AS INT) AS dh0,
  cast(list_sum(list_transform(range(16, 32), j ->
    bit[j + 1] * (1 << (j % 16)))) AS INT) AS dh1,
  cast(list_sum(list_transform(range(32, 48), j ->
    bit[j + 1] * (1 << (j % 16)))) AS INT) AS dh2,
  cast(list_sum(list_transform(range(48, 64), j ->
    bit[j + 1] * (1 << (j % 16)))) AS INT) AS dh3,
  true AS ok
FROM bits
"""


def q_audio_near_pairs(spark, sf_dir):
    """Audio near-dup pairs: the image banded pair join runs UNCHANGED
    over the energy fingerprints (same four-band contract) — hamming
    <= 3 with pigeonhole recall. Oracle: full O(n^2) hamming join over
    the closed-form energy bits."""
    from loongcollector_spark.functions.imagehash import (
        audio_energy_hash, image_near_pairs,
    )

    media = _materialized(spark, sf_dir, "energy_wavs", _synth_energy_wavs)
    return image_near_pairs(audio_energy_hash(media), max_hamming=3)


O_AUDIO_NEAR_PAIRS = """
WITH a AS (
  SELECT doc_id,
    list_transform(range(0, 65), f -> (doc_id * 13 + f * 29) % 101)
      AS amp
  FROM documents
), bits AS (
  SELECT doc_id,
    list_transform(range(0, 64), i ->
      CASE WHEN amp[i + 1] < amp[i + 2] THEN 1 ELSE 0 END) AS bit
  FROM a
), sig AS (
  SELECT doc_id,
    cast(list_sum(list_transform(range(0, 16), j ->
      bit[j + 1] * (1 << (j % 16)))) AS INT) AS dh0,
    cast(list_sum(list_transform(range(16, 32), j ->
      bit[j + 1] * (1 << (j % 16)))) AS INT) AS dh1,
    cast(list_sum(list_transform(range(32, 48), j ->
      bit[j + 1] * (1 << (j % 16)))) AS INT) AS dh2,
    cast(list_sum(list_transform(range(48, 64), j ->
      bit[j + 1] * (1 << (j % 16)))) AS INT) AS dh3
  FROM bits
)
SELECT a.doc_id AS media_a, b.doc_id AS media_b,
  cast(bit_count(cast(xor(a.dh0, b.dh0) AS BIGINT))
     + bit_count(cast(xor(a.dh1, b.dh1) AS BIGINT))
     + bit_count(cast(xor(a.dh2, b.dh2) AS BIGINT))
     + bit_count(cast(xor(a.dh3, b.dh3) AS BIGINT)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(cast(xor(a.dh0, b.dh0) AS BIGINT))
    + bit_count(cast(xor(a.dh1, b.dh1) AS BIGINT))
    + bit_count(cast(xor(a.dh2, b.dh2) AS BIGINT))
    + bit_count(cast(xor(a.dh3, b.dh3) AS BIGINT)) <= 3
"""


_BPE_N_MERGES = 6


def _bpe_oracle_prelude(n_merges: int) -> str:
    """The unrolled training rounds (train_perceptron's oracle pattern):
    st0 = word-frequency char states; each round r computes the pair
    counts p{r}, the argmax merge b{r} (count desc, pair asc), and the
    merged states st{r+1} via the same leftmost string replace the
    engine uses."""
    sql = """
WITH wf AS (
  SELECT word, count(*) AS n FROM (
    SELECT unnest(string_split_regex(trim(coalesce(text, '')), '\\s+'))
      AS word
    FROM documents
  ) WHERE regexp_full_match(word, '[\\x21-\\x7e]+') AND len(word) <= 64
  GROUP BY word
), st0 AS (
  SELECT chr(31) || array_to_string(string_split_regex(word, ''), chr(31))
      || chr(31) AS state, n
  FROM wf
)"""
    for r in range(n_merges):
        sql += f""",
sy{r} AS (SELECT string_split(state, chr(31)) AS syms, n FROM st{r}),
p{r} AS (
  SELECT syms[g.i + 1] AS a, syms[g.i + 2] AS b,
    cast(sum(n) AS BIGINT) AS cnt
  FROM sy{r}, generate_series(1, 70) AS g(i)
  WHERE g.i <= len(syms) - 3
  GROUP BY 1, 2
),
b{r} AS (SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1),
st{r + 1} AS (
  SELECT replace(st.state,
                 chr(31) || b.a || chr(31) || b.b || chr(31),
                 chr(31) || b.a || b.b || chr(31)) AS state, st.n
  FROM st{r} st, b{r} b
)"""
    return sql


def q_bpe_train_merges(spark, sf_dir):
    """In-engine BPE training (functions/tokenizer.py — Sennrich et al.
    2016): driver-synchronized merge rounds over the word-frequency
    table, each collecting exactly ONE row (the argmax pair — the
    model); the oracle unrolls every round as CTEs and replays the
    merge as the identical leftmost string replace."""
    from loongcollector_spark.functions.tokenizer import bpe_train

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = bpe_train(docs, n_merges=_BPE_N_MERGES)
    return spark.createDataFrame(
        [(i, a, b, cnt) for i, (a, b, cnt) in enumerate(merges)],
        "rank int, pair_a string, pair_b string, cnt long",
    )


O_BPE_TRAIN_MERGES = _bpe_oracle_prelude(_BPE_N_MERGES) + "\n" + " UNION ALL ".join(
    f"SELECT {r} AS rank, a AS pair_a, b AS pair_b, cnt FROM b{r}"
    for r in range(_BPE_N_MERGES)
)


def q_bpe_encode_tokens(spark, sf_dir):
    """BPE application: tokenize every document with the merges trained
    in-engine — one codegen replace chain per merge, no Python in the
    apply path. Output fingerprints the full token stream per doc, so
    the oracle (same unrolled training + the same replace chain in SQL)
    verifies every token boundary."""
    from loongcollector_spark.functions.tokenizer import (
        bpe_encode, bpe_train,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = bpe_train(docs, n_merges=_BPE_N_MERGES)
    return bpe_encode(docs, merges)


def q_bpe_roundtrip(spark, sf_dir):
    """Tokenizer losslessness: decode(encode(word)) must equal the word
    for EVERY kept word of every document. The engine trains the merges
    and runs encode → decode; the oracle computes the identity
    fingerprint straight from the source words WITHOUT running the
    tokenizer — any lossy merge or split bug breaks the per-doc hash."""
    from loongcollector_spark.functions.tokenizer import (
        bpe_roundtrip, bpe_train,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = bpe_train(docs, n_merges=_BPE_N_MERGES)
    return bpe_roundtrip(docs, merges)


O_BPE_ROUNDTRIP = """
WITH dw0 AS (
  SELECT doc_id,
    unnest(range(1, len(words) + 1)) AS pos,
    unnest(words) AS word
  FROM (SELECT doc_id,
          string_split_regex(trim(coalesce(text, '')), '\\s+') AS words
        FROM documents)
), dw AS (
  SELECT doc_id, pos, word FROM dw0
  WHERE regexp_full_match(word, '[\\x21-\\x7e]+') AND len(word) <= 64
)
SELECT doc_id, cast(count(*) AS BIGINT) AS n_words,
  md5(string_agg(word, ' ' ORDER BY pos)) AS decoded_md5
FROM dw GROUP BY doc_id
"""


def _bpe_apply_sql(n_merges: int) -> str:
    state = ("chr(31) || array_to_string(string_split_regex(word, ''), "
             "chr(31)) || chr(31)")
    for r in range(n_merges):
        state = (f"replace({state}, chr(31) || b{r}.a || chr(31) || b{r}.b"
                 f" || chr(31), chr(31) || b{r}.a || b{r}.b || chr(31))")
    return state


O_BPE_ENCODE_TOKENS = _bpe_oracle_prelude(_BPE_N_MERGES) + f""",
dw0 AS (
  -- zipped unnests (DuckDB pairs same-select unnests positionally):
  -- every word of every doc, no length cap — mirrors the engine's
  -- posexplode instead of the old generate_series(1, 4096) bound,
  -- which silently truncated docs past 4096 words
  SELECT doc_id,
    unnest(range(1, len(words) + 1)) AS pos,
    unnest(words) AS word
  FROM (SELECT doc_id,
          string_split_regex(trim(coalesce(text, '')), '\\s+') AS words
        FROM documents)
), dw AS (
  SELECT doc_id, pos, word FROM dw0
  WHERE regexp_full_match(word, '[\\x21-\\x7e]+') AND len(word) <= 64
), ap AS (
  SELECT doc_id, pos, {_bpe_apply_sql(_BPE_N_MERGES)} AS state
  FROM dw, {', '.join(f'b{r}' for r in range(_BPE_N_MERGES))}
)
SELECT doc_id, cast(count(*) AS BIGINT) AS n_words,
  cast(sum(len(string_split(state, chr(31))) - 2) AS BIGINT) AS n_tokens,
  md5(string_agg(replace(trim(state, chr(31)), chr(31), ' '), ' '
                 ORDER BY pos)) AS tokens_md5
FROM ap GROUP BY doc_id
"""


def q_bpe_vocab_table(spark, sf_dir):
    """The trained tokenizer's vocabulary table: merged symbols in rank
    order (first rank wins on a re-learned pair), then base characters
    sorted — deterministic ids, vocabulary-bounded, broadcastable."""
    from loongcollector_spark.functions.tokenizer import (
        bpe_train, bpe_vocab,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = bpe_train(docs, n_merges=_BPE_N_MERGES)
    return bpe_vocab(docs, merges)


O_BPE_VOCAB_TABLE = _bpe_oracle_prelude(_BPE_N_MERGES) + f""",
mg AS (
  SELECT sym, cast(min(r) AS INT) AS token_id FROM (
    {' UNION ALL '.join(f"SELECT a || b AS sym, {r} AS r FROM b{r}"
                        for r in range(_BPE_N_MERGES))}
  ) GROUP BY sym
), ch AS (
  SELECT DISTINCT unnest(string_split_regex(word, '')) AS sym FROM wf
), base AS (
  SELECT sym,
    cast(row_number() OVER (ORDER BY sym) - 1 + {_BPE_N_MERGES} AS INT)
      AS token_id
  FROM ch WHERE sym != '' AND sym NOT IN (SELECT sym FROM mg)
)
SELECT sym, token_id FROM mg UNION ALL SELECT sym, token_id FROM base
"""


def q_batcher_flush_batches(spark, sf_dir):
    """Batcher flush-strategy segmentation (Batcher.h + FlushStrategy.h:
    26-57): greedy per-conversation batches closed at MinCnt events OR
    MinSizeBytes bytes, whichever lands first — the sequential-reset
    semantics a cumsum cannot express; the oracle replays the identical
    walk as a recursive CTE, one recursion level per turn."""
    df = transcripts_from_events(spark, sf_dir)
    op = build_operator({"Type": "batcher", "MinCnt": 8,
                         "MinSizeBytes": 512})
    out = op(df)
    return out.groupBy("conv_id", "batch_seq").agg(
        F.count("*").alias("n_events"),
        F.sum("event_bytes").cast("long").alias("batch_bytes"),
        F.min("turn_idx").alias("first_turn"),
        F.max("turn_idx").alias("last_turn"),
    )


O_BATCHER_FLUSH_BATCHES = _ORACLE_T.replace(
    "WITH ", "WITH RECURSIVE ", 1) + """
, r AS (
  SELECT conv_id,
    row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn,
    turn_idx, strlen(coalesce(text, '')) AS b
  FROM t
), reach(conv_id, rn, turn_idx, b, seq, cnt, size) AS (
  SELECT conv_id, rn, turn_idx, b, 0, 1, b FROM r WHERE rn = 1
  UNION ALL
  SELECT r2.conv_id, r2.rn, r2.turn_idx, r2.b,
    CASE WHEN p.cnt >= 8 OR p.size >= 512 THEN p.seq + 1 ELSE p.seq END,
    CASE WHEN p.cnt >= 8 OR p.size >= 512 THEN 1 ELSE p.cnt + 1 END,
    CASE WHEN p.cnt >= 8 OR p.size >= 512 THEN r2.b
         ELSE p.size + r2.b END
  FROM r r2 JOIN reach p
    ON r2.conv_id = p.conv_id AND r2.rn = p.rn + 1
)
SELECT conv_id, cast(seq AS INT) AS batch_seq,
  count(*) AS n_events, cast(sum(b) AS BIGINT) AS batch_bytes,
  min(turn_idx) AS first_turn, max(turn_idx) AS last_turn
FROM reach GROUP BY conv_id, seq
"""


def q_training_shuffle(spark, sf_dir):
    """Deterministic epoch shuffle + shard assignment
    (curation.training_shuffle): seeded-hash re-key, shard from the key
    prefix, per-shard rank. One narrow (key, id) shuffle."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from loongcollector_spark.functions.curation import training_shuffle

    return training_shuffle(docs, n_shards=16, seed="epoch1")


O_TRAINING_SHUFFLE = """
WITH keyed AS (
  SELECT doc_id, md5('epoch1' || doc_id) AS sort_key
  FROM documents
), sharded AS (
  SELECT doc_id, sort_key,
    cast(cast(('0x' || substr(sort_key, 1, 4))::VARCHAR AS UBIGINT)
         % 16 AS INT) AS shard
  FROM keyed
)
SELECT doc_id, shard,
  cast(row_number() OVER (PARTITION BY shard
       ORDER BY sort_key, doc_id) - 1 AS BIGINT) AS pos,
  sort_key
FROM sharded
"""


def q_script_ratios(spark, sf_dir):
    """Writing-script distribution signal (text.script_ratios): integer
    permille per codepoint-range class, one codegen projection per
    class — no explode, no shuffle."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism, "doc_id")
    from loongcollector_spark.functions.text import script_ratios

    return script_ratios(docs)


O_SCRIPT_RATIOS = """
WITH d AS (
  SELECT doc_id, coalesce(text, '') AS t FROM documents
)
SELECT doc_id, cast(len(t) AS BIGINT) AS n_chars,
  cast(CASE WHEN len(t) > 0 THEN floor(
    (len(t) - len(regexp_replace(t, '[A-Za-z]', '', 'g'))) * 1000
    / len(t)) ELSE 0 END AS INT) AS latin_permille,
  cast(CASE WHEN len(t) > 0 THEN floor(
    (len(t) - len(regexp_replace(t, '[0-9]', '', 'g'))) * 1000
    / len(t)) ELSE 0 END AS INT) AS digit_permille,
  cast(CASE WHEN len(t) > 0 THEN floor(
    (len(t) - len(regexp_replace(t,
      '[\\u4e00-\\u9fff\\u3040-\\u30ff\\uac00-\\ud7af]', '', 'g'))) * 1000
    / len(t)) ELSE 0 END AS INT) AS cjk_permille,
  cast(CASE WHEN len(t) > 0 THEN floor(
    (len(t) - len(regexp_replace(t, '[\\u0400-\\u04ff]', '', 'g'))) * 1000
    / len(t)) ELSE 0 END AS INT) AS cyrillic_permille,
  cast(CASE WHEN len(t) > 0 THEN floor(
    (len(t) - len(regexp_replace(t, '[\\u0600-\\u06ff]', '', 'g'))) * 1000
    / len(t)) ELSE 0 END AS INT) AS arabic_permille,
  cast(CASE WHEN len(t) > 0 THEN floor(
    (len(t) - len(regexp_replace(t, '[\\u0370-\\u03ff]', '', 'g'))) * 1000
    / len(t)) ELSE 0 END AS INT) AS greek_permille
FROM d
"""


def q_incremental_minhash(spark, sf_dir):
    """Incremental near-dup admission (dedup.incremental_minhash_dedup):
    the batch (doc_id % 4 != 0) probes the persisted band index of the
    snapshot (doc_id % 4 == 0) — equi-join on 16-byte bands, min-id
    window within the batch, text never shuffles."""
    from loongcollector_spark.functions.dedup import (
        incremental_minhash_dedup, minhash_band_frame,
    )

    docs = _docs(spark, sf_dir)
    snapshot = docs.filter(F.pmod("doc_id", F.lit(4)) == 0)
    batch = docs.filter(F.pmod("doc_id", F.lit(4)) != 0)
    return incremental_minhash_dedup(
        batch, minhash_band_frame(snapshot))


O_INCREMENTAL_MINHASH = """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
  FROM documents
),
sh AS (
  SELECT doc_id,
    CASE WHEN len(words) >= 3
      THEN list_transform(range(1, len(words) - 3 + 2),
                          i -> array_to_string(words[i:i+2], ' '))
      ELSE [array_to_string(words, ' ')] END AS shingles
  FROM w
),
sig AS (
  SELECT doc_id,
    md5(list_min(list_transform(shingles, s -> substr(md5(s), 1, 8)))
     || list_min(list_transform(shingles, s -> substr(md5(s), 9, 8)))) AS band0,
    md5(list_min(list_transform(shingles, s -> substr(md5(s), 17, 8)))
     || list_min(list_transform(shingles, s -> substr(md5(s), 25, 8)))) AS band1
  FROM sh
),
bands AS (
  SELECT doc_id, band0 AS band, 0 AS band_idx FROM sig
  UNION ALL SELECT doc_id, band1, 1 FROM sig
),
snap AS (
  SELECT DISTINCT band_idx, band FROM bands WHERE doc_id % 4 = 0
),
nb AS (
  SELECT * FROM bands WHERE doc_id % 4 != 0
),
probed AS (
  SELECT nb.doc_id,
    s.band IS NOT NULL AS hit,
    min(nb.doc_id) OVER (PARTITION BY nb.band_idx, nb.band) AS first_id
  FROM nb LEFT JOIN snap s
    ON nb.band_idx = s.band_idx AND nb.band = s.band
),
per_doc AS (
  SELECT doc_id,
    cast(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS INT) AS hit_bands,
    min(first_id) AS mate
  FROM probed GROUP BY doc_id
)
SELECT doc_id,
  CASE WHEN hit_bands > 0 THEN 'dup_snapshot'
       WHEN mate < doc_id THEN 'dup_batch'
       ELSE 'new' END AS status,
  hit_bands
FROM per_doc
"""


QUERIES = {
    "pipeline_sink_counts": (q_pipeline_sink_counts, O_PIPELINE_SINK_COUNTS),
    "parse_regex_nginx": (q_parse_regex_nginx, O_PARSE_REGEX_NGINX),
    "parse_json_fields": (q_parse_json_fields, O_PARSE_JSON_FIELDS),
    "parse_kv_fields": (q_parse_kv_fields, O_PARSE_KV_FIELDS),
    "grok_app_fields": (q_grok_app_fields, O_GROK_APP_FIELDS),
    "filter_expression": (q_filter_expression, O_FILTER_EXPRESSION),
    "dict_map_categories": (q_dict_map_categories, O_DICT_MAP_CATEGORIES),
    "route_first_match": (q_route_first_match, O_ROUTE_FIRST_MATCH),
    "fields_with_condition": (q_fields_with_condition, O_FIELDS_WITH_CONDITION),
    "desensitize_md5": (q_desensitize_md5, O_DESENSITIZE_MD5),
    "rate_limit": (q_rate_limit, O_RATE_LIMIT),
    "shardhash_distribution": (q_shardhash_distribution, O_SHARDHASH_DISTRIBUTION),
    "window_hourly_counts": (q_window_hourly_counts, O_WINDOW_HOURLY_COUNTS),
    "merge_conversation": (q_merge_conversation, O_MERGE_CONVERSATION),
    "pack_id_lineage": (q_pack_id_lineage, O_PACK_ID_LINEAGE),
    "aggregator_base_packs": (q_aggregator_base_packs, O_AGGREGATOR_BASE_PACKS),
    "logstore_router_agg": (q_logstore_router_agg, O_LOGSTORE_ROUTER_AGG),
    "shardhash_agg_contract": (q_shardhash_agg_contract, O_SHARDHASH_AGG_CONTRACT),
    "log_to_metric": (q_log_to_metric, O_LOG_TO_METRIC),
    "content_value_group": (q_content_value_group, O_CONTENT_VALUE_GROUP),
    "parse_apsara_fields": (q_parse_apsara_fields, O_PARSE_APSARA_FIELDS),
    "strptime_roundtrip": (q_strptime_roundtrip, O_STRPTIME_ROUNDTRIP),
    "parse_delimiter_quoted": (q_parse_delimiter_quoted, O_PARSE_DELIMITER_QUOTED),
    "string_replace_mask": (q_string_replace_mask, O_STRING_REPLACE_MASK),
    "anchor_extract": (q_anchor_extract, O_ANCHOR_EXTRACT),
    "spl_pipeline": (q_spl_pipeline, O_SPL_PIPELINE),
    "geoip_enrich": (q_geoip_enrich, O_GEOIP_ENRICH),
    "merge_multiline": (q_merge_multiline, O_MERGE_MULTILINE),
    "merge_multiline_continue": (q_merge_multiline_continue, O_MERGE_MULTILINE_CONTINUE),
    "http_jsonline": (q_http_jsonline, O_HTTP_JSONLINE),
    "http_otlp": (q_http_otlp, O_HTTP_OTLP),
    "loki_streams": (q_loki_streams, O_LOKI_STREAMS),
    "syslog_parse": (q_syslog_parse, O_SYSLOG_PARSE),
    "prom_remote_write": (q_prom_remote_write, O_PROM_REMOTE_WRITE),
    "merge_multiline_end": (q_merge_multiline_end, O_MERGE_MULTILINE_END),
    "merge_by_flag": (q_merge_by_flag, O_MERGE_BY_FLAG),
    "embedding_near_dup": (q_embedding_near_dup, O_EMBEDDING_NEAR_DUP),
    "embedding_dedup_clusters": (
        q_embedding_dedup_clusters, O_EMBEDDING_DEDUP_CLUSTERS),
    "simhash_signatures": (q_simhash_signatures, O_SIMHASH_SIGNATURES),
    "simhash_near_pairs": (q_simhash_near_pairs, O_SIMHASH_NEAR_PAIRS),
    "encrypt_fields": (q_encrypt_fields, O_ENCRYPT_FIELDS),
    "multimodal_features": (q_multimodal_features, O_MULTIMODAL_FEATURES),
    "frame_sample": (q_frame_sample, O_FRAME_SAMPLE),
    "media_decode_image": (q_media_decode_image, O_MEDIA_DECODE_IMAGE),
    "media_decode_png": (q_media_decode_png, O_MEDIA_DECODE_PNG),
    "media_y4m_frames": (q_media_y4m_frames, O_MEDIA_Y4M_FRAMES),
    "media_decode_audio": (q_media_decode_audio, O_MEDIA_DECODE_AUDIO),
    "media_decode_jpeg": (q_media_decode_jpeg, O_MEDIA_DECODE_JPEG),
    "media_decode_avi": (q_media_decode_avi, O_MEDIA_DECODE_AVI),
    "media_decode_mp4": (q_media_decode_mp4, O_MEDIA_DECODE_MP4),
    "media_resize": (q_media_resize, O_MEDIA_RESIZE),
    "serialized_events": (q_serialized_events, O_SERIALIZED_EVENTS),
    "dedup_exact": (q_dedup_exact, O_DEDUP_EXACT),
    "token_count": (q_token_count, O_TOKEN_COUNT),
    "quality_score": (q_quality_score, O_QUALITY_SCORE),
    "gopher_quality": (q_gopher_quality, O_GOPHER_QUALITY),
    "benchmark_decontam": (q_benchmark_decontam, O_BENCHMARK_DECONTAM),
    "stratified_sample": (q_stratified_sample, O_STRATIFIED_SAMPLE),
    "pack_sequences": (q_pack_sequences, O_PACK_SEQUENCES),
    "lang_id": (q_lang_id, O_LANG_ID),
    "doc_fingerprint": (q_doc_fingerprint, O_DOC_FINGERPRINT),
    "minhash_signatures": (q_minhash_signatures, O_MINHASH_SIGNATURES),
    "minhash_lsh_pairs": (q_minhash_lsh_pairs, O_MINHASH_LSH_PAIRS),
    "minhash_wide_pairs": (q_minhash_wide_pairs, O_MINHASH_WIDE_PAIRS),
    "minhash_verified_pairs": (q_minhash_verified_pairs, O_MINHASH_VERIFIED_PAIRS),
    "dedup_clusters": (q_dedup_clusters, O_DEDUP_CLUSTERS),
    "ann_cosine_topk": (q_ann_cosine_topk, O_ANN_COSINE_TOPK),
    "ann_topk_batch": (q_ann_topk_batch, O_ANN_TOPK_BATCH),
    "ann_lsh_bucketed": (q_ann_lsh_bucketed, O_ANN_LSH_BUCKETED),
    "ann_ivf_topk": (q_ann_ivf_topk, O_ANN_IVF_TOPK),
    "ann_ivf_refined": (q_ann_ivf_refined, O_ANN_IVF_REFINED),
    "semantic_dedup_refined": (q_semantic_dedup_refined,
                               O_SEMANTIC_DEDUP_REFINED),
    "semantic_dedup": (q_semantic_dedup, O_SEMANTIC_DEDUP),
    "lm_perplexity_filter": (q_lm_perplexity_filter, O_LM_PERPLEXITY_FILTER),
    "cross_doc_gram_share": (q_cross_doc_gram_share, O_CROSS_DOC_GRAM_SHARE),
    "exact_substr_trim": (q_exact_substr_trim, O_EXACT_SUBSTR_TRIM),
    "train_perceptron": (q_train_perceptron, O_TRAIN_PERCEPTRON),
    "dsir_scores": (q_dsir_scores, O_DSIR_SCORES),
    "kmv_distinct": (q_kmv_distinct, O_KMV_DISTINCT),
    "pool_embeddings": (q_pool_embeddings, O_POOL_EMBEDDINGS),
    "decayed_counts": (q_decayed_counts, O_DECAYED_COUNTS),
    "char_entropy": (q_char_entropy, O_CHAR_ENTROPY),
    "incremental_dedup": (q_incremental_dedup, O_INCREMENTAL_DEDUP),
    "ngram_jaccard": (q_ngram_jaccard, O_NGRAM_JACCARD),
    "fieldops_chain": (q_fieldops_chain, O_FIELDOPS_CHAIN),
    "filterops_combo": (q_filterops_combo, O_FILTEROPS_COMBO),
    "split_explode": (q_split_explode, O_SPLIT_EXPLODE),
    "split_log_regex_blob": (q_split_log_regex_blob, O_SPLIT_LOG_REGEX_BLOB),
    "container_stdio": (q_container_stdio, O_CONTAINER_STDIO),
    "gotime_layouts": (q_gotime_layouts, O_GOTIME_LAYOUTS),
    "json_dynamic_attrs": (q_json_dynamic_attrs, O_JSON_DYNAMIC_ATTRS),
    "kv_missing_keys": (q_kv_missing_keys, O_KV_MISSING_KEYS),
    "desensitize_region": (q_desensitize_region, O_DESENSITIZE_REGION),
    "tag_meta_defaults": (q_tag_meta_defaults, O_TAG_META_DEFAULTS),
    "split_string_expand": (q_split_string_expand, O_SPLIT_STRING_EXPAND),
    "strptime_precise": (q_strptime_precise, O_STRPTIME_PRECISE),
    "prom_parse_metrics": (q_prom_parse_metrics, O_PROM_PARSE_METRICS),
    "prom_relabel": (q_prom_relabel, O_PROM_RELABEL),
    "sls_pb_log_hex": (q_sls_pb_log_hex, O_SLS_PB_LOG_HEX),
    "flusher_stats": (q_flusher_stats, O_FLUSHER_STATS),
    "pb_group_roundtrip": (q_pb_group_roundtrip, O_PB_GROUP_ROUNDTRIP),
    "otel_trace_spans": (q_otel_trace_spans, O_OTEL_TRACE_SPANS),
    "otel_metrics": (q_otel_metrics, O_OTEL_METRICS),
    "otel_logs": (q_otel_logs, O_OTEL_LOGS),
    "otel_aggregator_routes": (q_otel_aggregator_routes, O_OTEL_AGGREGATOR_ROUTES),
    "influx_decode": (q_influx_decode, O_INFLUX_DECODE),
    "redis_info": (q_redis_info, O_REDIS_INFO),
    "netping_metrics": (q_netping_metrics, O_NETPING_METRICS),
    "statsd_decode": (q_statsd_decode, O_STATSD_DECODE),
    "journal_export": (q_journal_export, O_JOURNAL_EXPORT),
    "command_input": (q_command_input, O_COMMAND_INPUT),
    "canal_rows": (q_canal_rows, O_CANAL_ROWS),
    "hashed_classifier": (q_hashed_classifier, O_HASHED_CLASSIFIER),
    "dup_line_stats": (q_dup_line_stats, O_DUP_LINE_STATS),
    "warc_records": (q_warc_records, O_WARC_RECORDS),
    "heavy_hitters": (q_heavy_hitters, O_HEAVY_HITTERS),
    "request_breaker": (q_request_breaker, O_REQUEST_BREAKER),
    "chat_render": (q_chat_render, O_CHAT_RENDER),
    "sft_pairs": (q_sft_pairs, O_SFT_PAIRS),
    "badwords_filter": (q_badwords_filter, O_BADWORDS_FILTER),
    "mojibake_fix": (q_mojibake_fix, O_MOJIBAKE_FIX),
    "source_mix_weights": (q_source_mix, O_SOURCE_MIX),
    "quality_bins": (q_quality_bins, O_QUALITY_BINS),
    "agent_loops": (q_agent_loops, O_AGENT_LOOPS),
    "asof_enrich": (q_asof_enrich, O_ASOF_ENRICH),
    "sessionize_events": (q_sessionize_events, O_SESSIONIZE_EVENTS),
    "range_join_windows": (q_range_join_windows, O_RANGE_JOIN_WINDOWS),
    "rollup_candlestick": (q_rollup_candlestick, O_ROLLUP_CANDLESTICK),
    "gapfill_locf": (q_gapfill_locf, O_GAPFILL_LOCF),
    "bm25_search": (q_bm25_search, O_BM25_SEARCH),
    "tfidf_top_terms": (q_tfidf_top_terms, O_TFIDF_TOP_TERMS),
    "latency_percentiles": (q_latency_percentiles, O_LATENCY_PERCENTILES),
    "zscore_outliers": (q_zscore_outliers, O_ZSCORE_OUTLIERS),
    "log_to_sls_metric": (q_log_to_sls_metric, O_LOG_TO_SLS_METRIC),
    "pii_scrub": (q_pii_scrub, O_PII_SCRUB),
    "line_dedup": (q_line_dedup, O_LINE_DEDUP),
    "url_domains": (q_url_domains, O_URL_DOMAINS),
    "text_normalize": (q_text_normalize, O_TEXT_NORMALIZE),
    "dup_ngram_ratio": (q_dup_ngram_ratio, O_DUP_NGRAM_RATIO),
    "curation_pipeline": (q_curation_pipeline, O_CURATION_PIPELINE),
    "conv_transitions": (q_conv_transitions, O_CONV_TRANSITIONS),
    "tool_pagerank": (q_tool_pagerank, O_TOOL_PAGERANK),
    "lumberjack_decode": (q_lumberjack_decode, O_LUMBERJACK_DECODE),
    "nginx_status": (q_nginx_status, O_NGINX_STATUS),
    "pyroscope_profiles": (q_pyroscope_profiles, O_PYROSCOPE_PROFILES),
    "conv_shape_dedup": (q_conv_shape_dedup, O_CONV_SHAPE_DEDUP),
    "tool_retry_funnel": (q_tool_retry_funnel, O_TOOL_RETRY_FUNNEL),
    "snmp_fields": (q_snmp_fields, O_SNMP_FIELDS),
    "wineventlog_events": (q_wineventlog_events, O_WINEVENTLOG_EVENTS),
    "skywalking_logs": (q_skywalking_logs, O_SKYWALKING_LOGS),
    "chunk_windows": (q_chunk_windows, O_CHUNK_WINDOWS),
    "ann_pq_topk": (q_ann_pq_topk, O_ANN_PQ_TOPK),
    "preference_pairs": (q_preference_pairs, O_PREFERENCE_PAIRS),
    "k8s_pod_entities": (q_k8s_pod_entities, O_K8S_POD_ENTITIES),
    "k8s_entities": (q_k8s_entities, O_K8S_ENTITIES),
    "process_metrics": (q_process_metrics, O_PROCESS_METRICS),
    "system_metrics": (q_system_metrics, O_SYSTEM_METRICS),
    "host_meta_nodes": (q_host_meta_nodes, O_HOST_META_NODES),
    "image_dhash": (q_image_dhash, O_IMAGE_DHASH),
    "image_near_dup_pairs": (q_image_near_dup_pairs, O_IMAGE_NEAR_DUP_PAIRS),
    "video_near_dups": (q_video_near_dups, O_VIDEO_NEAR_DUPS),
    "video_container_dedup": (q_video_container_dedup,
                              O_VIDEO_CONTAINER_DEDUP),
    "audio_energy_hash": (q_audio_energy_hash, O_AUDIO_ENERGY_HASH),
    "audio_near_pairs": (q_audio_near_pairs, O_AUDIO_NEAR_PAIRS),
    "bpe_train_merges": (q_bpe_train_merges, O_BPE_TRAIN_MERGES),
    "bpe_encode_tokens": (q_bpe_encode_tokens, O_BPE_ENCODE_TOKENS),
    "bpe_vocab_table": (q_bpe_vocab_table, O_BPE_VOCAB_TABLE),
    "bpe_roundtrip": (q_bpe_roundtrip, O_BPE_ROUNDTRIP),
    "containment_pairs": (q_containment_pairs, O_CONTAINMENT_PAIRS),
    "batcher_flush_batches": (q_batcher_flush_batches, O_BATCHER_FLUSH_BATCHES),
    "media_dedup_clusters": (q_media_dedup_clusters, O_MEDIA_DEDUP_CLUSTERS),
    "incremental_media_dedup": (q_incremental_media_dedup, O_INCREMENTAL_MEDIA_DEDUP),
    "training_shuffle": (q_training_shuffle, O_TRAINING_SHUFFLE),
    "script_ratios": (q_script_ratios, O_SCRIPT_RATIOS),
    "incremental_minhash": (q_incremental_minhash, O_INCREMENTAL_MINHASH),
}

# ---------------------------------------------------------------------------
# Driver-gate window.  The external correctness driver hash-checks only the
# FIRST 50 registered queries, and registration above is chronological — so
# with the natural order, no round-3/4 family (media decode+dedup, BPE,
# containment, k8s/host metrics, batcher) ever produced a hard driver row.
# Reorder: keep the flagship + one representative per long-green §2.2/§2.3
# family up front, then fill the remaining slots with the newest /
# least-proven queries.  Everything else follows, unchanged — the full
# 171-query local oracle gate (tools/verify_oracles.py) is order-independent.
_DRIVER_WINDOW = [
    # flagship + long-green family representatives (already driver-proven)
    "pipeline_sink_counts", "parse_regex_nginx", "grok_app_fields",
    "filter_expression", "dict_map_categories", "route_first_match",
    "aggregator_base_packs", "spl_pipeline", "merge_multiline", "rate_limit",
    # round-4 families, never driver-verified
    "batcher_flush_batches", "containment_pairs",
    "bpe_train_merges", "bpe_encode_tokens", "bpe_vocab_table",
    "image_dhash", "image_near_dup_pairs", "video_near_dups",
    "audio_energy_hash", "audio_near_pairs",
    "media_dedup_clusters", "incremental_media_dedup", "incremental_minhash",
    "k8s_pod_entities", "k8s_entities", "process_metrics", "system_metrics",
    "host_meta_nodes",
    # round-3 families, never driver-verified
    "media_resize", "serialized_events",
    "dedup_exact", "minhash_lsh_pairs", "minhash_verified_pairs",
    "dedup_clusters",
    "ann_cosine_topk", "ann_ivf_topk", "ann_pq_topk", "semantic_dedup",
    "otel_trace_spans", "otel_metrics", "prom_parse_metrics", "prom_relabel",
    "pb_group_roundtrip", "sls_pb_log_hex", "canal_rows",
    "chat_render", "preference_pairs", "training_shuffle",
    # round-5 additions go straight into the window
    "video_container_dedup", "ann_ivf_refined",
]
assert len(_DRIVER_WINDOW) <= 50 and len(set(_DRIVER_WINDOW)) == len(
    _DRIVER_WINDOW) and set(_DRIVER_WINDOW) <= set(QUERIES)
QUERIES = {
    **{n: QUERIES[n] for n in _DRIVER_WINDOW},
    **{n: q for n, q in QUERIES.items() if n not in set(_DRIVER_WINDOW)},
}
