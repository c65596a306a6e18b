"""Deterministic synthetic transcript generator (FIXTURES.md §1).

Produces the authoritative input shape from BASELINE.json input_hint:
``(conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
ts:timestamp)`` — multi-turn conversation/agent transcripts.

Design points mirrored from the reference's benchmark data strategy
(test/benchmark/e2e/README.md — generated nginx logs; the parser matrix in
core/unittest/processor fixtures):

* four ``text`` payload formats round-robined by ``(conv_key + turn_idx) % 4``:
  nginx access line (regex parse), JSON object (json parse), KV pairs
  (kv parse), grok-able app line (grok parse);
* ~2% of rows per format deliberately malformed (truncated) to exercise
  keep-source-on-parse-fail semantics (CommonParserOptions.h:30-39);
* a skew knob: ``conv_00000000`` receives ``hot_frac`` of all turns —
  exercises shardhash salting (aggregator_shardhash.go:157-161).

Everything is vectorized numpy, seeded — byte-identical across runs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

ROLES = np.array(["user", "assistant", "system", "tool"])
ROLE_W = np.array([0.40, 0.40, 0.05, 0.15])
TOOLS = np.array(["search", "browser", "python", "calculator", "sql", "none_registered"])
METHODS = np.array(["GET", "POST", "PUT", "DELETE"])
PATHS = np.array(["/index.html", "/api/v1/items", "/login", "/static/app.js", "/healthz"])
STATUS = np.array([200, 200, 200, 301, 404, 500, 503])
ACTIONS = np.array(["plan", "reply", "summarize", "call_tool", "reflect"])
MODELS = np.array(["m-small", "m-base", "m-large"])

# dictmap fixtures (FIXTURES.md §2) — the processor_dict_map DictFilePath
# 2-column shape (plugins/processor/dictmap/processor_dict_map.go:96-135)
TOOL_DICT = {
    "search": "retrieval",
    "browser": "retrieval",
    "python": "execution",
    "calculator": "execution",
    "sql": "execution",
}
ROLE_DICT = {
    "user": "ingress",
    "assistant": "egress",
    "system": "control",
    "tool": "egress",
}

EPOCH = np.datetime64("2026-01-01T00:00:00", "us")


def gen_transcripts_pdf(
    n_turns: int = 20_000,
    n_convs: int = 2_000,
    hot_frac: float = 0.30,
    seed: int = 42,
    malformed_frac: float = 0.02,
) -> pd.DataFrame:
    """Generate the transcripts table as pandas (driver-side, then
    parallelized via spark.createDataFrame — fine up to ~5M rows)."""
    rng = np.random.default_rng(seed)

    # --- conversation assignment with hot-key skew -----------------------
    n_hot = int(n_turns * hot_frac)
    cold = rng.integers(1, n_convs, size=n_turns - n_hot)
    conv_key = np.concatenate([np.zeros(n_hot, dtype=np.int64), cold])
    # deterministic interleave so hot rows aren't one contiguous block
    order = rng.permutation(n_turns)
    conv_key = conv_key[order]

    # turn_idx: dense 0..len-1 per conversation, in encounter order
    df = pd.DataFrame({"conv_key": conv_key})
    turn_idx = df.groupby("conv_key").cumcount().to_numpy().astype(np.int32)

    conv_id = np.char.add("conv_", np.char.zfill(conv_key.astype("U8"), 8))

    role = rng.choice(ROLES, size=n_turns, p=ROLE_W)
    tool = np.where(
        role == "tool", rng.choice(TOOLS, size=n_turns), ""
    )

    # ts: conv-specific offset + turn_idx * 7s, spans >= 48h
    conv_offset_s = (conv_key * 97) % (48 * 3600)
    ts = EPOCH + ((conv_offset_s + turn_idx.astype(np.int64) * 7) * 1_000_000).astype(
        "timedelta64[us]"
    )

    # --- text payloads ----------------------------------------------------
    fmt = ((conv_key + turn_idx) % 4).astype(np.int64)
    n = n_turns
    ip_a = rng.integers(1, 255, n)
    ip_b = rng.integers(0, 255, n)
    method = rng.choice(METHODS, n)
    path = rng.choice(PATHS, n)
    status = rng.choice(STATUS, n)
    nbytes = rng.integers(64, 65536, n)
    lat = rng.integers(1, 5000, n)
    ok = np.where(status < 400, "true", "false")
    action = rng.choice(ACTIONS, n)
    model = rng.choice(MODELS, n)
    tok = rng.integers(1, 4096, n)
    dur = rng.integers(1, 99, n)

    def s(a):
        return pd.Series(a).astype(str)

    method, path, action, model, ok = map(s, (method, path, action, model, ok))

    # 1. nginx-like access line (reference regex benchmark payload)
    nginx = (
        "10." + s(ip_a) + ".0." + s(ip_b)
        + " - - [01/Jan/2026:00:00:07 +0000] \""
        + method + " " + path + " HTTP/1.1\" "
        + s(status) + " " + s(nbytes)
        + " \"-\" \"agent-bench/1.0\""
    )
    # 2. JSON object
    js = (
        '{"action":"' + action + '","lat_ms":' + s(lat)
        + ',"ok":' + ok
        + ',"meta":{"model":"' + model + '","tok":' + s(tok) + "}}"
    )
    # 3. KV pairs
    kv = (
        "action=" + action + "&lat_ms=" + s(lat) + "&ok=" + ok + "&tok=" + s(tok)
    )
    # 4. grok-able app line (example_config/data_pipelines/file-grok.yaml)
    grokline = (
        "10.0.0." + s(ip_b % 10) + " " + method + " " + path + " "
        + s(nbytes) + " 0.0" + s(dur)
    )

    text = np.select(
        [fmt == 0, fmt == 1, fmt == 2, fmt == 3],
        [nginx.to_numpy(dtype=object), js.to_numpy(dtype=object),
         kv.to_numpy(dtype=object), grokline.to_numpy(dtype=object)],
    )

    # ~2% malformed: truncate to first 9 chars (breaks every format's parse)
    bad = rng.random(n) < malformed_frac
    text = pd.Series(text, dtype="object")
    text[bad] = text[bad].str.slice(0, 9)

    out = pd.DataFrame(
        {
            "conv_id": conv_id,
            "turn_idx": turn_idx,
            "role": role,
            "text": text,
            "tool": tool,
            "ts": ts,
        }
    )
    return out


def gen_transcripts(spark, n_turns=20_000, n_convs=2_000, hot_frac=0.30, seed=42,
                    partitions: int | None = None):
    """Transcripts as a Spark DataFrame with the exact input_hint schema."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("role", T.StringType(), False),
            T.StructField("text", T.StringType(), False),
            T.StructField("tool", T.StringType(), False),
            T.StructField("ts", T.TimestampType(), False),
        ]
    )
    pdf = gen_transcripts_pdf(n_turns, n_convs, hot_frac, seed)
    df = spark.createDataFrame(pdf, schema=schema)
    if partitions:
        df = df.repartition(partitions)
    return df
