"""Output checks. Each takes plain pandas frames / numbers and returns a
list of failure messages (empty = pass), so the self-test can feed it
corrupted outputs without a Spark session.

The expected values come from independent computations over the same
generated inputs (the pure-Python ``loongcollector_spark.oracle`` and the
DuckDB oracle SQL of each driver query) or from properties the method
must have; never from a stored copy of earlier output.
"""

from __future__ import annotations

import math
import zlib

import pandas as pd

SINKS = ("sink_tool", "sink_errors", "sink_assistant", "sink_default")
HOT_CONV = "conv_00000000"
COUNTER_KEYS = ["sink", "window_start", "role"]


def _canon_counters(df: pd.DataFrame) -> pd.DataFrame:
    out = df[COUNTER_KEYS + ["n_rows"]].copy()
    ws = pd.to_datetime(out["window_start"])
    if ws.dt.tz is not None:
        ws = ws.dt.tz_convert("UTC").dt.tz_localize(None)
    out["window_start"] = ws.astype("datetime64[us]")
    out["n_rows"] = out["n_rows"].astype("int64")
    return out.sort_values(COUNTER_KEYS).reset_index(drop=True)


def sink_rows(rows: pd.DataFrame) -> dict[str, int]:
    """Row count per sink of a ``(sink, file, pos, conv_id, turn_idx)``
    frame read back from the sinks."""
    counts = rows.groupby("sink").size()
    return {s: int(counts.get(s, 0)) for s in SINKS}


def check_sink_counts(got: dict[str, int], want: dict[str, int]) -> list[str]:
    return [f"{s}: {got.get(s, 0)} rows, oracle {want[s]}"
            for s in SINKS if got.get(s, 0) != want[s]]


def check_counters(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """The full counters table equals the oracle's, order-insensitive."""
    g, w = _canon_counters(got), _canon_counters(want)
    if len(g) != len(w):
        return [f"counters: {len(g)} rows, oracle {len(w)}"]
    diff = (g != w).any(axis=1)
    if diff.any():
        i = int(diff.idxmax())
        return [f"counters differ at {g.iloc[i].to_dict()} vs oracle "
                f"{w.iloc[i].to_dict()} ({int(diff.sum())} rows)"]
    return []


def check_sinks_vs_counters(got: dict[str, int],
                            counters: pd.DataFrame) -> list[str]:
    """Each sink's rows = the sum of its own counters."""
    per = counters.groupby("sink")["n_rows"].sum()
    return [f"{s}: {got.get(s, 0)} rows, counters sum {int(per.get(s, 0))}"
            for s in SINKS if got.get(s, 0) != int(per.get(s, 0))]


def check_lineage(got: dict[str, int], n_input: int,
                  lineage_rows: int) -> list[str]:
    """sink_default rows = input rows = sum of _lineage.n_rows."""
    d = got.get("sink_default", 0)
    if d == n_input == lineage_rows:
        return []
    return [f"sink_default {d}, input {n_input}, lineage sum {lineage_rows}"]


def check_file_order(rows: pd.DataFrame) -> list[str]:
    """(conv_id, turn_idx) strictly increases within every sink file.
    ``pos`` is the read position, increasing in file order."""
    r = rows.sort_values(["sink", "file", "pos"])
    same = r["file"].eq(r["file"].shift()) & r["sink"].eq(r["sink"].shift())
    pc = r["conv_id"].shift(fill_value="")
    pt = r["turn_idx"].shift(fill_value=-1)
    ok = (r["conv_id"] > pc) | ((r["conv_id"] == pc) & (r["turn_idx"] > pt))
    bad = r[same & ~ok]
    if bad.empty:
        return []
    per_sink = bad.groupby("sink")["file"].nunique().to_dict()
    return [f"out-of-order rows in files: {per_sink}"]


def check_hot_spread(rows: pd.DataFrame) -> list[str]:
    """The hot conversation spans more than one sink_default partition."""
    hot = rows[(rows["sink"] == "sink_default") & (rows["conv_id"] == HOT_CONV)]
    n = hot["file"].nunique()
    return [] if n > 1 else [f"{HOT_CONV} lands in {n} partition file(s)"]


def check_no_duplicates(rows: pd.DataFrame) -> list[str]:
    """No (conv_id, turn_idx) appears twice within a sink."""
    dup = rows.duplicated(["sink", "conv_id", "turn_idx"])
    if not dup.any():
        return []
    return [f"duplicated keys: {rows[dup].groupby('sink').size().to_dict()}"]


def check_stream_progress(input_rows: list[int], n_turns: int,
                          committed: int, n_files: int,
                          files_per_trigger: int) -> list[str]:
    """Sum of numInputRows = generated turns, and the committed batch count
    = ceil(files / files per trigger)."""
    errs = []
    if sum(input_rows) != n_turns:
        errs.append(f"numInputRows sum {sum(input_rows)}, generated {n_turns}")
    want = math.ceil(n_files / files_per_trigger)
    if committed != want:
        errs.append(f"{committed} committed batches, expected {want}")
    return errs


# -- query results vs DuckDB oracle (the tools/verify_oracles.py rule) ------

def _kind(s: pd.Series) -> str:
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    return "object"


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pd.to_datetime(pdf[c]).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].round(4)
        elif pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def check_query(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Row count, column names, dtype kind and order-insensitive values."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} vs {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"rows {len(got)} vs {len(want)}"]
    if len(got):
        for c in got.columns:
            if _kind(got[c]) != _kind(want[c]):
                return [f"dtype kind of {c}: {got[c].dtype} vs {want[c].dtype}"]
    try:
        pd.testing.assert_frame_equal(_canon(got), _canon(want),
                                      check_dtype=False)
    except AssertionError as e:
        return [f"values differ: {str(e)[:300]}"]
    return []


# -- per-execution fingerprint of a query result ----------------------------
# An order-insensitive summary of one result. Spark computes it while the
# timed execution runs (DataFrame.observe next to the noop write) and pandas
# computes it over the DuckDB oracle's result: the row count; per column the
# non-null count and a sum (of the values; of CRC-32 over UTF-8 for strings;
# of epoch microseconds for timestamps); and the sum over rows of a CRC-32
# of the row's non-float cells joined by ROW_SEP, so values moved between
# rows show too. Float sums are compared with a tolerance, the rest exactly.

# Spark type name -> the dtype kind of ``_kind``
SPARK_KINDS = {
    "string": "object", "byte": "int", "short": "int", "integer": "int",
    "long": "int", "float": "float", "double": "float", "decimal": "float",
    "boolean": "bool", "timestamp": "datetime", "timestamp_ntz": "datetime",
}
ROW_SEP, NULL_CELL = "\x1f", "\x00"


def _crc(text: str) -> int:
    return zlib.crc32(text.encode("utf-8"))


def _as_ints(s: pd.Series, kind: str) -> list[int]:
    """Non-null values of an int, bool, datetime or string column as the
    integers that are summed (see the block comment)."""
    s = s[s.notna()]
    if kind == "object":
        return [_crc(x) for x in s]
    if kind == "datetime":
        ts = pd.to_datetime(s)
        if ts.dt.tz is not None:
            ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
        return ts.astype("datetime64[us]").astype("int64").tolist()
    return [int(x) for x in s]


def fingerprint(pdf: pd.DataFrame, kinds: dict[str, str]) -> dict[str, float]:
    """The fingerprint of ``pdf``, whose columns have the given kinds."""
    out: dict[str, float] = {"rows": len(pdf)}
    cells = []
    for c, kind in kinds.items():
        s = pdf[c]
        out[f"{c}:n"] = int(s.notna().sum())
        if kind == "float":
            out[f"{c}:sum"] = float(s[s.notna()].astype(float).sum())
            continue
        vals = _as_ints(s, kind)
        out[f"{c}:sum"] = sum(vals)
        strs = iter(s[s.notna()] if kind == "object" else map(str, vals))
        cells.append([next(strs) if ok else NULL_CELL for ok in s.notna()])
    out["row_hash"] = sum(_crc(ROW_SEP.join(row)) for row in zip(*cells)) \
        if cells else len(pdf) * _crc("")
    return out


def check_fingerprint(got: dict, want: dict) -> list[str]:
    """One execution's observed fingerprint equals the oracle's."""
    errs = []
    for k, w in want.items():
        g = got.get(k)
        g = 0 if g is None else g
        if k.endswith(":sum") and isinstance(w, float):
            same = math.isclose(float(g), w, rel_tol=1e-9,
                                abs_tol=1e-4 * max(want["rows"], 1))
        else:
            same = int(g) == w
        if not same:
            errs.append(f"fingerprint {k}: {g} vs oracle {w}")
    return errs
