"""Self-test of the benchmark's output checks: each check passes on a
correct output and fails on a corrupted copy of it (a dropped row, a
duplicated row, an off-by-one counter, rows out of order, a wrong query
value, a wrong value in an observed result fingerprint, ...). Needs no Spark session; takes a few seconds.

    python3 perfbench/selftest.py      # from the repository root

Exits 1 if any check accepts a corrupted output or rejects a correct one.
"""

from __future__ import annotations

import os
import sys
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.getcwd()]

import pandas as pd  # noqa: E402

import checks  # noqa: E402
import inputs  # noqa: E402

N_TURNS, N_FILES = 4_000, 4


def clean_outputs():
    """Oracle outputs laid out like the batch sinks: rows hash-spread over
    files by (conv_id, turn_idx), sorted within each file."""
    from loongcollector_spark.oracle import run_oracle

    pdf = inputs.transcripts_pdf(N_TURNS, seed=7)
    oracle = run_oracle(pdf.assign(ts=pdf["ts"].dt.tz_localize(None)))
    frames = []
    for name, sdf in oracle["sinks"].items():
        f = sdf[["conv_id", "turn_idx"]].copy()
        f["sink"] = name
        f["file"] = [f"{name}/part-{zlib.crc32(f'{c}/{t}'.encode()) % N_FILES:05d}"
                     for c, t in zip(f["conv_id"], f["turn_idx"])]
        frames.append(f)
    rows = pd.concat(frames, ignore_index=True).sort_values(
        ["sink", "file", "conv_id", "turn_idx"]).reset_index(drop=True)
    rows["pos"] = range(len(rows))
    return oracle, rows


def main() -> int:
    oracle, rows = clean_outputs()
    counters = oracle["counters"].copy()
    per_file = [N_TURNS // N_FILES] * N_FILES
    query = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5],
                          "s": ["a", "b", "c"]})

    def drop_row(r):
        return r.drop(index=r.index[r["sink"] == "sink_default"][5])

    def dup_row(r):
        return pd.concat([r, r[r["sink"] == "sink_tool"].iloc[[3]]],
                         ignore_index=True)

    def dup_adjacent(r):
        r = dup_row(r).sort_values(["sink", "file", "conv_id", "turn_idx"])
        return r.assign(pos=range(len(r)))

    def off_by_one(c):
        c = c.copy()
        c.loc[c.index[0], "n_rows"] += 1
        return c

    def swap_in_file(r):
        r = r.copy()
        f = r[(r["sink"] == "sink_errors")]
        i, j = f.index[0], f.index[1]
        r.loc[[i, j], "pos"] = r.loc[[j, i], "pos"].to_numpy()
        return r

    def hot_one_file(r):
        r = r.copy()
        hot = (r["sink"] == "sink_default") & (r["conv_id"] == checks.HOT_CONV)
        r.loc[hot, "file"] = "sink_default/part-00000"
        return r.sort_values(["sink", "file", "conv_id", "turn_idx"]).assign(
            pos=range(len(r)))

    def wrong_value(q):
        q = q.copy()
        q.loc[1, "v"] = 1.6
        return q

    # one query result with every column kind, for the fingerprint check
    fq = pd.DataFrame({
        "k": [1, 2, 3, 4], "v": [0.5, 1.5, 2.5, None],
        "s": ["a", "b", None, "d"],
        "t": pd.to_datetime(["2024-01-01 00:00", "2024-01-01 01:00",
                             "2024-01-01 02:00", None]),
    })
    kinds = {c: checks._kind(fq[c]) for c in fq.columns}
    want_fp = checks.fingerprint(fq, kinds)

    def fp_of(q):
        return checks.check_fingerprint(checks.fingerprint(q, kinds), want_fp)

    def fq_set(col, i, value):
        q = fq.copy()
        q.loc[i, col] = value
        return q

    def fq_swap_strings(q):
        q = q.copy()
        q.loc[[0, 1], "s"] = q.loc[[1, 0], "s"].to_numpy()
        return q

    got = checks.sink_rows(rows)
    want = oracle["metrics"]["per_sink_rows"]
    C = checks
    cases = [
        # (check, corruption, must fail, failures it reported)
        ("sink_counts", "none", False, C.check_sink_counts(got, want)),
        ("sink_counts", "dropped row", True,
         C.check_sink_counts(C.sink_rows(drop_row(rows)), want)),
        ("sink_counts", "duplicated row", True,
         C.check_sink_counts(C.sink_rows(dup_row(rows)), want)),
        ("counters", "none", False, C.check_counters(counters, oracle["counters"])),
        ("counters", "off-by-one counter", True,
         C.check_counters(off_by_one(counters), oracle["counters"])),
        ("counters", "dropped counter row", True,
         C.check_counters(counters.iloc[1:], oracle["counters"])),
        ("lineage", "none", False, C.check_lineage(got, N_TURNS, N_TURNS)),
        ("lineage", "lineage short by one row", True,
         C.check_lineage(got, N_TURNS, N_TURNS - 1)),
        ("lineage", "dropped row", True,
         C.check_lineage(C.sink_rows(drop_row(rows)), N_TURNS, N_TURNS)),
        ("sinks_vs_counters", "none", False,
         C.check_sinks_vs_counters(got, counters)),
        ("sinks_vs_counters", "off-by-one counter", True,
         C.check_sinks_vs_counters(got, off_by_one(counters))),
        ("sinks_vs_counters", "duplicated row", True,
         C.check_sinks_vs_counters(C.sink_rows(dup_row(rows)), counters)),
        ("file_order", "none", False, C.check_file_order(rows)),
        ("file_order", "two rows swapped in a file", True,
         C.check_file_order(swap_in_file(rows))),
        ("file_order", "duplicated row (not strictly increasing)", True,
         C.check_file_order(dup_adjacent(rows))),
        ("hot_spread", "none", False, C.check_hot_spread(rows)),
        ("hot_spread", "hot conversation in one partition", True,
         C.check_hot_spread(hot_one_file(rows))),
        ("no_duplicates", "none", False, C.check_no_duplicates(rows)),
        ("no_duplicates", "duplicated row (replayed batch)", True,
         C.check_no_duplicates(dup_row(rows))),
        ("stream_progress", "none", False,
         C.check_stream_progress(per_file, N_TURNS, N_FILES, N_FILES, 1)),
        ("stream_progress", "numInputRows off by one", True,
         C.check_stream_progress(per_file[:-1] + [per_file[-1] - 1], N_TURNS,
                                 N_FILES, N_FILES, 1)),
        ("stream_progress", "one batch not committed", True,
         C.check_stream_progress(per_file, N_TURNS, N_FILES - 1, N_FILES, 1)),
        ("query", "none", False, C.check_query(query, query)),
        ("query", "wrong value", True, C.check_query(wrong_value(query), query)),
        ("query", "dropped row", True, C.check_query(query.iloc[:2], query)),
        ("query", "duplicated row", True,
         C.check_query(pd.concat([query, query.iloc[[0]]]), query)),
        ("query", "int column returned as float", True,
         C.check_query(query.assign(k=query["k"].astype(float)), query)),
        ("query", "column missing", True,
         C.check_query(query.drop(columns="s"), query)),
        ("fingerprint", "none", False, fp_of(fq)),
        ("fingerprint", "rows in another order", False,
         fp_of(fq.iloc[::-1].reset_index(drop=True))),
        ("fingerprint", "dropped row", True, fp_of(fq.iloc[1:])),
        ("fingerprint", "duplicated row", True,
         fp_of(pd.concat([fq, fq.iloc[[0]]], ignore_index=True))),
        ("fingerprint", "off-by-one int", True, fp_of(fq_set("k", 2, 4))),
        ("fingerprint", "wrong float value", True, fp_of(fq_set("v", 1, 1.6))),
        ("fingerprint", "wrong string value", True, fp_of(fq_set("s", 3, "e"))),
        ("fingerprint", "timestamp off by 1 us", True,
         fp_of(fq_set("t", 0, pd.Timestamp("2024-01-01 00:00:00.000001")))),
        ("fingerprint", "value turned null", True, fp_of(fq_set("k", 0, None))),
        ("fingerprint", "strings swapped between rows", True,
         fp_of(fq_swap_strings(fq))),
    ]
    bad = 0
    for check, corruption, should_fail, errs in cases:
        ok = bool(errs) == should_fail
        bad += not ok
        verdict = "rejected" if errs else "accepted"
        print(f"{'ok  ' if ok else 'FAIL'} check_{check}, {corruption}: {verdict}"
              + (f" ({errs[0].splitlines()[0][:80]})" if errs else ""))
    print(f"{len(cases) - bad}/{len(cases)} self-test cases behave as expected")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
