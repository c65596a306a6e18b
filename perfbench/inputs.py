"""Seeded inputs for the benchmark workloads.

Everything is derived from ``--seed`` alone, so the same seed gives the
same bytes. The program under test only ever sees the files written here.

* transcripts: ``loongcollector_spark.datagen`` rows (30% hot
  conversation, four text formats, 2% malformed rows), written with
  pyarrow so both Spark and DuckDB read them.
* events / documents: tables with the schema and the measured value
  distributions of the sf test data (TESTDATA.md) (``events``: event_id,
  ts, user_id, event_type, value, props; ``documents``: doc_id, text,
  lang, source, n_chars), which the driver-contract queries and their
  DuckDB oracles read.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Parameters of the query suite's tables, measured on the driver's sf0.01 and
# sf0.1 test tables (TESTDATA.md; same shape at both scales): 66.7 events
# per user, event times uniform over 30 days from 2024-01-01, five event
# types with equal shares, value ~ exponential(mean 50) to cents, props
# '{"k": <0..99>}'; documents of 10..99 words drawn uniformly from one
# 30-word vocabulary, 5% of them a copy of another document with " dup"
# appended (so copies of one base are exact duplicates of each other),
# lang 40% en and 15% each zh/es/fr/de, source src<doc_id % 20>.
EVENTS_PER_USER = 200 / 3
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
EVENT_DAYS = 30
VALUE_MEAN = 50.0
PROPS_K = 100
DOC_WORDS = (10, 99)
NEAR_DUP_FRAC = 0.05
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_W = np.array([0.40, 0.15, 0.15, 0.15, 0.15])
N_SOURCES = 20
VOCAB = np.array(
    "a the spark stream batch line column order small big sort fast slow "
    "value scan hash group agg filter query key window row part table merge "
    "data join vector customer".split()
)


def transcripts_pdf(n_turns: int, seed: int) -> pd.DataFrame:
    """Flagship input: datagen's skewed transcripts, ts as UTC instants."""
    from loongcollector_spark.datagen import gen_transcripts_pdf

    pdf = gen_transcripts_pdf(n_turns=n_turns, n_convs=max(n_turns // 10, 2),
                              hot_frac=0.30, seed=seed, malformed_frac=0.02)
    pdf["ts"] = pdf["ts"].dt.tz_localize("UTC")
    return pdf


def write_files(pdf: pd.DataFrame, out_dir: str, n_files: int) -> list[str]:
    """Split ``pdf`` into ``n_files`` contiguous parquet files, named in
    row order."""
    os.makedirs(out_dir, exist_ok=True)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    bounds = np.linspace(0, len(pdf), n_files + 1).astype(int)
    paths = []
    for i in range(n_files):
        p = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), p)
        paths.append(p)
    return paths


def events_pdf(n_events: int, seed: int) -> pd.DataFrame:
    """``events`` with the measured shape of the sf test tables."""
    rng = np.random.default_rng(seed)
    n_users = max(round(n_events / EVENTS_PER_USER), 1)
    offs_us = np.sort(rng.integers(0, EVENT_DAYS * 86_400 * 10**6, n_events))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offs_us.astype("timedelta64[us]")
    return pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(VALUE_MEAN, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, PROPS_K, n_events)],
    })


def documents_pdf(n_docs: int, seed: int) -> pd.DataFrame:
    """``documents`` with the measured shape of the sf test tables: word
    salad over one vocabulary, and near copies that the dedup and minhash
    queries find."""
    rng = np.random.default_rng(seed + 1)
    lo, hi = DOC_WORDS
    texts = [" ".join(rng.choice(VOCAB, int(n)))
             for n in rng.integers(lo, hi + 1, n_docs)]
    for i in np.flatnonzero(rng.random(n_docs) < NEAR_DUP_FRAC):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_W),
        "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_tables(sf_dir: str, n_events: int, n_docs: int, seed: int) -> None:
    """The query suite's tables, one parquet file each (driver layout)."""
    os.makedirs(sf_dir, exist_ok=True)
    events_pdf(n_events, seed).to_parquet(f"{sf_dir}/events.parquet", index=False)
    documents_pdf(n_docs, seed).to_parquet(f"{sf_dir}/documents.parquet", index=False)
