"""Checkpoint manifest + idempotent writes + resume.

The reference's exactly-once story is per-file range checkpoints bound to
event groups with replay detection (core/file_server/checkpoint/
CheckPointManager.h:40-53, ExactlyOnceQueueManager.h:41-96). The batch-
Spark equivalent is simpler and stronger:

* every sink write is an OVERWRITE of a deterministic output path —
  re-running a completed stage produces byte-identical output, so a
  replayed stage is harmless (idempotence instead of dedup);
* a JSON **manifest** records, per stage: status, row count, and the input
  fingerprint. Resume = skip stages whose manifest entry is 'done' AND
  whose input fingerprint matches; any fingerprint change invalidates
  everything downstream.

The manifest is written atomically (tmp + rename) after each stage
completes — a kill between stages loses at most the in-flight stage,
which re-runs idempotently.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import dataclass


def _hadoop_fs(spark, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, jvm


def _hadoop_read_text(spark, path: str) -> str | None:
    fs, jpath, jvm = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return bytes(data).decode("utf-8")


def write_text(spark, path: str, text: str) -> None:
    """The one writer for small driver-side records (manifest, run and
    per-batch metrics) on any Hadoop FS, so they land on the filesystem
    the sinks resolve to. Tmp + rename: atomic on HDFS/local; on S3 it's
    copy+delete — still safe here because a torn record only forces a
    re-run."""
    fs, jpath, jvm = _hadoop_fs(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(path + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    if fs.exists(jpath):
        fs.delete(jpath, False)
    fs.rename(tmp, jpath)


@dataclass
class Manifest:
    path: str
    data: dict
    spark: object = None

    @classmethod
    def load(cls, out_dir: str, spark=None) -> "Manifest":
        if "://" in out_dir:
            # URI out_dir (s3a://, hdfs://, file://): os.path would write
            # the manifest to a bogus LOCAL path while the data goes
            # remote — resume from another driver would silently re-run
            # everything. Route through the Hadoop FileSystem API.
            if spark is None:
                raise ValueError(
                    f"Manifest.load({out_dir!r}): URI paths need the "
                    "spark session (Manifest.load(out_dir, spark))"
                )
            p = out_dir.rstrip("/") + "/_manifest.json"
            txt = _hadoop_read_text(spark, p)
            data = (json.loads(txt) if txt is not None
                    else {"input_fingerprint": None, "stages": {}})
            return cls(p, data, spark)
        p = os.path.join(out_dir, "_manifest.json")
        if os.path.exists(p):
            with open(p) as f:
                return cls(p, json.load(f), spark)
        return cls(p, {"input_fingerprint": None, "stages": {}}, spark)

    def save(self) -> None:
        if "://" in self.path:
            write_text(
                self.spark, self.path,
                json.dumps(self.data, indent=1, sort_keys=True),
            )
            return
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(self.path), suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(self.data, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)

    def reset_if_input_changed(self, fingerprint: str) -> bool:
        """New/changed input invalidates all completed stages."""
        if self.data.get("input_fingerprint") != fingerprint:
            self.data = {"input_fingerprint": fingerprint, "stages": {}}
            self.save()
            return True
        return False

    def is_done(self, stage: str) -> bool:
        return self.data["stages"].get(stage, {}).get("status") == "done"

    def mark_done(self, stage: str, **info) -> None:
        self.data["stages"][stage] = {"status": "done", **info}
        self.save()


def input_fingerprint(df) -> str:
    """Deterministic fingerprint of the input.

    File-backed frames (the production path): hash of the sorted input
    file list plus per-file (size, mtime) via the Hadoop FileSystem API
    (works for hdfs://, s3a://, file:, …) — O(files), no data scan; at
    100 TB a content-hash pass before any work is a full extra read of
    the input. If ANY file's metadata cannot be fetched, fall back to
    the scan-based fingerprint rather than a names-only hash — same
    file names with rewritten content must NOT fingerprint identically.
    Non-file frames (in-memory test inputs) use the same scan fallback:
    row count + xor of per-row key hashes, order-insensitive.
    """
    import hashlib

    files = sorted(df.inputFiles())
    if files:
        h = hashlib.md5()
        try:
            jvm = df.sparkSession._jvm
            hconf = df.sparkSession._jsc.hadoopConfiguration()
            for f in files:
                h.update(f.encode())
                jpath = jvm.org.apache.hadoop.fs.Path(f)
                st = jpath.getFileSystem(hconf).getFileStatus(jpath)
                h.update(
                    f"{st.getLen()}:{st.getModificationTime()}".encode()
                )
            return f"files:{len(files)}:{h.hexdigest()}"
        except Exception:
            pass  # metadata unavailable → scan-based fingerprint below

    from pyspark.sql import functions as F

    key_cols = (
        ["conv_id", "turn_idx"]
        if {"conv_id", "turn_idx"} <= set(df.columns)
        else list(df.columns)
    )
    row = df.select(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64(*key_cols)).alias("h"),
    ).first()
    return f"{row['n']}:{row['h']}"
