"""Streaming exact dedup (§2.9 × U2): drop already-seen content as it
arrives — the ingest-side twin of operators/dedupe.exact_dedup_groups.

A continuous crawl/corpus pipeline dedups at ingest so downstream
stages never see a duplicate twice. The operator keys state by
md5(text) and emits only the first occurrence of each hash; the
OUTPUT carries (content_hash, text), not the arrival-dependent doc id,
so the result set is deterministic regardless of partition/batch
arrival order (duplicate rows have identical text by definition of
exact dedup).

State bounds at scale: plain ``dropDuplicates`` keeps every seen hash
forever — exact, and the right choice when the seen-set lives for the
run (the crawl engine's own seen filter is the batch analog, with the
cuckoo pre-pass for 10^10 keys). For unbounded streams pass ``within``
(e.g. "24 hours") to use ``dropDuplicatesWithinWatermark``: state
expires with the event-time watermark, bounding memory to one window
of distinct hashes, with the documented relaxation that a duplicate
arriving after its original left the window is re-emitted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DOCS_DDL = "doc_id long, ts timestamp, text string"


def _hashed(df: DataFrame) -> DataFrame:
    return df.select(
        "ts",
        F.md5(F.col("text").cast("binary")).alias("content_hash"),
        "text",
    )


def dedup_stream(
    spark: SparkSession,
    docs_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    within: str | None = None,
) -> None:
    """Drain ``docs_dir`` (parquet files of DOCS_DDL) with
    Trigger.AvailableNow, appending first-seen (content_hash, text)
    rows to a parquet sink. The dedup state lives in the checkpoint,
    and the parquet sink — unlike the memory sink — supports
    checkpoint RECOVERY: a later drain with the same checkpoint
    continues the seen-set, so duplicates are never re-emitted across
    restarts (exactly-once dedup)."""
    stream = spark.readStream.schema(DOCS_DDL).parquet(docs_dir)
    hashed = _hashed(stream)
    if within is not None:
        deduped = hashed.withWatermark("ts", within).dropDuplicatesWithinWatermark(
            ["content_hash"]
        )
    else:
        deduped = hashed.dropDuplicates(["content_hash"])
    q = (
        deduped.select("content_hash", "text")
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def dedup_batch(spark: SparkSession, docs_path: str) -> DataFrame:
    """The batch twin: distinct (content_hash, text) over the same
    files — what the stream must equal after a full drain."""
    return _hashed(spark.read.parquet(docs_path)).select(
        "content_hash", "text"
    ).distinct()
