"""Corpus sampling and shard packing (training-data pipeline tier).

Two ops every LLM data-mix pipeline runs between filtering and
training, both deterministic and cross-engine exact:

- ``stratified_sample``: reproducible per-stratum downsampling by a
  content-independent hash bucket (md5(doc_id) % 1000 < permille).
  Hash-based sampling — not rand() — is how a distributed pipeline
  gets the SAME sample on every rerun, every resume, and every
  engine, with no seed-plumbing or row-order sensitivity. The rate
  table is per-stratum (e.g. upsample low-resource languages, cap
  boilerplate sources) and broadcast.

- ``pack_shards``: assign documents to fixed-token-budget training
  shards by a running token sum per stratum. Packing is PER STRATUM
  (the window partitions by the stratum column), so at corpus scale
  each partition packs independently — no global ordering, no single-
  partition window. A shard holds consecutive docs (by doc id) until
  the budget would overflow; a doc larger than the whole budget still
  gets a shard of its own (ceil semantics via start-offset division).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from go_scrapper_spark.session import local_table


def _hash_bucket(id_col: str, buckets: int = 1000) -> F.Column:
    """Deterministic bucket in [0, buckets): leading 32 bits of
    md5(id-as-string). md5 hex parses identically in Spark and DuckDB,
    so samples are engine-portable (xxhash64 is Spark-private)."""
    return (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string").cast("binary")), 1, 8),
            16, 10,
        ).cast("long") % buckets
    )


def stratified_sample(docs: DataFrame, rates: dict[str, int],
                      stratum_col: str = "lang", id_col: str = "doc_id",
                      default_permille: int = 0) -> DataFrame:
    """Keep each doc iff hash_bucket(doc) < keep_permille(stratum).
    ``rates``: stratum value → permille kept (0..1000). Strata absent
    from the table get ``default_permille``. Adds the bucket column so
    downstream audits can verify membership without recomputing."""
    rates_df = local_table(
        docs.sparkSession,
        [(k, int(v)) for k, v in rates.items()],
        "stratum string, keep_permille int",
    )
    bucket = _hash_bucket(id_col)
    return (
        docs.withColumn("sample_bucket", bucket)
        .join(
            F.broadcast(rates_df),
            F.col(stratum_col) == F.col("stratum"),
            "left",
        )
        .filter(
            F.col("sample_bucket")
            < F.coalesce("keep_permille", F.lit(default_permille))
        )
        .drop("stratum", "keep_permille")
    )


def pack_shards(docs: DataFrame, budget_tokens: int,
                stratum_col: str = "lang", id_col: str = "doc_id",
                tokens_col: str = "n_tokens") -> DataFrame:
    """(doc_id, stratum, n_tokens, shard_id): consecutive docs (id
    order) pack into shards of ~``budget_tokens`` per stratum;
    shard_id = floor(start_offset / budget), so a shard never STARTS
    past its budget boundary and oversized docs take a shard alone."""
    w = (
        Window.partitionBy(stratum_col)
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum(tokens_col).over(w) - F.col(tokens_col)
    return docs.select(
        F.col(id_col),
        F.col(stratum_col).alias("stratum"),
        F.col(tokens_col).cast("long").alias("n_tokens"),
        F.floor(start / budget_tokens).cast("long").alias("shard_id"),
    )
