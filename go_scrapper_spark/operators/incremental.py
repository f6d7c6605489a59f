"""Incremental-crawl truncation (SURVEY.md F4/W2; main.go:950-960).

In incremental mode the reference walks its date-desc sorted result
list and cuts at the FIRST review whose hash appears in the task's
``last_review_hashes`` — that review and everything after it are
already known from the previous run. The Spark expression: number the
rows in the defined output order (W1), find the minimum row number
whose hash is in the seen set, keep strictly earlier rows.

The reference then keeps widening pagination windows by 50 until the
hash is found (G3, main.go:603-654) — a fetch-avoidance optimization
of the same semantics; the engine's scheduler analogue is the probe
window admission in plans/crawl.py. The truncation operator below is
the semantics contract both share, applied once to the whole result
by ``CrawlEngine.final_extracted``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from go_scrapper_spark.session import local_table


def order_cols():
    """The engine's deterministic W1 output order (date desc, arrival)."""
    return [
        F.col("posted_at").desc(),
        F.col("wave_id").asc(),
        F.col("arrival_idx").asc(),
        F.col("url").asc(),
    ]


def truncate_per_task(
    extracted: DataFrame,
    inc_hashes: dict[int, tuple[str, ...]],
    seed_seq_stride: int = 10_000_000,
) -> DataFrame:
    """Multi-task cut-at-seen-hash (main.go:950-960 generalized): each
    incremental task truncates at the first row, in W1 output order,
    whose hash appears in THAT task's last_review_hashes. Tasks without
    hashes pass through untouched. The hash table is O(task config) →
    broadcast join; the cut is one window per task partition."""
    if not inc_hashes:
        return extracted
    hdf = local_table(
        extracted.sparkSession,
        [(tk, h) for tk, hs in inc_hashes.items() for h in hs],
        "_tk long, review_hash string",
    ).withColumn("_hit_flag", F.lit(1))
    str100 = seed_seq_stride * 100
    tk = F.floor(F.col("arrival_idx") / str100).cast("long")
    marked = extracted.withColumn("_tk", tk).join(
        F.broadcast(hdf), ["_tk", "review_hash"], "left"
    )
    w = Window.partitionBy("_tk").orderBy(*order_cols())
    wcut = Window.partitionBy("_tk")
    rn = F.row_number().over(w)
    marked = marked.withColumn("_rn", rn)
    cut = F.min(F.when(F.col("_hit_flag").isNotNull(), F.col("_rn"))).over(wcut)
    return (
        marked.withColumn("_cut", cut)
        .filter(F.col("_cut").isNull() | (F.col("_rn") < F.col("_cut")))
        .drop("_tk", "_hit_flag", "_rn", "_cut")
    )
