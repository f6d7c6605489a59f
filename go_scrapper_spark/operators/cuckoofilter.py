"""Partitioned cuckoo URL-seen filter (SURVEY.md §4.2-2).

The filter is partitioned per ``url_hash`` bucket: one table row per
bucket, built and merged distributively, and checked by cogrouping the
candidates with the table on bucket. Membership is stored as 16-bit
partial-key fingerprints in a 4-way cuckoo table (Fan et al., "Cuckoo
Filter", CoNEXT 2014), so a URL can be *removed*. That is the
primitive a recrawl/expiry policy needs: re-admitting a stale URL to
the frontier means deleting it from the seen filter.

No-false-negative guarantee (the crawl must never silently drop an
unseen URL) holds unconditionally: a kick chain that exhausts its
budget leaves one fingerprint homeless — it parks in the bucket's
victim stash (the paper's "stash", here unbounded), and the membership
check consults table OR stash. The stash stays empty below ~0.84 load;
sizing uses LOAD_FACTOR.

Keys are the engine's Spark-native ``xxhash64(canonical_url)`` int64 —
fingerprint and both candidate slots derive from it with integer ops
only (no re-hashing of strings).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CUCKOO_DDL = (
    "bucket int, table binary, stash binary, n_items long, m_slots long"
)

_COLUMNS = ["bucket", "table", "stash", "n_items", "m_slots"]

SLOTS_PER_BUCKET = 4
LOAD_FACTOR = 0.75
_FP_MIX = np.uint64(0x5BD1E995)  # odd mixer: fp -> partner-bucket offset
_MAX_KICKS = 500


def cuckoo_params(expected_n: int) -> int:
    """Slot-bucket count m (power of two) for an expected item count."""
    expected_n = max(expected_n, 16)
    need = int(expected_n / (SLOTS_PER_BUCKET * LOAD_FACTOR)) + 1
    m = 1
    while m < need:
        m <<= 1
    return m


def _fingerprints(hashes: np.ndarray) -> np.ndarray:
    """Nonzero 16-bit partial keys from the int64 url_hash."""
    h = hashes.astype(np.uint64)
    fp = ((h >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
    fp[fp == 0] = 1
    return fp


def _slot_indexes(
    hashes: np.ndarray, fp: np.ndarray, m: int
) -> tuple[np.ndarray, np.ndarray]:
    """(i1, i2) candidate slot-buckets; partner derivation is the
    standard partial-key XOR, so i2's partner is i1 again (delete and
    kick both rely on this involution)."""
    mask = np.uint64(m - 1)
    i1 = (hashes.astype(np.uint64) & mask).astype(np.int64)
    off = (fp.astype(np.uint64) * _FP_MIX) & mask
    i2 = (i1.astype(np.uint64) ^ off).astype(np.int64)
    return i1, i2


def _partner(idx: int, fp: int, m: int) -> int:
    return int((np.uint64(idx) ^ ((np.uint64(fp) * _FP_MIX) & np.uint64(m - 1))))


def _insert_many(
    table: np.ndarray, stash: list[int], hashes: np.ndarray, m: int
) -> None:
    """Insert int64 keys into a (m, 4) uint16 table in place.
    Deterministic kick order (victim slot cycles with the attempt
    counter) so a rebuilt filter is byte-identical. A kick chain that
    exhausts its budget parks the one homeless FINGERPRINT in the
    bucket's ``stash`` — the key it belonged to stays positive via the
    stash check, so no insert can ever create a false negative."""
    fps = _fingerprints(hashes)
    i1s, i2s = _slot_indexes(hashes, fps, m)
    for fp, i1, i2 in zip(fps, i1s, i2s):
        placed = False
        for idx in (i1, i2):
            free = np.flatnonzero(table[idx] == 0)
            if free.size:
                table[idx, free[0]] = fp
                placed = True
                break
        if placed:
            continue
        # cuckoo kicks: evict a resident fingerprint to its partner
        # bucket. The new key's fp is swapped IN on the first hop, so
        # after the chain only the final evictee is homeless.
        idx, cur = int(i1), int(fp)
        for attempt in range(_MAX_KICKS):
            victim = attempt % SLOTS_PER_BUCKET
            cur, table[idx, victim] = int(table[idx, victim]), int(cur)
            idx = _partner(idx, cur, m)
            free = np.flatnonzero(table[idx] == 0)
            if free.size:
                table[idx, free[0]] = cur
                break
        else:
            stash.append(int(cur))


def _contains(
    table: np.ndarray, stash: np.ndarray, hashes: np.ndarray, m: int
) -> np.ndarray:
    """Vectorized membership for int64 keys against one bucket's
    (m, 4) table + victim stash."""
    if hashes.size == 0:
        return np.zeros(0, dtype=bool)
    fps = _fingerprints(hashes)
    i1s, i2s = _slot_indexes(hashes, fps, m)
    hit = (table[i1s] == fps[:, None]).any(axis=1)
    hit |= (table[i2s] == fps[:, None]).any(axis=1)
    if stash.size:
        hit |= np.isin(fps, stash)
    return hit


def _delete_many(
    table: np.ndarray, stash: list[int], hashes: np.ndarray, m: int
) -> None:
    """Remove ONE fingerprint occurrence per key (standard cuckoo
    delete: only call for keys previously inserted)."""
    fps = _fingerprints(hashes)
    i1s, i2s = _slot_indexes(hashes, fps, m)
    for fp, i1, i2 in zip(fps, i1s, i2s):
        done = False
        for idx in (i1, i2):
            slots = np.flatnonzero(table[idx] == fp)
            if slots.size:
                table[idx, slots[0]] = 0
                done = True
                break
        if not done and int(fp) in stash:
            stash.remove(int(fp))


def _row(bucket: int, table: np.ndarray, stash: list[int]):
    """One filter-table row. Every insert parks exactly one nonzero
    fingerprint in the table or the stash and every delete removes one,
    so the occupied slots plus the stash count the items."""
    return (
        int(bucket),
        table.tobytes(),
        np.asarray(sorted(stash), dtype=np.uint16).tobytes(),
        int(np.count_nonzero(table)) + len(stash),
        len(table),
    )


def _load(row) -> tuple[np.ndarray, list[int], int]:
    m = int(row["m_slots"])
    table = (
        np.frombuffer(bytes(row["table"]), dtype=np.uint16)
        .reshape(m, SLOTS_PER_BUCKET)
        .copy()
    )
    st_raw = row["stash"]
    stash = (
        list(np.frombuffer(bytes(st_raw), dtype=np.uint16)) if st_raw else []
    )
    return table, stash, m


def build_cuckoos(seen: DataFrame, expected_per_bucket: int) -> DataFrame:
    """seen(url_hash, bucket) → one cuckoo row per bucket (distributed,
    applyInPandas per bucket)."""
    m = cuckoo_params(expected_per_bucket)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        table = np.zeros((m, SLOTS_PER_BUCKET), dtype=np.uint16)
        stash: list[int] = []
        _insert_many(table, stash, pdf["url_hash"].to_numpy(dtype=np.int64), m)
        return pd.DataFrame(
            [_row(pdf["bucket"].iloc[0], table, stash)], columns=_COLUMNS
        )

    return seen.groupBy("bucket").applyInPandas(build, schema=CUCKOO_DDL)


def _fold(cuckoos: DataFrame, keys: DataFrame, how: str, apply, new_m=None):
    """Apply ``apply(table, stash, hashes, m)`` to each bucket's row with
    that bucket's keys (url_hash, bucket). ``how`` is the join of the
    grouped keys to the table: "outer" also creates a fresh ``new_m``
    table for a bucket only the keys have; "right_outer" keeps exactly
    the table's buckets."""
    joined = (
        keys.select("url_hash", "bucket")
        .groupBy("bucket")
        .agg(F.collect_list("url_hash").alias("hashes"))
        .join(cuckoos, "bucket", how)
    )

    def fold(pdf_iter):
        for pdf in pdf_iter:
            out = []
            for row in pdf.to_dict("records"):
                if row["table"] is not None:
                    table, stash, m = _load(row)
                else:
                    m = new_m
                    table = np.zeros((m, SLOTS_PER_BUCKET), dtype=np.uint16)
                    stash = []
                hashes = row["hashes"]
                if hashes is not None and len(hashes):
                    apply(table, stash, np.asarray(hashes, dtype=np.int64), m)
                out.append(_row(row["bucket"], table, stash))
            yield pd.DataFrame(out, columns=_COLUMNS)

    return joined.mapInPandas(fold, schema=CUCKOO_DDL)


def merge_cuckoo_delta(
    cuckoos: DataFrame, delta: DataFrame, expected_per_bucket: int
) -> DataFrame:
    """Fold a (url_hash, bucket) delta into the cuckoo table — the
    per-wave incremental update. Existing buckets keep their stored
    size; new buckets size from ``expected_per_bucket``."""
    return _fold(
        cuckoos, delta, "outer", _insert_many,
        cuckoo_params(expected_per_bucket),
    )


def delete_hashes(cuckoos: DataFrame, removals: DataFrame) -> DataFrame:
    """Remove keys (url_hash, bucket) from the filter — the recrawl /
    seen-expiry primitive. Only delete keys that were inserted
    (cuckoo-filter contract; deleting a never-inserted key may evict an
    unrelated colliding fingerprint)."""
    return _fold(cuckoos, removals, "right_outer", _delete_many)


def filter_unseen_cuckoo_join(
    candidates: DataFrame,
    seen: DataFrame,
    cuckoos: DataFrame,
    n_buckets: int,
) -> DataFrame:
    """Exact unseen set with the cuckoo pre-pass: candidates cogroup
    with the cuckoo table on bucket, cuckoo-negatives are provably unseen,
    positives anti-join the exact seen set. Result identical to a
    plain anti-join (property-tested)."""
    import pyspark.sql.types as ST

    cand = candidates.withColumn(
        "_bkt", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    ).withColumn("_h", F.xxhash64("url"))

    def check(cand_pdf: pd.DataFrame, ck_pdf: pd.DataFrame) -> pd.DataFrame:
        if cand_pdf.empty:
            return cand_pdf.assign(_maybe=pd.Series(dtype=bool))
        if ck_pdf.empty:
            return cand_pdf.assign(_maybe=False)
        table, stash, m = _load(ck_pdf.iloc[0])
        h = cand_pdf["_h"].to_numpy(dtype=np.int64)
        maybe = _contains(
            table, np.asarray(stash, dtype=np.uint16), h, m
        )
        return cand_pdf.assign(_maybe=maybe)

    out_schema = ST.StructType(
        cand.schema.fields + [ST.StructField("_maybe", ST.BooleanType())]
    )
    tagged = (
        cand.groupBy("_bkt")
        .cogroup(cuckoos.groupBy(F.col("bucket").alias("_bkt")))
        .applyInPandas(check, schema=out_schema)
    )
    return tagged.join(
        seen.select(F.col("url_hash").alias("_sh")),
        F.col("_maybe") & (tagged["_h"] == F.col("_sh")),
        "left_anti",
    ).drop("_maybe", "_bkt", "_h")
