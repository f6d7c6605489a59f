"""Snapshot-committed table storage (SURVEY.md §4.2-5, §7 step 0).

Iceberg runtime jars are not available in this sandbox, so the engine
is backend-agnostic behind this store: a directory-per-snapshot parquet
layout with a manifest written last gives the same atomic-commit /
pin-by-id / resume API that Iceberg snapshots would provide. On a real
cluster you swap this for Iceberg tables (``bucket(P, host)``
partitioning, storage-partitioned joins) without touching engine code.

Layout::

    base/
      snap-00000/
        frontier/ ...parquet        # the seeded frontier (full state)
        _MANIFEST.json              # written LAST -> commit point
      snap-00001/
        frontier/ ...parquet        # full frontier state after wave 1
        fetch_log/ ...parquet       # delta: attempts logged by wave 1
        extracted/ ...parquet       # delta: reviews produced by wave 1
        pagetext/ ...parquet
        pagemeta/ ...parquet
        metrics/ ...parquet
        _MANIFEST.json

The frontier holds every URL ever admitted, so it is also the exact
URL-seen set each wave's candidates anti-join.

A crashed superstep leaves parquet but no manifest; resume re-runs the
wave from the last *committed* frontier, and since every output row is
stamped with its wave_id, re-execution is idempotent (the uncommitted
orphan files are ignored by readers and overwritten by the retry).
"""

from __future__ import annotations

import json
import os
import shutil
from functools import reduce

from pyspark.sql import DataFrame, SparkSession

# delta tables: one slice per snapshot, readers union across snapshots
APPEND_TABLES = ("extracted", "fetch_log", "pagetext", "pagemeta", "metrics")
# full-state tables a resume loads (CrawlEngine._fill_state): the
# latest snapshot wins, read_latest
STATE_TABLES = ("frontier", "cookies", "inc_hashes", "inc_state")


class SnapshotStore:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)

    # -- snapshot bookkeeping -------------------------------------------------

    def _snap_dir(self, wave_id: int) -> str:
        return os.path.join(self.base_dir, f"snap-{wave_id:05d}")

    def _manifest_path(self, wave_id: int) -> str:
        return os.path.join(self._snap_dir(wave_id), "_MANIFEST.json")

    def committed_waves(self) -> list[int]:
        out = []
        for name in sorted(os.listdir(self.base_dir)):
            if name.startswith("snap-"):
                wid = int(name.split("-")[1])
                if os.path.exists(self._manifest_path(wid)):
                    out.append(wid)
        return out

    def latest_wave(self) -> int | None:
        waves = self.committed_waves()
        return waves[-1] if waves else None

    # -- commit / read ---------------------------------------------------------

    def commit(self, wave_id: int, tables: dict[str, DataFrame]) -> dict:
        """Write all tables for a wave, then the manifest (atomic rename).

        Table writes run CONCURRENTLY (one driver thread per table —
        Spark's scheduler is thread-safe and overlaps the jobs), so the
        commit round-trip costs ~the slowest table, not the sum of all
        of them. Atomicity is unchanged: the manifest is still written
        last, only after every table job has succeeded."""
        from concurrent.futures import ThreadPoolExecutor

        snap = self._snap_dir(wave_id)
        if os.path.exists(snap) and not os.path.exists(self._manifest_path(wave_id)):
            shutil.rmtree(snap)  # orphan from a crashed attempt — idempotent retry

        def write_one(item):
            name, df = item
            df.write.mode("overwrite").parquet(os.path.join(snap, name))

        with ThreadPoolExecutor(max_workers=min(8, max(len(tables), 1))) as ex:
            # list() re-raises the first writer exception BEFORE the
            # manifest write — a failed table never gets committed
            list(ex.map(write_one, tables.items()))
        # per-table file lineage (the Iceberg-manifest analog): the
        # manifest pins exactly which data files belong to this
        # snapshot, so readers/auditors can detect orphans from crashed
        # attempts and a resume can account for every partition
        files: dict[str, list[str]] = {}
        for name in tables:
            tdir = os.path.join(snap, name)
            files[name] = sorted(
                os.path.relpath(os.path.join(root, f), tdir)
                for root, _dirs, fs in os.walk(tdir)
                for f in fs
                if f.endswith(".parquet")
            )
        manifest = {
            "wave_id": wave_id,
            "tables": sorted(tables),
            "files": files,
        }
        tmp = self._manifest_path(wave_id) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path(wave_id))  # the commit point
        return manifest

    def read_snapshot_table(self, wave_id: int, name: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self._snap_dir(wave_id), name))

    def read_latest(self, name: str) -> DataFrame | None:
        """Table ``name`` of the latest committed snapshot, or None when
        nothing is committed or that snapshot's manifest does not list
        the table."""
        wave = self.latest_wave()
        if wave is None:
            return None
        with open(self._manifest_path(wave)) as f:
            if name not in json.load(f)["tables"]:
                return None
        return self.read_snapshot_table(wave, name)

    def read_appended(self, name: str, up_to_wave: int | None = None) -> DataFrame | None:
        """Union of a delta table across all committed snapshots."""
        paths = []
        for wid in self.committed_waves():
            if up_to_wave is not None and wid > up_to_wave:
                continue
            p = os.path.join(self._snap_dir(wid), name)
            if os.path.exists(p):
                paths.append(p)
        if not paths:
            return None
        dfs = [self.spark.read.parquet(p) for p in paths]
        return reduce(DataFrame.unionByName, dfs)

    def compact(self, dest_dir: str, target_files: int = 8) -> "SnapshotStore":
        """Rewrite the whole store into ONE snapshot at ``dest_dir`` —
        the small-file maintenance op (Iceberg's rewrite_data_files +
        expire_snapshots analog): a long crawl accumulates one delta
        slice per table per checkpoint, and at 10^10 rows the file
        count, not the byte count, becomes the read bottleneck.

        The compacted snapshot keeps the SAME wave id, so a resumed
        run numbers its next superstep identically; append tables are
        unioned across snapshots and coalesced, and the full-state
        tables a resume loads copy from the latest snapshot when its
        manifest lists them (any other table there, such as the
        ``seen`` slice older stores carry, is dropped). Crash-safe by
        construction: the destination manifest is written last, so an
        interrupted compaction leaves an empty (ignorable) destination
        and the source store untouched. The caller switches directories
        after success — the pointer swap is deployment's atomic step,
        as with an Iceberg catalog update."""
        wave = self.latest_wave()
        assert wave is not None, "nothing to compact"
        dest = SnapshotStore(self.spark, dest_dir)
        tables: dict[str, DataFrame] = {}
        for name in APPEND_TABLES:
            df = self.read_appended(name)
            if df is not None:
                tables[name] = df.coalesce(target_files)
        for name in STATE_TABLES:
            df = self.read_latest(name)
            if df is not None:
                tables[name] = df
        dest.commit(wave, tables)
        return dest

    def destroy(self):
        shutil.rmtree(self.base_dir, ignore_errors=True)
