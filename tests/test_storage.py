"""SnapshotStore contract: atomic concurrent commits, manifest file
lineage, orphan cleanup, append reads. The crash/resume semantics over
real crawl state are separately covered by test_crawl_equivalence; this
file pins the storage-layer invariants in isolation."""

from __future__ import annotations

import json
import os

import pytest

from go_scrapper_spark.sources.storage import SnapshotStore


@pytest.fixture()
def store(spark, tmp_path):
    return SnapshotStore(spark, str(tmp_path / "store"))


def _tables(spark, n=3):
    return {
        f"t{i}": spark.range(0, 10 + i).withColumnRenamed("id", "v")
        for i in range(n)
    }


def test_manifest_lists_exact_files(spark, store):
    store.commit(1, _tables(spark))
    man = json.load(open(store._manifest_path(1)))
    assert sorted(man["tables"]) == ["t0", "t1", "t2"]
    for name, files in man["files"].items():
        tdir = os.path.join(store._snap_dir(1), name)
        on_disk = sorted(
            os.path.relpath(os.path.join(root, f), tdir)
            for root, _d, fs in os.walk(tdir)
            for f in fs
            if f.endswith(".parquet")
        )
        assert files == on_disk and files  # exact, non-empty lineage


def test_concurrent_writes_all_land(spark, store):
    tables = _tables(spark, n=8)  # more tables than writer threads
    store.commit(2, tables)
    for name, df in tables.items():
        assert store.read_snapshot_table(2, name).count() == df.count()


def test_failed_write_never_commits(spark, store):
    class Boom:
        write = property(lambda self: (_ for _ in ()).throw(RuntimeError("boom")))

    with pytest.raises(Exception):
        store.commit(3, {"ok": spark.range(5), "bad": Boom()})
    assert store.latest_wave() is None  # no manifest → nothing committed


def test_orphan_snapshot_overwritten_on_retry(spark, store):
    # simulate a crash: table data exists but no manifest
    snap = store._snap_dir(4)
    os.makedirs(os.path.join(snap, "t0"), exist_ok=True)
    with open(os.path.join(snap, "t0", "junk.parquet"), "w") as f:
        f.write("not parquet")
    assert store.latest_wave() is None
    store.commit(4, {"t0": spark.range(7).withColumnRenamed("id", "v")})
    assert store.latest_wave() == 4
    assert store.read_snapshot_table(4, "t0").count() == 7
    man = json.load(open(store._manifest_path(4)))
    assert "junk.parquet" not in man["files"]["t0"]


def test_read_appended_unions_committed_only(spark, store):
    store.commit(1, {"d": spark.range(3).withColumnRenamed("id", "v")})
    store.commit(2, {"d": spark.range(5).withColumnRenamed("id", "v")})
    # orphan (uncommitted) wave must be ignored by readers
    os.makedirs(os.path.join(store._snap_dir(3), "d"), exist_ok=True)
    assert store.read_appended("d").count() == 8
    assert store.read_appended("d", up_to_wave=1).count() == 3


def test_read_latest_follows_latest_manifest(spark, store):
    """read_latest reads only what the latest committed manifest lists:
    nothing before the first commit, a table dropped from a later
    snapshot is gone, and an uncommitted wave is ignored."""
    assert store.read_latest("t0") is None
    store.commit(1, {"t0": spark.range(3), "t1": spark.range(4)})
    store.commit(2, {"t0": spark.range(5)})
    os.makedirs(os.path.join(store._snap_dir(3), "t1"), exist_ok=True)
    assert store.read_latest("t0").count() == 5
    assert store.read_latest("t1") is None


def test_compact_copies_only_the_state_a_resume_loads(spark, store, tmp_path):
    """compact unions the append tables and copies the full-state tables
    a resume loads from the latest snapshot; any other table its
    manifest lists, such as the seen slice of a store written before
    the frontier became the seen set, is left behind."""
    def v(n):
        return spark.range(n).withColumnRenamed("id", "v")

    store.commit(1, {"frontier": v(4), "seen": v(4), "fetch_log": v(2)})
    store.commit(2, {"frontier": v(6), "seen": v(2), "fetch_log": v(3),
                     "cookies": v(1)})
    dest = store.compact(str(tmp_path / "compacted"))
    assert dest.committed_waves() == [2]
    with open(dest._manifest_path(2)) as f:
        assert json.load(f)["tables"] == ["cookies", "fetch_log", "frontier"]
    assert not os.path.exists(os.path.join(dest._snap_dir(2), "seen"))
    assert dest.read_latest("frontier").count() == 6
    assert dest.read_appended("fetch_log").count() == 5
