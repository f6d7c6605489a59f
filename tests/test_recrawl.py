"""Recrawl/expiry maintenance primitives inside the engine.

The crawl's seen check is the exact anti-join of each wave's outlink
candidates against the frontier, so forgetting a URL is removing its
frontier row. The two maintenance ops must compose into the
incremental-recrawl story: refresh a hub page -> it re-fetches; expire
a leaf -> the next page that links to it re-admits it as a fresh
discovery, while expired pages nobody links to again stay forgotten;
and repeated expiries leave no cached state behind."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from go_scrapper_spark.plans.crawl import CrawlConfig, CrawlEngine
from go_scrapper_spark.plans.search import resolve_profile_keys
from go_scrapper_spark.sources import synthetic_web as sw
from go_scrapper_spark.sources.storage import SnapshotStore

CFG = sw.WebConfig(n_biz=8)


def _seeds(spark):
    pages = sw.generate_pages_df(spark, CFG, n_partitions=4)
    return resolve_profile_keys(sw.seeds_df(spark, CFG), pages)


def _engine(spark, store, **cfg_kw):
    pages = sw.generate_pages_df(spark, CFG, n_partitions=4)
    return CrawlEngine(
        spark, pages, sw.robots_df(spark, CFG), store,
        CrawlConfig(
            fail_attempts_col=lambda: sw.fail_attempts_col(CFG), **cfg_kw
        ),
    )


def _log(store):
    return sorted(
        tuple(r)
        for r in store.read_appended("fetch_log")
        .select("wave_id", "host", "url", "depth", "seq", "attempt", "status")
        .collect()
    )


def _frontier_urls(store):
    return {
        r["url"]: (r["state"], r["attempt"])
        for r in store.read_snapshot_table(
            store.latest_wave(), "frontier"
        ).collect()
    }


@pytest.fixture(scope="module")
def done(spark):
    """A completed crawl to run maintenance against."""
    base = tempfile.mkdtemp(prefix="crawl-maint-")
    store = SnapshotStore(spark, base)
    eng = _engine(spark, store)
    eng.run(_seeds(spark))
    yield eng, store
    shutil.rmtree(base, ignore_errors=True)


def test_expire_then_relink_readmits_only_linked_urls(spark, done):
    """The full incremental-recrawl loop: expire two fetched depth-1
    pages, refresh the seed that links to ONE of them, resume. The
    refreshed seed re-fetches; its expired child is re-discovered and
    re-fetched as if new; the other expired page (whose linker was NOT
    refreshed) stays forgotten; every still-seen URL dedups away."""
    eng, store = done
    before = _log(store)
    f0 = _frontier_urls(store)

    # two distinct seeds' successful depth-1 children + their linkers
    kids = (
        store.read_appended("fetch_log")
        .filter((F.col("depth") == 1) & (F.col("status") == 200))
        .select("url", "seq").collect()
    )
    seeds_log = {
        r["seq"]: r["url"]
        for r in store.read_appended("fetch_log")
        .filter((F.col("depth") == 0) & (F.col("status") == 200))
        .select("seq", "url").collect()
    }
    by_seed = {}
    for r in kids:
        linker = seeds_log.get(r["seq"] - r["seq"] % 10_000_000)  # SEED_SEQ_STRIDE
        by_seed.setdefault(linker, []).append(r["url"])
    # robust pairing: just take two children with different linking seeds
    linked, orphan, linked_seed = None, None, None
    for seed_url, child_urls in by_seed.items():
        if seed_url is None:
            continue
        if linked is None:
            linked, linked_seed = child_urls[0], seed_url
        elif seed_url != linked_seed:
            orphan = child_urls[0]
            break
    assert linked and orphan and linked_seed

    n_exp = eng.expire_urls(
        spark.createDataFrame([(linked,), (orphan,)], "url string")
    )
    assert n_exp == 2
    f1 = _frontier_urls(store)
    assert linked not in f1 and orphan not in f1
    assert len(f1) == len(f0) - 2

    n_ref = eng.refresh_urls(spark.createDataFrame([(linked_seed,)], "url string"))
    assert n_ref == 1
    assert f0[linked_seed][0] == "fetched"
    assert _frontier_urls(store)[linked_seed] == ("pending", 0)

    eng.run()
    after = _log(store)
    new_urls = sorted(u for (_w, _h, u, _d, _s, _a, _st) in
                      set(after) - set(before))
    # exactly the refreshed hub + its re-admitted child; the orphan and
    # every still-seen URL do not re-enter
    assert new_urls == sorted([linked_seed, linked])
    f2 = _frontier_urls(store)
    assert f2[linked][0] == "fetched"
    assert f2[linked_seed][0] == "fetched"
    assert orphan not in f2



def test_expire_frees_its_checkpoints(spark, tmp_path):
    """Repeated expire_urls calls leave nothing persisted behind: of
    the RDDs persisted after the crawl, each call only swaps the live
    frontier checkpoint for a new one, and the superseded frontier is
    freed by the maintenance commit."""
    store = SnapshotStore(spark, str(tmp_path))
    eng = _engine(spark, store)
    eng.run(_seeds(spark))
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    fetched = sorted(u for u, (st, _a) in _frontier_urls(store).items()
                     if st == "fetched")
    for url in fetched[:3]:
        assert eng.expire_urls(spark.createDataFrame([(url,)], "url string")) == 1
        new = set(jsc.getPersistentRDDs().keySet()) - before
        assert len(new) <= 1, sorted(new)
