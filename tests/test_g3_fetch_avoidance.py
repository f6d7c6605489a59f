"""G3 fetch-avoidance scheduling (reference main.go:563-654):
incremental tasks (non-empty last_review_hashes) fetch pagination in
50-wide probe windows, widening only while no collected review hash
matches, and the final output is cut at the first seen hash in W1
order (main.go:950-960). The Spark engine must match the pure-Python
model's exact fetch log, fetch strictly fewer pages than a full crawl,
and produce exactly the full crawl's truncated output."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from go_scrapper_spark.functions.extract import extract_page
from go_scrapper_spark.operators.incremental import truncate_per_task
from go_scrapper_spark.plans.crawl import CrawlConfig, CrawlEngine
from go_scrapper_spark.plans.reference_model import ModelCrawl
from go_scrapper_spark.plans.search import resolve_profile_keys
from go_scrapper_spark.sources import synthetic_web as sw
from go_scrapper_spark.sources.storage import SnapshotStore

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# large enough review counts that probe windows actually widen:
# biz0 rc=247 (feed windows 0..4), nc=131 (non-rec windows 0..2)
CFG = sw.WebConfig(n_biz=6, max_reviews=400, max_nonrec=150)


def feed_hash(biz: int, start: int, idx: int = 0) -> str:
    """A real review hash from the synthetic web's feed page."""
    url = sw.feed_url(CFG, biz, start)
    body, _t = sw.feed_page_json(CFG, biz, start)
    rows = [r for r in extract_page(url, body.encode(), 1, 0) if r["kind"] == "review"]
    return rows[idx]["review_hash"]


# task 0: hash on feed page start=60 → match in probe window 1, windows
#   2-4 (feed) and 2 (non-rec) must never be fetched
# task 3: hash that never matches → probe windows widen to exhaustion
#   (full pagination fetched, identical output to a full crawl)
# task 4: hash in window 0 AND first_page_only=1 → incremental overrides
#   fpo (main.go:563-571), stops after window 0
LAST_HASHES = {
    0: [feed_hash(0, 60)],
    3: ["0123456789abcdef0123456789abcdef"],
    4: [feed_hash(4, 20)],
}


def _seeds(spark, last_hashes=None):
    pages = sw.generate_pages_df(spark, CFG, n_partitions=4)
    return resolve_profile_keys(sw.seeds_df(spark, CFG, last_hashes), pages)


def _engine(spark, store):
    pages = sw.generate_pages_df(spark, CFG, n_partitions=4)
    return CrawlEngine(
        spark, pages, sw.robots_df(spark, CFG), store,
        CrawlConfig(fail_attempts_col=lambda: sw.fail_attempts_col(CFG)),
    )


@pytest.fixture(scope="module")
def runs(spark):
    """One incremental engine+model run and one full-crawl model run."""
    base = tempfile.mkdtemp(prefix="crawl-g3-")
    store = SnapshotStore(spark, base)
    eng = _engine(spark, store)
    eng.run(_seeds(spark, LAST_HASHES))
    m_inc = ModelCrawl(CFG, last_hashes=LAST_HASHES).run()
    m_full = ModelCrawl(CFG).run()
    yield eng, store, m_inc, m_full
    shutil.rmtree(base, ignore_errors=True)


def _engine_log(store):
    return sorted(
        tuple(r)
        for r in store.read_appended("fetch_log")
        .select("wave_id", "host", "url", "depth", "seq", "attempt", "status")
        .collect()
    )


def test_incremental_engine_matches_model_exactly(runs):
    _eng, store, m_inc, _mf = runs
    assert _engine_log(store) == sorted(m_inc["fetch_log"])


def test_incremental_frontier_matches_model(runs):
    _eng, store, m_inc, _mf = runs
    ef = {
        r["url"]: (r["state"], r["attempt"])
        for r in store.read_snapshot_table(store.latest_wave(), "frontier").collect()
    }
    mf = {u: (r["state"], r["attempt"]) for u, r in m_inc["frontier"].items()}
    assert ef == mf


def test_fetches_strictly_fewer_than_full_crawl(runs):
    _eng, _store, m_inc, m_full = runs
    inc_urls = {t[2] for t in m_inc["fetch_log"]}
    full_urls = {t[2] for t in m_full["fetch_log"]}
    # fpo task 4 crawls MORE pages incrementally (fpo is overridden) but
    # the window-1 matcher task 0 saves far more: strict subset per task 0
    biz0_inc = {u for u in inc_urls if "the-spot-0" in u or sw.business_id(CFG, 0) in u}
    biz0_full = {u for u in full_urls if "the-spot-0" in u or sw.business_id(CFG, 0) in u}
    assert biz0_inc < biz0_full
    # no feed/non-rec page beyond window 1 was ever fetched for task 0
    for u in biz0_inc:
        m = __import__("re").search(r"[?&](?:not_recommended_)?start=(\d+)", u)
        if m:
            assert int(m.group(1)) < 100, u


def test_window1_fully_probed_before_stop(runs):
    """The reference fetches the whole 50-window before checking hashes
    (wg.Wait, main.go:620-626): all of task 0's window-0 AND window-1
    pages must be in the log even though the hash sits at start=60."""
    _eng, _store, m_inc, _mf = runs
    inc_urls = {t[2] for t in m_inc["fetch_log"]}
    for start in range(0, 100, 10):
        assert sw.feed_url(CFG, 0, start) in inc_urls
    nc = sw.nonrec_count(CFG, 0)
    for start in range(0, min(100, nc), 10):
        assert sw.nonrec_page_url(CFG, 0, start) in inc_urls


def test_never_matching_hash_probes_to_exhaustion(runs):
    """Task 3's hash never matches → every pagination page is fetched
    (same pages as a full crawl would fetch for it)."""
    _eng, _store, m_inc, m_full = runs
    bid = sw.business_id(CFG, 3)
    inc3 = {t[2] for t in m_inc["fetch_log"] if bid in t[2]}
    full3 = {t[2] for t in m_full["fetch_log"] if bid in t[2]}
    assert inc3 == full3


def test_incremental_overrides_first_page_only(runs):
    """Task 4 has fpo=1; with hashes present the reference takes the
    hash branch (else-if, main.go:563-571) → window 0 is 5 pages, not
    1, then stops on the window-0 hash match."""
    _eng, _store, m_inc, _mf = runs
    rc = sw.review_count(CFG, 4)
    inc_urls = {t[2] for t in m_inc["fetch_log"]}
    for start in range(0, min(50, rc), 10):
        assert sw.feed_url(CFG, 4, start) in inc_urls
    assert sw.feed_url(CFG, 4, 50) not in inc_urls  # stopped after w0


def test_final_output_contract_vs_full_crawl(spark, runs):
    """End-to-end output contract, exactly as the reference behaves
    (main.go:615-641 + 950-960): the incremental output is the
    truncated-full-crawl output MINUS reviews on pagination pages the
    probe never reached — the reference stops fetching the moment a
    window's wg.Wait passes with a hash match, so an unprobed non-rec
    page's newer-than-cut reviews are missed by it too. Hence:
    (a) incremental ⊆ truncate(full);
    (b) equality for tasks probed to exhaustion (task 3);
    (c) a strictly-smaller row count where the cut fired (task 0)."""
    eng, _store, _mi, _mf = runs
    base = tempfile.mkdtemp(prefix="crawl-g3full-")
    try:
        store_f = SnapshotStore(spark, base)
        eng_f = _engine(spark, store_f)
        eng_f.run(_seeds(spark))
        inc_hashes = {k: tuple(v) for k, v in LAST_HASHES.items()}
        expect = truncate_per_task(
            store_f.read_appended("extracted"), inc_hashes
        )
        got = eng.final_extracted()
        cols = ["review_hash", "arrival_idx", "url"]
        got_rows = set(map(tuple, got.select(*cols).collect()))
        exp_rows = set(map(tuple, expect.select(*cols).collect()))
        str100 = 10_000_000 * 100

        def per_task(rows, tk):
            return {r for r in rows if r[1] // str100 == tk}

        # (a) holds per task for fpo=0 tasks; task 4 has fpo=1, which a
        # full crawl honors but incremental mode overrides (so the
        # incremental run legitimately extracts MORE for task 4)
        assert per_task(got_rows, 0) <= per_task(exp_rows, 0)
        assert per_task(got_rows, 3) <= per_task(exp_rows, 3)
        assert per_task(got_rows, 3) == per_task(exp_rows, 3)  # (b)
        n_inc0 = len(per_task(got_rows, 0))
        n_full0 = (
            store_f.read_appended("extracted")
            .filter(F.floor(F.col("arrival_idx") / str100) == 0)
            .count()
        )
        assert 0 < n_inc0 < n_full0  # (c)
        # and the incremental output is internally cut-consistent:
        # no row at/after the first seen hash in W1 order
        got_hashes = {r[0] for r in per_task(got_rows, 0)}
        assert LAST_HASHES[0][0] not in got_hashes
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_scale_mode_combined_equivalence(spark, runs):
    """checkpoint_every batching under incremental seeds must still
    reproduce the model's exact fetch log."""
    _eng, _store, m_inc, _mf = runs
    base = tempfile.mkdtemp(prefix="crawl-g3scale-")
    try:
        store = SnapshotStore(spark, base)
        pages = sw.generate_pages_df(spark, CFG, n_partitions=4)
        eng = CrawlEngine(
            spark, pages, sw.robots_df(spark, CFG), store,
            CrawlConfig(
                fail_attempts_col=lambda: sw.fail_attempts_col(CFG),
                checkpoint_every=3,
            ),
        )
        eng.run(_seeds(spark, LAST_HASHES))
        assert _engine_log(store) == sorted(m_inc["fetch_log"])
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_snapshot_tables_run_no_python_rdd(spark, tmp_path):
    """Every table a commit writes (the frontier, the wave deltas, the
    metrics, the cookie jar and the incremental state) runs without a
    PythonRDD: the driver-built ones are Arrow local relations, so no
    commit starts a Python worker to unpickle them."""
    store = SnapshotStore(spark, str(tmp_path))
    lineages = {}
    commit = store.commit

    def checked_commit(wave_id, tables):
        for name, df in tables.items():
            lineages[wave_id, name] = df._jdf.queryExecution().toRdd().toDebugString()
        return commit(wave_id, tables)

    store.commit = checked_commit
    pages = sw.generate_pages_df(spark, CFG, n_partitions=4)
    CrawlEngine(
        spark, pages, sw.robots_df(spark, CFG), store,
        CrawlConfig(fail_attempts_col=lambda: sw.fail_attempts_col(CFG),
                    cookies=True, max_supersteps=2),
    ).run(_seeds(spark, LAST_HASHES))
    assert {name for _w, name in lineages} >= {
        "frontier", "fetch_log", "metrics", "cookies", "inc_hashes", "inc_state"}
    assert sorted(k for k, s in lineages.items() if "PythonRDD" in s) == []


def test_cli_incremental_truncates_jsonl(tmp_path):
    """CLI smoke (S1/S2 + G3 wiring in jobs/crawl.py): a task with a
    seeded last_review_hash produces strictly fewer JSONL lines than
    the same task without, meta carries real histogram values, and the
    status reflects the cut (main.go:309-315, 953-956)."""
    import base64
    import json
    import subprocess
    import sys

    cfg = sw.WebConfig(n_biz=3)
    url = sw.feed_url(cfg, 0, 0)
    body, _t = sw.feed_page_json(cfg, 0, 0)
    rows = [r for r in extract_page(url, body.encode(), 1, 0) if r["kind"] == "review"]
    seen_hash = rows[0]["review_hash"]

    def run_cli(tag, hashes):
        task = {
            "task_id": 0,
            "profile_key": sw.profile_url(cfg, 0),
            "business_name": sw.business_name(cfg, 0),
            "address": {},
            "last_review_hashes": hashes,
        }
        payload = base64.standard_b64encode(json.dumps([task]).encode()).decode()
        out = str(tmp_path / tag)
        env = dict(os.environ, PYTHONPATH=ROOT)
        subprocess.run(
            [sys.executable, "jobs/crawl.py", "-a", payload, "-o", out,
             "--n-biz", "3"],
            check=True, cwd=ROOT, capture_output=True, timeout=600,
            env=env,
        )
        import glob

        lines = []
        for p in glob.glob(out + "/part-*"):
            with open(p) as f:
                lines += [ln for ln in f if ln.strip()]
        with open(out + "-meta.json") as f:
            meta = json.load(f)
        return lines, meta

    full_lines, full_meta = run_cli("full", [])
    inc_lines, inc_meta = run_cli("inc", [seen_hash])
    assert len(inc_lines) < len(full_lines)
    assert set(inc_lines) <= set(full_lines)
    assert inc_meta["scraping_status"] in (
        "SUCCESS_SCRAPED", "NO_REVIEWS_SINCE_LAST_MATCH"
    )
    if not inc_lines:
        assert inc_meta["scraping_status"] == "NO_REVIEWS_SINCE_LAST_MATCH"
    # histogram carry (main.go:962-982): score from ld+json, total =
    # greatest(reviewCount, items)
    assert full_meta["histogram"]["primary"]["score"] == sw.agg_score(cfg, 0)
    assert full_meta["histogram"]["primary"]["total_revews"] >= sw.review_count(cfg, 0)
    assert inc_meta["item_scraped_count"] == len(inc_lines)


def test_incremental_resume_mid_probe(spark, runs):
    """Kill after wave 2 (inc_state committed with the snapshot) →
    resume → identical fetch log (the probe schedule continues where
    it left off)."""
    _eng, _full_store, m_inc, _mf = runs
    base = tempfile.mkdtemp(prefix="crawl-g3resume-")
    try:
        store = SnapshotStore(spark, base)
        eng = _engine(spark, store)
        eng.seed(_seeds(spark, LAST_HASHES))
        eng.run_superstep(1)
        eng.run_superstep(2)
        eng.flush_commits()  # the kill happens after the commit lands
        eng2 = _engine(spark, store)  # fresh engine: state from snapshot
        eng2.run()
        assert _engine_log(store) == sorted(m_inc["fetch_log"])
    finally:
        shutil.rmtree(base, ignore_errors=True)
