"""Crawl-order + seen-set equivalence (SURVEY.md §5.2-2) and
resume-idempotence (§5.2-4): the Spark engine must reproduce the
pure-Python reference model's exact fetch log and final state, and a
killed run must resume without re-fetching or double-counting."""

import json
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from go_scrapper_spark.functions.extract import extract_page
from go_scrapper_spark.plans.crawl import CrawlConfig, CrawlEngine
from go_scrapper_spark.plans.reference_model import ModelCrawl
from go_scrapper_spark.plans.search import resolve_profile_keys
from go_scrapper_spark.sources import synthetic_web as sw
from go_scrapper_spark.sources.storage import SnapshotStore

CFG = sw.WebConfig(n_biz=8)


def _seeds(spark):
    """Seeds with the empty-profile_key tasks resolved through the
    search→match phase (§3.2) first."""
    pages = sw.generate_pages_df(spark, CFG, n_partitions=4)
    return resolve_profile_keys(sw.seeds_df(spark, CFG), pages)


def _engine(spark, store):
    pages = sw.generate_pages_df(spark, CFG, n_partitions=4)
    robots = sw.robots_df(spark, CFG)
    # native failure expression in the engine vs the pure-Python twin in
    # the model — the equivalence tests cross-validate the two
    return CrawlEngine(
        spark, pages, robots, store,
        CrawlConfig(fail_attempts_col=lambda: sw.fail_attempts_col(CFG)),
    )


@pytest.fixture(scope="module")
def run(spark):
    base = tempfile.mkdtemp(prefix="crawl-eq-")
    store = SnapshotStore(spark, base)
    eng = _engine(spark, store)
    total = eng.run(_seeds(spark))
    model = ModelCrawl(CFG)
    m = model.run()
    yield eng, store, total, m
    shutil.rmtree(base, ignore_errors=True)


def _engine_log(store):
    return sorted(
        tuple(r)
        for r in store.read_appended("fetch_log")
        .select("wave_id", "host", "url", "depth", "seq", "attempt", "status")
        .collect()
    )


def test_fetch_log_matches_model_exactly(run):
    _eng, store, _total, m = run
    assert _engine_log(store) == sorted(m["fetch_log"])


def test_final_frontier_state_matches_model(run):
    _eng, store, _total, m = run
    ef = {
        r["url"]: (r["state"], r["attempt"])
        for r in store.read_snapshot_table(store.latest_wave(), "frontier").collect()
    }
    mf = {u: (r["state"], r["attempt"]) for u, r in m["frontier"].items()}
    assert ef == mf


def test_snapshots_commit_only_read_state(run):
    """Snapshot 0 holds the seeded frontier alone; every wave snapshot
    holds the frontier and the wave's delta tables, nothing else. The
    frontier is the only URL-seen set, so no separate seen table or
    bucket column is written."""
    _eng, store, _total, _m = run
    waves = store.committed_waves()
    assert waves[0] == 0 and len(waves) > 1
    for wave in waves:
        with open(store._manifest_path(wave)) as f:
            tables = set(json.load(f)["tables"])
        assert tables == ({"frontier"} if wave == 0 else {
            "frontier", "fetch_log", "extracted", "pagetext", "pagemeta", "metrics",
        }), wave
        assert "host_bucket" not in store.read_snapshot_table(wave, "frontier").columns


def test_no_url_fetched_twice_at_same_attempt(run):
    """Exactly-once per (url, attempt): the retry ledger semantics
    (main.go:1079-1099) with no double-fetch across waves."""
    _eng, store, _total, _m = run
    log = store.read_appended("fetch_log")
    dup = log.groupBy("url", "attempt").count().filter(F.col("count") > 1)
    assert dup.count() == 0


def test_politeness_budget_respected(run):
    """A5: per (wave, host) fetch count ≤ k_host (10 with the
    reference's own delay/parallelism config)."""
    _eng, store, _total, _m = run
    over = (
        store.read_appended("fetch_log")
        .groupBy("wave_id", "host")
        .agg(F.countDistinct("url").alias("n_urls"))
        .filter(F.col("n_urls") > 10)
    )
    assert over.count() == 0


def test_robots_never_violated(run):
    """S9: no /private/ URL is ever fetched."""
    _eng, store, _total, _m = run
    bad = store.read_appended("fetch_log").filter(F.col("url").contains("/private/"))
    assert bad.count() == 0


def test_extracted_text_byte_identical(run):
    """BASELINE.json invariant: extracted page text == pages.text."""
    _eng, store, _total, _m = run
    pages = sw.generate_pages_df(run[0].spark, CFG, n_partitions=4)
    pt = store.read_appended("pagetext").select("url", F.col("text").alias("got"))
    bad = pt.join(pages.select("url", "text"), "url").filter(F.col("got") != F.col("text"))
    assert bad.count() == 0


def test_checkpoint_interval_preserves_semantics(spark, run):
    """checkpoint_every=3 (localCheckpoint between commits) must yield
    the identical fetch log and final frontier."""
    _eng, _store, _total, m = run
    base = tempfile.mkdtemp(prefix="crawl-ckpt-")
    try:
        store = SnapshotStore(spark, base)
        pages = sw.generate_pages_df(spark, CFG, n_partitions=4)
        eng = CrawlEngine(
            spark, pages, sw.robots_df(spark, CFG), store,
            CrawlConfig(fail_attempts_col=lambda: sw.fail_attempts_col(CFG),
                        checkpoint_every=3),
        )
        eng.run(_seeds(spark))
        assert _engine_log(store) == sorted(m["fetch_log"])
        ef = {
            r["url"]: (r["state"], r["attempt"])
            for r in store.read_snapshot_table(store.latest_wave(), "frontier").collect()
        }
        mf = {u: (r["state"], r["attempt"]) for u, r in m["frontier"].items()}
        assert ef == mf
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_compaction_mid_crawl_preserves_resume(spark, run):
    """Compact a mid-crawl store (2 waves committed) into one snapshot,
    resume a FRESH engine from the compacted copy: byte-identical final
    fetch log and frontier vs the model — compaction is invisible to
    engine semantics, it only collapses the file layout."""
    _eng, _store, _total, m = run
    base = tempfile.mkdtemp(prefix="crawl-precompact-")
    cbase = tempfile.mkdtemp(prefix="crawl-compacted-") + "/store"
    try:
        store = SnapshotStore(spark, base)
        eng = _engine(spark, store)
        eng.seed(_seeds(spark))
        eng.run_superstep(1)
        eng.run_superstep(2)
        eng.flush_commits()  # the kill happens after the commit lands
        assert len(store.committed_waves()) == 3  # seed + 2 waves
        compacted = store.compact(cbase)
        assert compacted.committed_waves() == [2]  # one snapshot, same wave id
        import glob

        n_before = len(glob.glob(base + "/snap-*/*/*.parquet"))
        n_after = len(glob.glob(cbase + "/snap-*/*/*.parquet"))
        assert n_after < n_before  # the point of compaction
        eng2 = _engine(spark, compacted)
        eng2.run()
        assert _engine_log(compacted) == sorted(m["fetch_log"])
        ef = {
            r["url"]: (r["state"], r["attempt"])
            for r in compacted.read_snapshot_table(
                compacted.latest_wave(), "frontier"
            ).collect()
        }
        mf = {u: (r["state"], r["attempt"]) for u, r in m["frontier"].items()}
        assert ef == mf
    finally:
        shutil.rmtree(base, ignore_errors=True)
        shutil.rmtree(cbase, ignore_errors=True)


def test_resume_after_kill_is_identical(spark, run):
    """Kill after wave 2 → resume → byte-identical final fetch log and
    frontier (wave-id-stamped idempotent commits, SURVEY.md §4.2-5)."""
    _eng, full_store, _total, m = run
    base = tempfile.mkdtemp(prefix="crawl-resume-")
    try:
        store = SnapshotStore(spark, base)
        eng = _engine(spark, store)
        eng.seed(_seeds(spark))
        eng.run_superstep(1)
        eng.run_superstep(2)
        eng.flush_commits()  # the kill happens after the commit lands
        # simulate a crash mid-superstep 3: parquet written, no manifest
        import os

        os.makedirs(os.path.join(base, "snap-00003"), exist_ok=True)
        with open(os.path.join(base, "snap-00003", "orphan.parquet"), "w") as f:
            f.write("garbage")
        assert store.latest_wave() == 2
        # resume with a fresh engine instance
        eng2 = _engine(spark, store)
        eng2.run()
        assert _engine_log(store) == sorted(m["fetch_log"])
        ef = {
            r["url"]: (r["state"], r["attempt"])
            for r in store.read_snapshot_table(store.latest_wave(), "frontier").collect()
        }
        mf = {u: (r["state"], r["attempt"]) for u, r in m["frontier"].items()}
        assert ef == mf
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_cookie_carry_matches_model(spark, run):
    """S10/cookie fidelity (collyfunc.go:48,99-101,161-163): with
    cfg.cookies on, every request attaches the per-host jar left by the
    previous wave and the last successful response per host rewrites
    it. The engine's fetch log (including the cookie column) must match
    the pure-Python model exactly — across a mid-crawl kill + resume,
    so the jar provably rides the snapshot."""
    base = tempfile.mkdtemp(prefix="crawl-cookie-")
    try:
        store = SnapshotStore(spark, base)
        pages = sw.generate_pages_df(spark, CFG, n_partitions=4)
        robots = sw.robots_df(spark, CFG)

        def engine(max_supersteps=1000):
            return CrawlEngine(
                spark, pages, robots, store,
                CrawlConfig(
                    fail_attempts_col=lambda: sw.fail_attempts_col(CFG),
                    cookies=True,
                    max_supersteps=max_supersteps,
                ),
            )

        # run two waves, "die", resume with a fresh engine instance
        eng = engine(max_supersteps=2)
        eng.run(_seeds(spark))
        assert store.latest_wave() == 2
        engine().run()

        model = ModelCrawl(CFG, cookies=True)
        m = model.run()
        got = sorted(
            tuple(r)
            for r in store.read_appended("fetch_log")
            .select("wave_id", "host", "url", "depth", "seq", "attempt",
                    "status", "cookie")
            .collect()
        )
        assert got == sorted(m["fetch_log"])
        # wave 1 must have attached an EMPTY jar, later waves a real one
        w1 = [r for r in got if r[0] == 1]
        assert w1 and all(r[7] is None for r in w1)
        later = [r for r in got if r[0] > 1 and r[6] == 200]
        assert later and any(r[7] is not None for r in later)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_skewed_corpus_matches_model_and_cap_bounds_hot_host(spark):
    """skew_head_frac (the bench's deliberately-skewed web: half of all
    businesses pinned to host0) must not disturb crawl-order
    equivalence, and the politeness cap must bound the hot host's rows
    per wave exactly like any other host's."""
    cfg = sw.WebConfig(n_biz=12, skew_head_frac=0.5)
    base = tempfile.mkdtemp(prefix="crawl-skew-")
    try:
        store = SnapshotStore(spark, base)
        pages = sw.generate_pages_df(spark, cfg, n_partitions=4)
        eng = CrawlEngine(
            spark, pages, sw.robots_df(spark, cfg), store,
            CrawlConfig(fail_attempts_col=lambda: sw.fail_attempts_col(cfg)),
        )
        eng.run(resolve_profile_keys(sw.seeds_df(spark, cfg), pages))
        m = ModelCrawl(cfg).run()
        assert _engine_log(store) == sorted(m["fetch_log"])
        # the pinned host really is the head…
        hosts = [sw.host_of_biz(cfg, b) for b in range(cfg.n_biz)]
        assert hosts.count("www.host0.example") >= cfg.n_biz // 2
        # …and the per-(wave, host) budget still holds on it
        over = (
            store.read_appended("fetch_log")
            .groupBy("wave_id", "host")
            .agg(F.countDistinct("url").alias("n_urls"))
            .filter(F.col("n_urls") > 10)
        )
        assert over.count() == 0
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_default_fetch_path_matches_model(spark):
    """CrawlConfig() with no failure injection: the fetch stage's
    constant-0 failure column must reproduce the model on a web where
    flaky_mod=10**9 leaves no URL flaky."""
    cfg = sw.WebConfig(n_biz=8, flaky_mod=10**9)
    base = tempfile.mkdtemp(prefix="crawl-default-")
    try:
        store = SnapshotStore(spark, base)
        pages = sw.generate_pages_df(spark, cfg, n_partitions=4)
        eng = CrawlEngine(
            spark, pages, sw.robots_df(spark, cfg), store, CrawlConfig()
        )
        eng.run(resolve_profile_keys(sw.seeds_df(spark, cfg), pages))
        m = ModelCrawl(cfg).run()
        assert _engine_log(store) == sorted(m["fetch_log"])
        ef = {
            r["url"]: (r["state"], r["attempt"])
            for r in store.read_snapshot_table(store.latest_wave(), "frontier").collect()
        }
        mf = {u: (r["state"], r["attempt"]) for u, r in m["frontier"].items()}
        assert ef == mf
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_duplicate_robots_rows_rejected_before_seed(spark, tmp_path):
    """A robots table from outside the program with two rows for one
    host would fan out the budget and policy joins (every fetch logged
    twice); the engine refuses it, naming the host, before it seeds or
    commits anything."""
    robots = sw.robots_df(spark, CFG)
    twice = robots.unionByName(
        robots.filter(F.col("host") == "www.host0.example"))
    store = SnapshotStore(spark, str(tmp_path))
    pages = sw.generate_pages_df(spark, CFG, n_partitions=4)
    with pytest.raises(ValueError, match=r"www\.host0\.example"):
        CrawlEngine(spark, pages, twice, store, CrawlConfig())
    assert store.latest_wave() is None


def test_cookie_jar_rides_maintenance_snapshot(spark, tmp_path):
    """A fresh engine that resumes with a maintenance op before any
    wave commits the cookie jar with the edited frontier: every
    snapshot's manifest lists `cookies`, and the crawl that follows
    attaches the same jars as the model (the maintenance snapshot
    shifts later waves' ids by one, so wave_id is left out)."""
    store = SnapshotStore(spark, str(tmp_path))
    pages = sw.generate_pages_df(spark, CFG, n_partitions=4)
    robots = sw.robots_df(spark, CFG)

    def engine(max_supersteps=1000):
        return CrawlEngine(
            spark, pages, robots, store,
            CrawlConfig(
                fail_attempts_col=lambda: sw.fail_attempts_col(CFG),
                cookies=True,
                max_supersteps=max_supersteps,
            ),
        )

    engine(max_supersteps=2).run(_seeds(spark))
    eng = engine()
    assert eng.refresh_urls(spark.createDataFrame([], "url string")) == 0
    eng.run()

    got = sorted(
        tuple(r)
        for r in store.read_appended("fetch_log")
        .select("host", "url", "depth", "seq", "attempt", "status", "cookie")
        .collect()
    )
    m = ModelCrawl(CFG, cookies=True).run()
    assert got == sorted(row[1:] for row in m["fetch_log"])
    for wave in store.committed_waves():
        with open(store._manifest_path(wave)) as f:
            assert "cookies" in json.load(f)["tables"], wave


def _check_metrics_table(store, total):
    """Every wave's committed counters equal the same aggregates of
    the tables committed with it, and run()'s totals sum them."""
    got: dict[int, dict[str, int]] = {}
    for r in store.read_appended("metrics").collect():
        got.setdefault(r["wave_id"], {})[r["metric"]] = r["value"]
    log = {
        r["wave_id"]: (r["attempted"], r["fetched"], r["bytes"])
        for r in store.read_appended("fetch_log")
        .groupBy("wave_id")
        .agg(
            F.count("*").alias("attempted"),
            F.count(F.when(F.col("status") == 200, 1)).alias("fetched"),
            F.sum("n_bytes").alias("bytes"),
        )
        .collect()
    }
    reviews = dict(store.read_appended("extracted").groupBy("wave_id").count().collect())
    # discovered: the wave's growth in committed frontier rows (every
    # wave commits and no maintenance step runs in these crawls)
    sizes = {w: store.read_snapshot_table(w, "frontier").count()
             for w in store.committed_waves()}
    # outlinks: the outlink rows extract_page returns for each page a
    # wave fetched, from the synthetic web's bodies and the fpo flag of
    # the committed frontier
    bodies = {u: body for biz in range(CFG.n_biz)
              for u, _ts, body, _text, _lang in sw.pages_for_biz(CFG, biz)}
    fpo = dict(store.read_latest("frontier").select("url", "fpo").collect())
    outlinks: dict[int, int] = {}
    for r in store.read_appended("fetch_log").filter(F.col("status") == 200).collect():
        rows = extract_page(r["url"], bodies[r["url"]], r["depth"], r["seq"], fpo[r["url"]])
        outlinks[r["wave_id"]] = (outlinks.get(r["wave_id"], 0)
                                  + sum(row["kind"] == "outlink" for row in rows))
    assert sorted(got) == list(range(1, total["supersteps"] + 1))
    for wave, m in got.items():
        assert set(m) == {"attempted", "fetched", "bytes", "reviews",
                          "outlinks", "discovered"}, wave
        assert (m["attempted"], m["fetched"], m["bytes"]) == log.get(wave, (0, 0, 0)), wave
        assert m["reviews"] == reviews.get(wave, 0), wave
        assert m["outlinks"] == outlinks.get(wave, 0), wave
        assert m["discovered"] == sizes[wave] - sizes[wave - 1], wave
    for k in ("attempted", "fetched", "bytes", "reviews"):
        assert total[k] == sum(m[k] for m in got.values()), k
    assert total["fetched"] > 0 and total["reviews"] > 0
    assert sum(outlinks.values()) > 0


@pytest.mark.parametrize("metrics", [True, False])
def test_metrics_table_matches_committed_tables(spark, run, tmp_path, metrics):
    """cfg.metrics is accepted and ignored: both settings commit the
    real per-wave counters."""
    if metrics:
        _eng, store, total, _m = run
    else:
        store = SnapshotStore(spark, str(tmp_path))
        pages = sw.generate_pages_df(spark, CFG, n_partitions=4)
        total = CrawlEngine(
            spark, pages, sw.robots_df(spark, CFG), store,
            CrawlConfig(fail_attempts_col=lambda: sw.fail_attempts_col(CFG),
                        metrics=False),
        ).run(_seeds(spark))
    _check_metrics_table(store, total)


def test_default_commit_writes_one_file_per_table(run):
    """Under the default config every snapshot manifest lists exactly
    one parquet file per table."""
    _eng, store, _total, _m = run
    for wave in store.committed_waves():
        with open(store._manifest_path(wave)) as f:
            files = json.load(f)["files"]
        assert files and all(len(fs) == 1 for fs in files.values()), (wave, files)


@pytest.mark.parametrize("write_partitions,page_bytes,n_files", [
    (3, 0, 3), (3, 40 << 26, 3),
    (None, 0, 1), (None, 3 << 26, 4), (None, 40 << 26, 8),
])
def test_commit_file_count(spark, tmp_path, write_partitions, page_bytes, n_files):
    """write_partitions fixes the files per table; by default a commit
    writes one per 64 MiB of page bytes its waves fetched, at least 1
    and at most 8."""
    store = SnapshotStore(spark, str(tmp_path))
    eng = CrawlEngine(spark, None, sw.robots_df(spark, CFG), store,
                      CrawlConfig(write_partitions=write_partitions))
    eng._commit(1, {"t": spark.range(0, 64, 1, numPartitions=16)}, page_bytes)
    with open(store._manifest_path(1)) as f:
        assert len(json.load(f)["files"]["t"]) == n_files
    assert store.read_snapshot_table(1, "t").count() == 64
