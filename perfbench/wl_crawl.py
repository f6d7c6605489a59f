"""crawl_polite: CrawlEngine supersteps over the synthetic web.

A hot head host (``skew_head_frac``) holds about half the pages, the
per-host budget k_host is small, and every wave is checkpointed with
the async commit. The hot host's pages ÷ k_host sets the wave count,
so set-up picks, per seed, the smallest k_host at which the reference
model crawls in POLITE_WAVES waves: every seed runs the same number of
small waves, and in some wave the hot host fills its budget.
"""

from __future__ import annotations

import os
import time
from collections import Counter
from contextlib import nullcontext

from pyspark.sql import functions as F

from go_scrapper_spark.functions.extract import extract_pages
from go_scrapper_spark.operators.politeness import apply_robots
from go_scrapper_spark.operators.wave import host_budget, select_wave
from go_scrapper_spark.plans.crawl import CrawlConfig, CrawlEngine
from go_scrapper_spark.plans.search import resolve_profile_keys
from go_scrapper_spark.sources import synthetic_web as sw
from go_scrapper_spark.sources.storage import SnapshotStore
from children import Child
import oracle_probe
from stats import digest

WINDOW_MS = 2_000_000
POLITE_WEB = dict(n_biz=80, n_hosts=12, max_reviews=60, max_nonrec=20,
                  crawl_delay_ms=1, text_words=12, skew_head_frac=0.3)
POLITE_WAVES = 4
# the operators_hot queries probed in the traced run: robots.txt
# parsing, link rank, and the window and aggregation shapes of wave
# selection and rate accounting
ORACLE_QUERIES = ("s9_robots_policy", "link_rank", "w3_topk_per_group",
                  "a1_pricing_summary")
LOG_COLS = ("wave_id", "host", "url", "depth", "seq", "attempt", "status")


def model_log(web: dict) -> list:
    from go_scrapper_spark.plans.reference_model import ModelCrawl

    return ModelCrawl(sw.WebConfig(**web), window_ms=WINDOW_MS).run()["fetch_log"]


def polite_budget(web: dict, waves: int, hot_pages: int) -> tuple[dict, list]:
    """The smallest max_parallel (= k_host, the window allows more) at
    which the reference model crawls ``web`` in at most ``waves``
    waves; returns the config and its model fetch log. The hot host's
    pages ÷ waves is a lower bound (retried fetches need more), so the
    search doubles from there, then bisects."""
    def crawl(k):
        log = model_log({**web, "max_parallel": k})
        return max(r[0] for r in log) <= waves, log

    lo = -(-hot_pages // waves)  # every k below lo fails
    hi = lo
    ok, log = crawl(hi)
    while not ok:
        if hi >= hot_pages:
            raise RuntimeError(f"no per-host budget crawls in {waves} waves")
        lo, hi = hi + 1, min(2 * hi, hot_pages)
        ok, log = crawl(hi)
    best = (hi, log)
    while lo < best[0]:
        k = (lo + best[0]) // 2
        ok, log = crawl(k)
        if ok:
            best = (k, log)
        else:
            lo = k + 1
    return {**web, "max_parallel": best[0]}, best[1]


def build_inputs(web: dict, pages_path: str) -> dict:
    """Write the synthetic web's pages table (the budget does not
    change it) and search the budget with the reference model; returns
    the web config and the expected fetch-log digest. Runs in a child
    process while the JVM starts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cfg = sw.WebConfig(**web)
    rows = [r for b in range(cfg.n_biz) for r in sw.pages_for_biz(cfg, b)]
    cols = list(zip(*rows))
    os.makedirs(pages_path)
    pq.write_table(pa.table({
        "url": pa.array(cols[0], pa.string()),
        "warc_ts": pa.array([t * 1_000_000 for t in cols[1]], pa.timestamp("us", "UTC")),
        "html": pa.array(cols[2], pa.binary()),
        "text": pa.array(cols[3], pa.string()),
        "lang": pa.array(cols[4], pa.string()),
    }), os.path.join(pages_path, "pages.parquet"))
    hot = Counter(u.split("/")[2] for u in cols[0]).most_common(1)[0][1]
    web, log = polite_budget(web, POLITE_WAVES, hot)
    return {"web": web, "digest": digest(log), "attempts": len(log)}


def fetch_log_errors(log, expected: dict, k_host: int) -> tuple[list[str], int]:
    """Check a crawl's fetch log (rows of LOG_COLS) against the
    reference model's digest and the politeness budget. Returns the
    errors and the most distinct URLs one host put into one wave."""
    errs = []
    if digest(log) != expected["digest"]:
        errs.append(f"fetch log ({len(log)} attempts) differs from the "
                    f"reference model ({expected['attempts']})")
    per_wave_host = Counter((w, h) for w, h, _u in {r[:3] for r in log})
    worst = max(per_wave_host.values(), default=0)
    if worst > k_host:
        errs.append(f"{worst} urls of one host in one wave > k_host={k_host}")
    return errs, worst


def release(spark) -> None:
    """Drop every cached block a pass left behind: the engine's
    persisted inputs, wave caches and frontier checkpoints."""
    spark.catalog.clearCache()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(rdds.keys()):
        rdds[rid].unpersist(True)


class CrawlWorkload:
    name = "crawl_polite"
    pass_span = "crawl"
    layer = "plans.crawl"

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.pages_path = os.path.join(work, "inputs", "pages")
        self._inputs = None
        self.expected = self.cfg = None

    # ------------------------------------------------------------ setup

    def begin_setup(self) -> None:
        self._inputs = Child(self.work, "wl_crawl", "build_inputs",
                             {**POLITE_WEB, "seed": self.seed}, self.pages_path)

    def setup(self, spark) -> None:
        self.expected = self._inputs.result()
        self.cfg = sw.WebConfig(**self.expected["web"])
        self.k_host = min(self.cfg.max_parallel, WINDOW_MS // self.cfg.crawl_delay_ms)
        self.pages = spark.read.parquet(self.pages_path)

    def close(self) -> None:
        if self._inputs is not None:
            self._inputs.close()

    def units(self, res: dict) -> int:
        return res["fetched"]

    # ------------------------------------------------------------- pass

    def run_pass(self, spark, tag: str, meter=None, tracer=None,
                 store=None) -> dict:
        span = tracer.span if tracer else (lambda _name: nullcontext())
        store = store or SnapshotStore(spark, os.path.join(self.work, f"store-{tag}"))
        cfg = self.cfg
        engine = CrawlEngine(
            spark, self.pages, sw.robots_df(spark, cfg), store,
            CrawlConfig(fail_attempts_col=lambda: sw.fail_attempts_col(cfg),
                        window_ms=WINDOW_MS, checkpoint_every=1),
        )
        # loading and url-partitioning the input pages is input I/O, not
        # crawl work (bench.py pre-warms the same cache before timing)
        engine.pages.count()
        seeds = resolve_profile_keys(sw.seeds_df(spark, cfg), self.pages)
        if meter:
            meter.start()
        waves, stats = [], []
        t0 = time.time()
        with span("crawl"):
            with span("seed"):
                engine.seed(seeds)
            for wave_id in range(1, engine.cfg.max_supersteps + 1):
                tw = time.time()
                with span(f"wave-{wave_id}"):
                    st = engine.run_superstep(wave_id)
                waves.append(time.time() - tw)
                stats.append(st)
                if st["attempted"] == 0:
                    break
            with span("flush"):
                engine.flush_commits()
        wall = time.time() - t0
        return {
            "store": store, "wall_s": wall, "steps_s": waves,
            "cpu_s": meter.stop() if meter else None,
            "fetched": sum(s["fetched"] for s in stats),
            "phases": [s.get("phase_secs", {}) for s in stats],
        }

    # ------------------------------------------------------------ check

    def check(self, spark, res: dict) -> list[str]:
        """Fetch log equal to the reference model's, politeness budget
        kept, and every extracted page text byte-identical to
        pages.text."""
        store = res["store"]
        log = [tuple(r) for r in
               store.read_appended("fetch_log").select(*LOG_COLS).collect()]
        errs, res["max_host_rows"] = fetch_log_errors(log, self.expected, self.k_host)
        pt = store.read_appended("pagetext")
        if pt is None:
            return errs + ["no pagetext written"]
        bad = (
            pt.select("url", F.col("text").alias("got"))
            .join(self.pages.select("url", "text"), "url", "left")
            .filter(~F.col("got").eqNullSafe(F.col("text")))
            .count()
        )
        if bad:
            errs.append(f"{bad} pagetext rows differ from pages.text")
        return errs

    def finish(self, spark, res: dict | None) -> None:
        if res is not None:
            res["store"].destroy()
        release(spark)

    # ------------------------------------------------------------ trace

    def trace_pass(self, spark, tracer, counter) -> dict:
        """One pass with the store's commit wrapped and py4j calls
        counted."""
        store = SnapshotStore(spark, os.path.join(self.work, "store-traced"))
        commits: list[tuple[float, dict]] = []
        commit = store.commit

        def timed_commit(*args, **kwargs):
            t = time.time()
            manifest = commit(*args, **kwargs)
            commits.append((time.time() - t, manifest))
            return manifest

        store.commit = timed_commit
        with counter:
            res = self.run_pass(spark, "traced", tracer=tracer, store=store)
        res["commits"] = commits
        res["py4j_calls"] = counter.calls
        return res

    def layers(self, spark, res: dict, tracer) -> dict:
        """Per-layer numbers of the traced pass plus the isolated
        operator probes over its outputs."""
        store = res["store"]
        phases = Counter()
        for ph in res["phases"]:
            phases.update(ph)
        nbytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _dirs, fs in os.walk(store.base_dir)
            for f in fs if f.endswith(".parquet")
        )
        m = {r["metric"]: r["v"] for r in store.read_appended("metrics")
             .groupBy("metric").agg(F.sum("value").alias("v")).collect()}
        out = {
            "plans.crawl.plan_s": phases["plan"],
            "plans.crawl.ckpt_s": phases["ckpt"],
            "plans.crawl.metrics_s": phases["metrics"],
            "plans.crawl.commit_wait_s": phases["commit_wait"],
            "plans.crawl.waves": len(res["steps_s"]),
            "plans.crawl.py4j_calls": res["py4j_calls"],
            "plans.crawl.new_url_frac": m["discovered"] / max(m["outlinks"], 1),
            "operators.wave.max_host_rows": res["max_host_rows"],
            "sources.storage.commit_s": sum(t for t, _m in res["commits"]),
            "sources.storage.commits": len(res["commits"]),
            "sources.storage.bytes_written": nbytes,
            "sources.storage.files_written": sum(
                len(names) for _t, man in res["commits"]
                for names in man["files"].values()),
        }
        out.update(self._probes(spark, store, tracer))
        # operators_hot layers that no pass runs
        out.update(oracle_probe.layers(spark, tracer, self.seed, self.work,
                                       ORACLE_QUERIES))
        release(spark)
        return out

    def _probes(self, spark, store, tracer) -> dict:
        """extract_pages, apply_robots and select_wave, each timed as
        one action over inputs materialized beforehand: the crawl's
        fetched pages, their outlinks, and its final URL set."""
        frontier = store.read_snapshot_table(store.latest_wave(), "frontier")
        robots = sw.robots_df(spark, self.cfg).persist()
        fetched = (
            frontier.filter(F.col("state") == "fetched")
            .select("url", "depth", "seq", "fpo")
            .join(self.pages.select("url", "html"), "url")
            .persist()
        )
        n_in = fetched.count()
        with tracer.span("probe.functions.extract") as sp:
            ext = extract_pages(fetched).persist()
            rows_out = ext.count()
        extract_s = sp["end"] - sp["start"]
        cands = (
            ext.filter(F.col("kind") == "outlink")
            .select(F.col("out_url").alias("url"))
            .withColumn("host", F.lower(F.parse_url("url", F.lit("HOST"))))
            .persist()
        )
        n_cands = cands.count()
        with tracer.span("probe.operators.politeness") as sp:
            kept = apply_robots(cands, robots).count()
        robots_s = sp["end"] - sp["start"]
        pending = (
            frontier.withColumn("state", F.lit("pending"))
            .withColumn("attempt", F.lit(0)).persist()
        )
        pending.count()
        budgets = host_budget(robots, WINDOW_MS)
        with tracer.span("probe.operators.wave") as sp:
            select_wave(pending, budgets).count()
        select_s = sp["end"] - sp["start"]
        release(spark)
        return {
            "functions.extract.s": extract_s,
            "functions.extract.pages_per_s": n_in / extract_s,
            "functions.extract.rows_out": rows_out,
            "operators.politeness.apply_robots_s": robots_s,
            "operators.politeness.kept_frac": kept / max(n_cands, 1),
            "operators.wave.select_s": select_s,
        }

