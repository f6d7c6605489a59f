"""The batch frontier scheduler — superstep crawl loop (SURVEY.md §3.3, §7).

Each superstep (wave) is one declarative Spark plan:

    pending frontier
      → per-host top-k wave selection (W3, politeness budget A5)
      → fetch join against the pages table (J4 — the synthetic web;
        a real deployment swaps this stage for an HTTP mapInPandas)
      → vectorized extraction, one html read per page (P-series, §2.10)
      → review finishing (hash P18 already applied; b64 P12 JVM-side)
      → outlink candidates: robots filter (S9/J5) → in-wave dedup (U2)
        → anti-join vs the frontier, the exact URL-seen set (J3)
      → frontier merge + fetch_log/extracted/pagetext/pagemeta/metrics
        deltas
      → snapshot commit (atomic; resume-idempotent via wave_id stamps)

The loop itself is plain driver Python — deterministic and resumable
from the last committed snapshot. Each wave's frontier is an eager
local checkpoint kept in memory for the next wave (lineage truncated,
no iterative-plan blowup); every snapshot also holds it, with the rest
of the full state, for a fresh engine to load.

Scale design (10^10 frontier): the frontier is partitioned by host
(Iceberg ``bucket(P, host)``), the key wave selection windows over;
the robots/budget joins broadcast, the fetch join is
storage-partitioned on url, AQE handles residual skew. The
frontier merge here is a full rewrite against the parquet-snapshot
backend; on Iceberg it becomes MERGE INTO (merge-on-read) with
identical semantics.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_scrapper_spark.functions.extract import extract_pages
from go_scrapper_spark.functions.urltools import canonicalize_udf
from go_scrapper_spark.operators.dedupe import local_checkpoint_no_stats
from go_scrapper_spark.operators.politeness import apply_robots
from go_scrapper_spark.operators.wave import host_budget, select_wave
from go_scrapper_spark.schemas import INC_HASHES_SCHEMA, INC_STATE_SCHEMA
from go_scrapper_spark.session import local_table
from go_scrapper_spark.sources.storage import SnapshotStore

RUN_TS = 1700000000  # single run-level scrape timestamp (P11 determinism)

SEED_SEQ_STRIDE = 10_000_000  # seq space per task; outlink offsets nest inside


@dataclass
class CrawlConfig:
    max_attempts: int = 5  # 5 total fetch attempts per url (main.go:1079-1099)
    window_ms: int = 30_000  # superstep politeness window (A5)
    default_k: int = 10  # colly Parallelism fallback (collyfunc.go:179)
    max_supersteps: int = 1000
    # transient-failure injection: a zero-arg callable returning a
    # JVM-native Column (url column -> int) of leading attempts that
    # fail; None means no injected failures
    fail_attempts_col: object = None
    # accepted and ignored: every wave counts through the one aggregate
    # action in run_superstep (callers that still pass it keep working)
    metrics: bool = True
    # small-file control for the parquet-snapshot backend: files per
    # table per commit. None sizes it from the page bytes the committed
    # waves fetched (_commit); bench.py fixes 32 for its large waves. At
    # cluster scale Iceberg target-file-size compaction replaces it.
    write_partitions: int | None = None
    # checkpoint interval: commit a resumable snapshot every K waves.
    # Intermediate waves keep the frontier as an eager localCheckpoint
    # (lineage truncated, no table commit) and accumulate deltas in
    # memory — identical semantics (a resume recomputes the uncommitted
    # waves deterministically), K× fewer commit round-trips.
    checkpoint_every: int = 1
    # cross-request cookie carry (S10 fidelity; reference
    # collyfunc.go:48,99-101,161-163): the reference keeps ONE global
    # []*http.Cookie that every response overwrites with its host's jar
    # and every subsequent request attaches — cross-host and racy under
    # its own async collector. The engine models the sane determinized
    # form: a per-HOST cookie-state table, wave-atomic (all of wave w
    # attaches the state left by wave w-1; the lexicographically-last
    # successful response per host in a wave writes that host's next
    # value). The pure-Python model implements the identical rule, and
    # fetch-log equivalence with cookies on is the test. Off by default:
    # fetch_log then keeps its original schema byte-for-byte.
    cookies: bool = False
    # live-fetch seam (S3/S4): when set, the fetch stage runs
    # operators/transport.fetch_with_transport instead of the
    # pages-table join — everything downstream (status routing, retry
    # ledger, extraction, cookie carry) is identical between the two
    # paths. Factory must be picklable; one client per partition.
    transport_factory: object = None


def _host_col(url_col):
    return F.lower(F.parse_url(url_col, F.lit("HOST")))


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages_df: DataFrame | None,
        robots_df: DataFrame,
        store: SnapshotStore,
        config: CrawlConfig | None = None,
    ):
        self.spark = spark
        self.cfg = config or CrawlConfig()
        # the budget and policy joins key on host: a second row for one
        # host would fan out every wave's fetch log and frontier, so an
        # outside robots table is rejected before anything is seeded
        self.robots = robots_df.persist()
        dup_hosts = sorted(
            (r["host"] for r in
             self.robots.groupBy("host").count().filter("count > 1").collect()),
            key=str,
        )
        if dup_hosts:
            self.robots.unpersist()
            raise ValueError(
                f"robots table has more than one row for host(s) {dup_hosts}"
            )
        # pages are immutable for the whole run: hash-partition them by the
        # join key ONCE and persist — every wave's fetch join then reuses
        # this partitioning and only shuffles the (politeness-capped) wave
        # side. This is the local analogue of the Iceberg bucket(url) /
        # storage-partitioned-join design (SURVEY.md §4.2-3): the pages
        # table is never re-shuffled per superstep.
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        # pages_df may be None when cfg.transport_factory supplies the
        # fetch stage (live-crawl mode: there is no pages table)
        self.pages = (
            pages_df.select("url", "html").repartition(n_part, "url").persist()
            if pages_df is not None
            else None
        )
        self.store = store
        self.budgets = host_budget(robots_df, self.cfg.window_ms, self.cfg.default_k)
        # Carried full state: every snapshot commits it (_carried_tables)
        # and a fresh engine loads it once (_load_state); seed() fills
        # it on a fresh run. False until one of the two has run.
        self._state_loaded = False
        # the live frontier: an eager checkpoint kept in memory between
        # waves (the parquet read of the latest snapshot right after a
        # resume)
        self._frontier_cache: DataFrame | None = None
        # per-host cookie state (cfg.cookies): (host, cookie) table,
        # O(hosts), eagerly checkpointed per wave like the frontier.
        self._cookie_df: DataFrame | None = None
        # G3 incremental-crawl state (main.go:563-654): per-task
        # last_review_hashes and probe-window scheduler state. Both are
        # O(task list) — the same driver-side scale as the reference's
        # CLI payload — so a resumed run continues the probe schedule
        # deterministically.
        self._inc_hashes: dict[int, tuple[str, ...]] = {}
        self._inc_state: dict[int, dict] = {}
        # superseded checkpoints of the current checkpoint window (see
        # _supersede): the window's lazily-persisted wave subtrees root
        # their lineage at these frames, so they stay alive (spillable
        # MEMORY_AND_DISK blocks) until the post-commit free step —
        # freeing them eagerly would truncate the recompute path of any
        # evicted persist block
        self._superseded: list[DataFrame] = []
        self._pending_deltas: dict[str, list[DataFrame]] = {}
        self._pending_metrics: list[tuple] = []
        # persisted wave subtrees awaiting the next snapshot commit
        self._pending_mats: list[DataFrame] = []
        self._last_commit_wait: float = 0.0
        # in-flight snapshot commit, overlapped with the next wave's
        # planning: the commit's parquet-encoding jobs run from a
        # background driver thread (Spark's scheduler is thread-safe).
        # At most ONE — submitting the next commit joins this future
        # first, and run() joins it before returning, so the store is
        # always consistent when control leaves the engine
        self._commit_future = None
        self._commit_pool = None

    def _join_commit(self) -> None:
        """Wait for the in-flight async commit (if any); re-raises its
        exception so a failed commit fails the run loudly."""
        fut, self._commit_future = self._commit_future, None
        if fut is not None:
            fut.result()

    def flush_commits(self) -> None:
        """Public barrier for callers that drive ``run_superstep``
        directly (run() joins automatically): returns once every
        submitted snapshot commit is durable on disk. A kill BEFORE
        this point may lose the in-flight commit — the resume contract
        then replays from the previous manifest, exactly like a kill
        mid-commit always did."""
        self._join_commit()

    # ------------------------------------------------------------------ seeds

    def seed(self, seeds_df: DataFrame) -> None:
        """Snapshot 0 = the seeded frontier (profile URLs, depth 0).
        seq = task_seq * stride reproduces the reference's
        one-task-at-a-time issue order within each host.

        Tasks with last_review_hashes enter incremental (G3) mode:
        their hashes are collected driver-side (the task list is the
        CLI payload — O(config), not O(data)) and FirstPageOnly is
        ignored for them, mirroring the reference's else-if priority
        (main.go:563-571)."""
        # seeds are read twice (incremental-hash collect + frontier
        # build); without the persist the whole upstream pipeline — for
        # search-resolved seeds that is the search fetch join plus the
        # candidate extraction — evaluates twice
        seeds_df = seeds_df.persist()
        # filter server-side: only incremental tasks reach the driver
        # (a 10^5-task batch with no hashes collects ZERO rows, not all)
        inc_hashes = {
            int(r["seq"]): tuple(r["last_review_hashes"])
            for r in seeds_df.select("seq", "last_review_hashes")
            .filter(
                F.size(F.coalesce(F.col("last_review_hashes"), F.array())) > 0
            )
            .collect()
        }
        inc_keys = list(inc_hashes)
        fpo_col = F.coalesce(F.col("first_page_only"), F.lit(0))
        if inc_keys:
            fpo_col = F.when(F.col("seq").cast("long").isin(inc_keys), F.lit(0)).otherwise(fpo_col)
        frontier = (
            seeds_df.filter(F.col("profile_key").isNotNull() & (F.col("profile_key") != ""))
            .select(
                canonicalize_udf(F.col("profile_key")).alias("url"),
                (F.col("seq").cast("long") * SEED_SEQ_STRIDE).alias("seq"),
                fpo_col.alias("fpo"),
            )
            .select(
                "url",
                F.xxhash64("url").alias("url_hash"),
                _host_col(F.col("url")).alias("host"),
                F.lit(0).alias("depth"),
                "seq",
                "fpo",
                F.lit(0).alias("attempt"),
                F.lit("pending").alias("state"),
                F.lit(0).cast("long").alias("wave_id"),
                F.lit(None).cast("int").alias("probe_window"),
            )
            .dropDuplicates(["url"])
        )
        # mirror the wave path: eager-checkpoint the seeded frontier,
        # keep it as the in-memory frontier for wave 1, and commit
        # snapshot 0 in the background — wave 1's planning overlaps the
        # seed commit instead of waiting on it, and never re-reads the
        # snapshot it is derived from. (run() / flush_commits() joins
        # before anything reads the store.)
        self._fill_state(local_checkpoint_no_stats(frontier), lambda _name: None)
        self._inc_hashes = inc_hashes
        self._inc_state = {
            tk: {"unlocked": 0, "done": False, "started": False,
                 "hit": False, "n_reviews": 0}
            for tk in inc_hashes
        }
        self._submit_commit(0, self._carried_tables())
        seeds_df.unpersist()

    # ------------------------------------------------------- carried state
    #
    # The full state a fresh engine needs to resume: the frontier, the
    # cookie jar (cookies) and the incremental tables (a run with
    # incremental tasks). Every snapshot commits all of it; a fresh
    # engine loads it once.

    def _load_state(self) -> None:
        """Fill the carried state from the latest committed snapshot,
        once per engine (seed() fills it itself on a fresh run)."""
        if self._state_loaded:
            return
        frontier = self.store.read_latest("frontier")
        if frontier is None:
            raise ValueError("no committed snapshot: seed the crawl first")
        self._fill_state(frontier, self.store.read_latest)

    def _fill_state(self, frontier: DataFrame, read) -> None:
        """Set the live frontier and every carried table from
        ``read(name)`` — a frame, or None when the snapshot lacks it.
        A missing table takes its fresh-start value: the cookie jar and
        the incremental state start empty."""
        cfg = self.cfg
        self._state_loaded = True
        self._frontier_cache = frontier
        if cfg.cookies:
            jar = read("cookies")
            if jar is None:
                jar = local_table(self.spark, [], "host string, cookie string")
            self._cookie_df = local_checkpoint_no_stats(jar)
        self._inc_hashes, self._inc_state = {}, {}
        hashes = read("inc_hashes")
        if hashes is None:
            return
        for r in hashes.collect():
            self._inc_hashes.setdefault(int(r["task_key"]), []).append(r["review_hash"])
        self._inc_hashes = {k: tuple(v) for k, v in self._inc_hashes.items()}
        for r in read("inc_state").collect():
            self._inc_state[int(r["task_key"])] = {
                "unlocked": int(r["unlocked"]), "done": bool(r["done"]),
                "started": bool(r["started"]), "hit": bool(r["hit"]),
                "n_reviews": int(r["n_reviews"]),
            }

    def _carried_tables(self) -> dict:
        """The full-state tables every snapshot commits."""
        tables = {"frontier": self._frontier_cache}
        if self.cfg.cookies:
            tables["cookies"] = self._cookie_df
        if self._inc_hashes:
            tables["inc_hashes"] = self._inc_hashes_df()
            tables["inc_state"] = local_table(
                self.spark,
                [(tk, st["unlocked"], st["done"], st["started"], st["hit"],
                  st["n_reviews"])
                 for tk, st in self._inc_state.items()],
                INC_STATE_SCHEMA,
            )
        return tables

    def _inc_hashes_df(self) -> DataFrame:
        """(task_key, review_hash): every incremental task's
        last_review_hashes, one row each."""
        return local_table(
            self.spark,
            [(tk, h) for tk, hs in self._inc_hashes.items() for h in hs],
            INC_HASHES_SCHEMA,
        )

    def _supersede(self, old: DataFrame, new: DataFrame) -> DataFrame:
        """Eager checkpoint of ``new``, the replacement of the live
        frame ``old``. ``old`` is not freed here: this window's pending
        persists recompute through it on eviction and an in-flight
        commit may still be writing it, so it waits for the next
        commit's free step."""
        self._superseded.append(old)
        return local_checkpoint_no_stats(new)

    # --------------------------------------------------------------- superstep

    def run_superstep(self, wave_id: int) -> dict:
        """One wave. Returns the wave's counts (attempted, fetched,
        bytes, reviews, outlinks, discovered); 'attempted' == 0 means
        the frontier has drained and run() stops. stats['phase_secs']
        carries the wave's driver-side phase breakdown (plan build /
        checkpoint / metrics / commit)."""
        cfg = self.cfg
        _phases: dict = {}
        _pt = [time.time()]

        def _ph(name: str) -> None:
            now = time.time()
            _phases[name] = round(now - _pt[0], 2)
            _pt[0] = now
        self._load_state()
        frontier = self._frontier_cache
        pending = frontier.filter(
            (F.col("state") == "pending") & (F.col("attempt") < cfg.max_attempts)
        )
        if self._inc_state:
            # G3 probe-window admission (main.go:607-654): a pagination
            # row of an incremental task is schedulable only while its
            # window is unlocked and the task hasn't matched a seen
            # hash. The state table is O(tasks) → broadcast join.
            sdf = local_table(
                self.spark,
                [(tk, st["unlocked"], st["done"])
                 for tk, st in self._inc_state.items()],
                "task_key long, unlocked int, done boolean",
            )
            pending = (
                pending.withColumn(
                    "_tk", F.floor(F.col("seq") / SEED_SEQ_STRIDE).cast("long")
                )
                .join(F.broadcast(sdf), F.col("_tk") == sdf.task_key, "left")
                .filter(
                    F.col("probe_window").isNull()
                    | (
                        ~F.coalesce(F.col("done"), F.lit(False))
                        & (F.col("probe_window") <= F.coalesce("unlocked", F.lit(0)))
                    )
                )
                .drop("task_key", "unlocked", "done", "_tk")
            )

        wave = select_wave(pending, self.budgets, cfg.default_k)

        # Fetch with IN-WAVE retries, mirroring the reference's immediate
        # r.Request.Retry() loop (main.go:333-354, 1079-1099): a URL's
        # transient failures and its eventual success/exhaustion all
        # happen inside the politeness slot that dequeued it. fa = the
        # number of leading attempts that fail transiently.
        max_a = F.lit(cfg.max_attempts)
        if cfg.transport_factory is not None:
            from go_scrapper_spark.operators.transport import fetch_with_transport

            fetch_base = fetch_with_transport(
                wave, cfg.transport_factory, cfg.max_attempts
            )
        else:
            # shuffle_hash: pages is pre-partitioned on url (zero
            # exchange on that side, the storage-partitioned-join
            # analogue) and the wave side shuffles its politeness-capped
            # rows. Without the hint AQE broadcasts the wave side —
            # a serial driver build of up to ~10^5 rows per wave.
            fetch_base = wave.join(
                self.pages.hint("shuffle_hash"), "url", "left"
            ).withColumn(
                "_fa",
                cfg.fail_attempts_col()
                if cfg.fail_attempts_col is not None
                else F.lit(0),
            )
        fetched = (
            fetch_base
            .withColumn(
                "_succ",
                F.col("html").isNotNull()
                & (F.col("_fa") < max_a - F.col("attempt")),
            )
            .withColumn(
                "_n_attempts",
                F.when(F.col("_succ"), F.col("_fa") + 1 - F.col("attempt"))
                .otherwise(max_a - F.col("attempt")),
            )
            .persist()
        )

        from go_scrapper_spark.functions.ua import ua_col

        # The wave's heavy subtrees are LAZY persists: the fetch join
        # (above), the extraction union and the candidate rows.
        # Everything downstream — the per-attempt log, deltas, stats,
        # the frontier merge — is a lazy projection over them. The
        # frontier checkpoint fills all three caches along one lineage;
        # the wave's one stats action reads them warm (eager checkpoints
        # here would be sequential job launches — the per-wave fixed
        # cost that dominates crawl wall time at sandbox payload; each
        # cache filled by a later action costs it one more job).
        # Persisted frames stay cached until the next snapshot commit
        # writes them, so the fetch cache holds the page bodies of up to
        # checkpoint_every waves. Recompute-on-eviction is deterministic
        # BECAUSE every checkpoint they root in lives until the
        # post-commit free step (_supersede). The window is still only as
        # fault-tolerant as localCheckpoint itself: fine in local mode,
        # while on a cluster an executor loss inside a window loses
        # checkpoint blocks and the run restarts from the last snapshot
        # (which is exactly what the snapshot store is for).

        # one log row per ATTEMPT (the reference logs each retry):
        # attempt index i gets 503 while transient, then 200/404
        att_i = F.col("_att")
        log_src = fetched
        ck_cols: list = []
        if cfg.cookies:
            # every request of this wave attaches the PRE-wave per-host
            # jar (the state update below happens after this plan is
            # built, and plans capture their input frames)
            log_src = fetched.join(
                F.broadcast(self._cookie_df), "host", "left"
            )
            ck_cols = ["cookie"]
        fetch_log = (
            log_src.select(
                F.lit(wave_id).cast("long").alias("wave_id"),
                "host", "url", "depth", "seq", "html", "_fa", *ck_cols,
                F.explode(
                    F.sequence(
                        F.col("attempt"),
                        F.col("attempt") + F.col("_n_attempts") - 1,
                    )
                ).alias("_att"),
            )
            .select(
                "wave_id", "host", "url", "depth", "seq",
                att_i.alias("attempt"),
                F.when(att_i < F.col("_fa"), F.lit(503))
                .when(F.col("html").isNotNull(), F.lit(200))
                .otherwise(F.lit(404))
                .alias("status"),
                ua_col(F.col("url"), att_i).alias("ua"),
                F.when(
                    (att_i >= F.col("_fa")) & F.col("html").isNotNull(),
                    F.length("html"),
                ).otherwise(F.lit(0)).cast("long").alias("n_bytes"),
                *ck_cols,
            )
        )
        ok = fetched.filter(F.col("_succ"))
        union = extract_pages(ok).persist()
        self._pending_mats += [fetched, union]

        reviews = self._finish_reviews(union.filter(F.col("kind") == "review"), wave_id)
        pagetexts = union.filter(F.col("kind") == "pagetext").select(
            F.lit(wave_id).cast("long").alias("wave_id"), "url", "text"
        )
        pagemeta = union.filter(F.col("kind") == "pagemeta").select(
            F.lit(wave_id).cast("long").alias("wave_id"), "url",
            "business_id", "review_count", "non_rec_count", "agg_score",
        )

        new_rows = self._new_frontier_rows(union, frontier, wave_id).persist()
        self._pending_mats.append(new_rows)

        if cfg.cookies:
            # per-host jar update: the lexicographically-LAST successful
            # response of the wave per host (max (depth, seq, url) — the
            # wave's within-host issue order) writes the host's next
            # cookie, a deterministic digest of that final URL (the
            # model computes the identical rule). O(hosts) state, eager
            # checkpoint like the frontier; this wave's pending
            # fetch_log plan still reads the superseded jar.
            from pyspark.sql import Window

            w_last = Window.partitionBy("host").orderBy(
                F.col("depth").desc(), F.col("seq").desc(), F.col("url").desc()
            )
            last = (
                ok.select("host", "depth", "seq", "url")
                .withColumn("_rn", F.row_number().over(w_last))
                .filter(F.col("_rn") == 1)
                .select(
                    "host",
                    F.substring(
                        F.md5(F.concat(F.lit("ck-"), F.col("url")).cast("binary")),
                        1, 8,
                    ).alias("cookie"),
                )
            )
            self._cookie_df = self._supersede(
                self._cookie_df,
                self._cookie_df.alias("o")
                .join(last.alias("n"), "host", "full")
                .select(
                    "host",
                    F.coalesce(F.col("n.cookie"), F.col("o.cookie")).alias("cookie"),
                ),
            )

        # frontier merge (MERGE INTO on Iceberg; full-rewrite on parquet
        # store). With in-wave retries a dequeued URL always terminates:
        # fetched on success, failed after the 5-attempt budget.
        upd = fetched.select(
            "url",
            F.when(F.col("_succ"), F.lit("fetched"))
            .otherwise(F.lit("failed"))
            .alias("_new_state"),
            (F.col("attempt") + F.col("_n_attempts")).alias("_new_attempt"),
        )
        frontier_next = (
            frontier.join(upd, "url", "left")
            .select(
                "url", "url_hash", "host", "depth", "seq", "fpo",
                F.coalesce("_new_attempt", "attempt").alias("attempt"),
                F.coalesce("_new_state", "state").alias("state"),
                F.when(F.col("_new_state").isNotNull(), F.lit(wave_id).cast("long"))
                .otherwise(F.col("wave_id"))
                .alias("wave_id"),
                "probe_window",
            )
            .unionByName(new_rows)
        )

        # The frontier checkpoint runs FIRST: the heavy branch of
        # frontier_next is the new_rows → union → fetched lineage, so
        # one job fills those caches at full parallelism. A multi-branch
        # job over several still-uncached persists would race on
        # their cache-block locks — measured at 16c/n_biz=24k as
        # ~4x total executor-time inflation versus the 4-core run of the
        # SAME job. The checkpointed frontier stays in memory as the
        # next wave's input, so that wave never reads back the snapshot
        # the async commit is still writing.
        _ph("plan")
        new_frontier = self._frontier_cache = self._supersede(
            self._frontier_cache, frontier_next
        )
        _ph("ckpt")

        # the wave's counts, whatever cfg.metrics says: one aggregate
        # over a union of narrow projections of the three caches the
        # checkpoint just filled. A fetched row logs _n_attempts
        # attempts, one 200 with the page's bytes on success; a sum
        # over an empty wave is null.
        counts = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), [
            fetched.select(
                F.col("_n_attempts").alias("attempted"),
                F.col("_succ").cast("int").alias("fetched"),
                F.when(F.col("_succ"), F.length("html")).alias("bytes"),
            ),
            union.select(
                (F.col("kind") == "review").cast("int").alias("reviews"),
                (F.col("kind") == "outlink").cast("int").alias("outlinks"),
            ),
            new_rows.select(F.lit(1).alias("discovered")),
        ])
        row = counts.agg(*(F.sum(c).alias(c) for c in counts.columns)).collect()[0]
        stats = {"wave_id": wave_id, **{k: v or 0 for k, v in row.asDict().items()}}
        _ph("metrics")
        self._pending_metrics.extend(
            (wave_id, k, int(v)) for k, v in stats.items() if k != "wave_id"
        )

        # deltas are lazy projections over the wave's checkpointed frames —
        # writing them at commit time costs no recompute of heavy stages
        deltas = {
            "fetch_log": fetch_log,
            "extracted": reviews,
            "pagetext": pagetexts,
            "pagemeta": pagemeta,
        }
        for name, df in deltas.items():
            self._pending_deltas.setdefault(name, []).append(df)

        if self._inc_state:
            # G3 window-boundary bookkeeping, BEFORE the commit so the
            # snapshot carries the post-wave scheduler state
            self._update_inc_state(union, new_frontier)

        # commit a resumable snapshot every checkpoint_every waves, on
        # the last allowed wave, and on the wave that drains the frontier
        if (
            cfg.checkpoint_every <= 1
            or wave_id % cfg.checkpoint_every == 0
            or wave_id >= cfg.max_supersteps
            or stats["attempted"] == 0
        ):
            tables = {
                name: reduce(DataFrame.unionByName, dfs)
                for name, dfs in self._pending_deltas.items()
            }
            tables["metrics"] = local_table(
                self.spark, self._pending_metrics,
                "wave_id long, metric string, value long",
            )
            self._submit_commit(wave_id, {**tables, **self._carried_tables()})
            _phases["commit_wait"] = self._last_commit_wait
        _ph("commit")
        stats["phase_secs"] = _phases
        return stats

    def _submit_commit(self, wave_id: int, tables: dict) -> None:
        """Commit + cache-release, overlapped with the next wave. The
        pending state is snapshotted-and-swapped on the MAIN thread
        first, so the next wave accumulates into fresh lists while the
        background thread writes and frees only this window's frames.
        The live checkpoints are NOT freed — the next wave plans from
        them (and every table the commit writes roots in frames owned
        by this closure)."""
        from go_scrapper_spark.operators.dedupe import free_local_checkpoint

        page_bytes = sum(v for _w, k, v in self._pending_metrics if k == "bytes")
        mats_to_free = self._pending_mats
        hist_to_free = self._superseded
        self._pending_mats = []
        self._superseded = []
        self._pending_deltas = {}
        self._pending_metrics = []

        def _commit_and_free():
            self._commit(wave_id, tables, page_bytes)
            # the window's frames are on disk now — release caches
            for df in hist_to_free:
                free_local_checkpoint(df)
            for df in mats_to_free:
                df.unpersist()

        # strict commit ordering: wait for the previous in-flight
        # commit before starting this one (also re-raises its errors)
        _t_wait = time.time()
        self._join_commit()
        self._last_commit_wait = round(time.time() - _t_wait, 2)
        if self._commit_pool is None:
            from concurrent.futures import ThreadPoolExecutor

            self._commit_pool = ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="snapshot-commit"
            )
        self._commit_future = self._commit_pool.submit(_commit_and_free)

    # ------------------------------------------------------------------- run

    def run(self, seeds_df: DataFrame | None = None) -> dict:
        """Drive supersteps until the frontier drains. Resumes from the
        last committed snapshot if one exists (seeds_df ignored then)."""
        t0 = time.time()
        latest = self.store.latest_wave()
        if latest is None:
            assert seeds_df is not None, "fresh run needs seeds"
            self.seed(seeds_df)
            latest = 0
        total = {"supersteps": 0, "fetched": 0, "reviews": 0, "attempted": 0,
                 "bytes": 0, "wave_secs": [], "wave_phases": []}
        for wave_id in range(latest + 1, self.cfg.max_supersteps + 1):
            t_w = time.time()
            stats = self.run_superstep(wave_id)
            total["supersteps"] += 1
            total["wave_secs"].append(round(time.time() - t_w, 2))
            total["wave_phases"].append(stats.get("phase_secs", {}))
            for k in ("fetched", "reviews", "attempted", "bytes"):
                total[k] += stats[k]
            if stats["attempted"] == 0:
                break
        # the final wave's commit may still be encoding in the
        # background — the run is only DONE when it is on disk, and
        # callers read the store the moment run() returns
        self._join_commit()
        total["wall_sec"] = time.time() - t0
        return total

    # ----------------------------------------------------- recrawl / expiry
    #
    # The two maintenance primitives of an incremental crawler, both
    # committed as their own snapshot so a later run()/resume continues
    # from the edited state:
    #
    #   refresh_urls — re-fetch KNOWN pages in place (state→pending,
    #     attempt→0). Seen-membership is untouched: the page is
    #     re-fetched but its outlinks still dedup against the frontier.
    #
    #   expire_urls — FORGET pages: rows leave the frontier, the only
    #     seen set the candidate anti-join reads, so the next time any
    #     fetched page links to them they are re-admitted as fresh
    #     discoveries.

    def _current_frontier(self) -> DataFrame:
        # join any in-flight async superstep commit FIRST: latest_wave()
        # read before that commit lands would hand out the same wave id
        # to the maintenance snapshot and clobber the superstep's (a
        # caller driving run_superstep directly never passes through
        # flush_commits)
        self._join_commit()
        self._load_state()
        return self._frontier_cache

    def _maintenance_commit(self, frontier: DataFrame) -> int:
        """Commit an edited frontier with the carried state as snapshot
        latest+1 and make it the live frontier."""
        wave = self.store.latest_wave() + 1
        self._frontier_cache = self._supersede(self._frontier_cache, frontier)
        self._submit_commit(wave, self._carried_tables())
        self._join_commit()
        return wave

    def _target_hashes(self, urls_df: DataFrame) -> DataFrame:
        """(url_hash) keys for a caller's url column, canonicalized the
        same way the frontier keys were."""
        return (
            urls_df.select(canonicalize_udf(F.col("url")).alias("url"))
            .dropDuplicates(["url"])
            .select(F.xxhash64("url").alias("url_hash"))
        )

    def refresh_urls(self, urls_df: DataFrame) -> int:
        """Schedule known URLs for re-fetch; returns how many frontier
        rows were flipped back to pending."""
        frontier = self._current_frontier()
        targets = self._target_hashes(urls_df)
        n = frontier.join(targets, "url_hash", "left_semi").count()
        hit = F.col("_refresh").isNotNull()
        new_frontier = (
            frontier.join(
                targets.withColumn("_refresh", F.lit(True)),
                "url_hash",
                "left",
            )
            .withColumn(
                "state",
                F.when(hit, F.lit("pending")).otherwise(F.col("state")),
            )
            .withColumn(
                "attempt",
                F.when(hit, F.lit(0)).otherwise(F.col("attempt")),
            )
            .drop("_refresh")
        )
        self._maintenance_commit(new_frontier)
        return n

    def expire_urls(self, urls_df: DataFrame) -> int:
        """Forget URLs entirely; returns how many frontier rows were
        removed. Future discoveries of these URLs re-enter the crawl as
        if never seen."""
        frontier = self._current_frontier()
        targets = self._target_hashes(urls_df)
        n = frontier.join(targets, "url_hash", "left_semi").count()
        self._maintenance_commit(
            frontier.join(targets.hint("shuffle_hash"), "url_hash", "left_anti")
        )
        return n

    # --------------------------------------------------------------- helpers

    def _new_frontier_rows(
        self, union: DataFrame, frontier: DataFrame, wave_id: int
    ) -> DataFrame:
        cand = (
            union.filter(F.col("kind") == "outlink")
            .select(
                F.col("out_url").alias("url"),
                F.col("out_depth").alias("depth"),
                F.col("out_seq").alias("seq"),
                F.coalesce(F.col("out_fpo"), F.lit(0)).alias("fpo"),
            )
            .withColumn("host", _host_col(F.col("url")))
        )
        cand = apply_robots(cand, self.robots)
        # in-wave dedup: first discovery wins (min (depth, seq, fpo) per
        # url). The lexicographic key is PACKED into one BIGINT —
        # min(struct) forces a SortAggregate (sort per shuffle partition
        # + interpreted struct comparisons; profiled at ~90 s executor
        # time per 750k-outlink wave), while min(bigint) is a codegen'd
        # HashAggregate with map-side partial aggregation. Bounds that
        # make the packing exact: depth < 2^17, seq < 2^44 (task_seq
        # below ~1.76M at the 10^7 stride), fpo ∈ {0,1} — pack =
        # (depth·2^45 + seq)·2 + fpo < 2^63 preserves the exact order.
        # guard the packing bounds (round-5 ADVICE): a deeper crawl or
        # a larger seq stride must FAIL LOUDLY, never silently corrupt
        # the min-ordering (wrong canonical discovery). One codegen'd
        # branch per row; raise_error aborts the wave with the
        # offending values in the message.
        in_bounds = (
            (F.col("depth") >= 0) & (F.col("depth") < F.lit(1 << 17))
            & (F.col("seq") >= 0) & (F.col("seq") < F.lit(1 << 44))
            & F.col("fpo").isin(0, 1)
        )
        pack = F.when(
            in_bounds,
            (F.col("depth").cast("long") * F.lit(1 << 45)
             + F.col("seq")) * 2
            + F.col("fpo"),
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("frontier pack overflow: depth="),
                    F.col("depth").cast("string"),
                    F.lit(" seq="), F.col("seq").cast("string"),
                    F.lit(" fpo="), F.col("fpo").cast("string"),
                    F.lit(" (bounds: depth<2^17, seq<2^44, fpo in {0,1})"),
                )
            ).cast("long")
        )
        cand = (
            cand.groupBy("url", "host")
            .agg(F.min(pack).alias("_p"))
            .select(
                "url", "host",
                F.expr(f"(_p div 2) div {1 << 45}").cast("int").alias("depth"),
                (F.expr("_p div 2") % F.lit(1 << 45)).alias("seq"),
                (F.col("_p") % 2).cast("int").alias("fpo"),
            )
        )
        # cross-superstep dedup (exact J3): anti-join against the
        # frontier, which holds every URL ever admitted. shuffle_hash
        # hint, NOT broadcast: the frontier side is hundreds of
        # thousands of URLs within a wave and 10^10 at the design scale
        # — AQE happily broadcasts anything under the 64 MB threshold,
        # and that broadcast BUILD is a single-threaded driver collect
        # measured at 13-28 s per wave (the dominant serial term in the
        # 4c→16c scaling gap). A shuffled hash anti-join is fully
        # parallel on both sides and is the only shape that survives
        # the design scale. A URL-seen filter in front of it would not
        # remove that shuffle (PLANS.md, "Seen check").
        cand = cand.join(
            frontier.select("url").hint("shuffle_hash"), "url", "left_anti"
        )
        return cand.select(
            "url",
            F.xxhash64("url").alias("url_hash"),
            "host", "depth", "seq", "fpo",
            F.lit(0).alias("attempt"),
            F.lit("pending").alias("state"),
            F.lit(wave_id).cast("long").alias("wave_id"),
            self._probe_window_col().alias("probe_window"),
        )

    # ------------------------------------------------- incremental (G3)

    def _probe_window_col(self):
        """Probe-window tag for discovered URLs (main.go:563-654):
        incremental tasks' pagination pages get floor(start/50); the
        non-rec bootstrap page gets the -1 barrier sentinel (always
        admissible, holds the window boundary closed until fetched —
        the reference's wg.Wait covers it); everything else NULL.
        All JVM-side expressions — no Python in the candidate path."""
        inc_keys = list(self._inc_hashes)
        if not inc_keys:
            return F.lit(None).cast("int")
        is_inc = F.floor(F.col("seq") / SEED_SEQ_STRIDE).cast("long").isin(inc_keys)
        start_s = F.regexp_extract(
            F.col("url"), r"[?&](?:not_recommended_)?start=(\d+)", 1
        )
        is_pag = F.col("url").contains("/review_feed?") | F.col("url").contains(
            "not_recommended_start="
        )
        is_root = F.col("url").contains("/not_recommended_reviews/") & ~F.col(
            "url"
        ).contains("not_recommended_start=")
        return (
            F.when(
                is_inc & is_pag & (start_s != ""),
                F.floor(start_s.cast("long") / 50).cast("int"),
            )
            .when(is_inc & is_root, F.lit(-1))
            .otherwise(F.lit(None).cast("int"))
        )

    def _update_inc_state(self, union: DataFrame, frontier_next: DataFrame) -> None:
        """Per-task window-boundary bookkeeping (main.go:615-641):
        accumulate this wave's review counts and seen-hash hits, then —
        once a task has no admissible pagination left pending (the
        boundary, = the reference's wg.Wait between widenings) — stop
        if a hash matched or no reviews were collected, else unlock the
        next probe window. Two O(tasks)-row collects per wave, only in
        incremental runs."""
        str100 = SEED_SEQ_STRIDE * 100
        hdf = self._inc_hashes_df().withColumn("_hit", F.lit(1))
        rev = union.filter(F.col("kind") == "review").select(
            F.floor(F.col("arrival_idx") / str100).cast("long").alias("task_key"),
            "review_hash",
        )
        for r in (
            rev.join(F.broadcast(hdf), ["task_key", "review_hash"], "left")
            .groupBy("task_key")
            .agg(
                F.count("*").alias("n"),
                F.max(F.coalesce("_hit", F.lit(0))).alias("hit"),
            )
            .collect()
        ):
            st = self._inc_state.get(int(r["task_key"]))
            if st is not None:
                st["n_reviews"] += int(r["n"])
                st["hit"] = st["hit"] or bool(r["hit"])
        mp = {
            int(r["task_key"]): int(r["mp"])
            for r in (
                frontier_next.filter(
                    (F.col("state") == "pending")
                    & (F.col("attempt") < self.cfg.max_attempts)
                    & F.col("probe_window").isNotNull()
                )
                .groupBy(
                    F.floor(F.col("seq") / SEED_SEQ_STRIDE)
                    .cast("long")
                    .alias("task_key")
                )
                .agg(F.min("probe_window").alias("mp"))
                .collect()
            )
        }
        for tk, st in self._inc_state.items():
            if st["done"]:
                continue
            m = mp.get(tk)
            if m is not None:
                st["started"] = True
            if not st["started"]:
                continue  # profile not extracted yet — no schedule to gate
            if m is not None and m <= st["unlocked"]:
                continue  # window still in flight — not at the boundary
            # boundary: all admitted pagination terminal (wg.Wait passed)
            if st["n_reviews"] == 0 or st["hit"] or m is None:
                # no reviews at all (main.go:616 len(reviews)==0), a
                # seen hash matched (main.go:950-960), or pagination
                # exhausted — stop scheduling this task's windows
                st["done"] = True
            else:
                st["unlocked"] = m  # widen to the next 50-window

    def _finish_reviews(self, reviews: DataFrame, wave_id: int) -> DataFrame:
        """b64 field encoding (P12, main.go:1064-1077) — JVM-side
        base64 over utf8 bytes; empty fields pass through (Go only
        encodes non-empty). review_hash was computed pre-b64 in the
        extractor (hash-then-encode order, main.go:985-987)."""

        def b64(col):
            return F.when(
                F.length(col) > 0, F.base64(F.col(col).cast("binary"))
            ).otherwise(F.col(col))

        return reviews.select(
            "url",
            "parent_id", "review_id", "author_id",
            b64("author_name").alias("author_name"),
            b64("text").alias("text"),
            "rating", "source_date",
            F.unix_timestamp(
                F.to_timestamp("source_date", "M/d/yyyy")
            ).alias("posted_at"),
            F.lit(RUN_TS).cast("long").alias("scraped_at"),
            "not_recommended", "photos",
            F.transform(
                "responses",
                lambda r: F.struct(
                    F.when(F.length(r["author_name"]) > 0,
                           F.base64(r["author_name"].cast("binary")))
                    .otherwise(r["author_name"]).alias("author_name"),
                    F.when(F.length(r["text"]) > 0,
                           F.base64(r["text"].cast("binary")))
                    .otherwise(r["text"]).alias("text"),
                    r["posted_at"].alias("posted_at"),
                ),
            ).alias("responses"),
            "review_hash",
            "arrival_idx",
            F.lit(wave_id).cast("long").alias("wave_id"),
        )

    def ordered_extracted(self) -> DataFrame | None:
        """Final result ordering (W1): date-desc, with the reference's
        arrival-order tiebreak made explicit and deterministic
        (wave, page seq, index-in-page; main.go:984-1007). The order
        contract lives in operators/incremental.order_cols — the same
        list the incremental cut uses, so they cannot desynchronize."""
        from go_scrapper_spark.operators.incremental import order_cols

        df = self.store.read_appended("extracted")
        if df is None:
            return None
        return df.orderBy(*order_cols())

    def final_extracted(self) -> DataFrame | None:
        """ordered_extracted with the incremental cut applied: for
        tasks carrying last_review_hashes, drop the first seen-hash row
        and everything after it in output order (main.go:950-960)."""
        from go_scrapper_spark.operators.incremental import (
            order_cols,
            truncate_per_task,
        )

        df = self.store.read_appended("extracted")
        if df is None:
            return None
        self._load_state()
        if self._inc_hashes:
            df = truncate_per_task(df, self._inc_hashes, SEED_SEQ_STRIDE)
        return df.orderBy(*order_cols())

    def inc_hash_matched(self) -> bool:
        """True iff any incremental task matched a seen hash during the
        crawl (drives the NO_REVIEWS_SINCE_LAST_MATCH status,
        main.go:953-956)."""
        self._load_state()
        return any(st["hit"] for st in self._inc_state.values())

    def _commit(self, wave_id: int, tables: dict, page_bytes: int = 0) -> None:
        """Write one snapshot, each table coalesced to write_partitions
        files or, by default, one file per 64 MiB of page bytes the
        committed waves fetched, at most 8. One task encodes 64 MiB of
        text in 0.44 s on a 4-core host (4 tasks: 0.29 s), so a small
        window writes one file per table."""
        n = self.cfg.write_partitions or min(8, 1 + page_bytes // (64 << 20))
        self.store.commit(wave_id, {k: df.coalesce(n) for k, df in tables.items()})
