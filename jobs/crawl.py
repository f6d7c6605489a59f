"""CLI entry point (SURVEY.md S1/S2) — the reference's cobra command
(`yelp -a <base64 json> -o out.jsonl`, main.go:179-220) re-expressed
for spark-submit:

    spark-submit --py-files dist/go_scrapper_spark.zip jobs/crawl.py \
        -a <base64-json-task-list> -o /out/dir [--store /ckpt/dir]

The -a payload is a base64 JSON array of Spider-style tasks
(profile_key, business_name, address fields, last_review_hashes,
first_page_only — main.go:31-52). Output: JSONL reviews byte-compatible
with the reference sink (S6) + a -meta.json per run (S7).
"""

from __future__ import annotations

import argparse
import base64
import json
import time


def parse_tasks(b64: str) -> list[dict]:
    """S2: base64 → JSON → task rows (main.go:204-220). Accepts one
    task object or a list."""
    data = json.loads(base64.standard_b64decode(b64))
    if isinstance(data, dict):
        data = [data]
    rows = []
    for i, t in enumerate(data):
        addr = t.get("address") or {}
        persona = t.get("persona") or {}
        cookies = persona.get("additional_cookies")
        rows.append(
            {
                "task_id": int(t.get("task_id", i)),
                "profile_key": t.get("profile_key", ""),
                "business_name": t.get("business_name", ""),
                "street": addr.get("street", ""),
                "city": addr.get("city", ""),
                "state": addr.get("state", ""),
                "zip": addr.get("zip", ""),
                "last_review_hashes": t.get("last_review_hashes") or [],
                "first_page_only": int(t.get("first_page_only", 0)),
                "proxy": persona.get("proxy", ""),
                # declared-but-unused Spider fields (main.go:36-43),
                # carried for pass-through fidelity; additional_cookies
                # is interface{} in Go → keep its JSON form
                "business_id": int(t["business_id"]) if "business_id" in t else None,
                "client_id": int(t["client_id"]) if "client_id" in t else None,
                "batch_id": int(t["batch_id"]) if "batch_id" in t else None,
                "additional_cookies": (
                    None if cookies is None else json.dumps(cookies, separators=(",", ":"))
                ),
                "other_proxies": persona.get("other_proxies"),
                "seq": i,
            }
        )
    return rows


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="crawl")
    ap.add_argument("-a", "--additional-args", required=True,
                    help="base64 JSON task (or task list)")
    ap.add_argument("-o", "--output", required=True, help="output directory")
    # part of the reference CLI contract (main.go:196): accepted there,
    # its value is dead (sval unused in yelpSpiderRun, main.go:255) —
    # accepted-and-unused here too
    ap.add_argument("-s", "--setvar", default="",
                    help="NAME=VALUE setting variable (accepted for CLI "
                         "compatibility; unused, as in the reference)")
    ap.add_argument("--pages", default=None,
                    help="pages table path (parquet); default: synthetic web")
    ap.add_argument("--robots", default=None,
                    help="robots/politeness table path (parquet with the "
                         "ROBOTS_SCHEMA columns); default with --pages: "
                         "allow-all for every host in the pages table, with "
                         "the reference's colly limits (3s delay, 10 parallel)")
    ap.add_argument("--robots-txt", default=None,
                    help="parquet of RAW robots.txt bodies (host, body); "
                         "parsed JVM-side into the politeness table "
                         "(functions/robotstxt.py). Mutually exclusive "
                         "with --robots.")
    ap.add_argument("--store", default=None, help="snapshot/checkpoint dir")
    ap.add_argument("--n-biz", type=int, default=50,
                    help="synthetic web size when --pages is not given")
    return ap


def main() -> None:
    args = build_parser().parse_args()

    from pyspark.sql import functions as F

    from go_scrapper_spark.plans.crawl import CrawlConfig, CrawlEngine
    from go_scrapper_spark.plans.search import resolve_profile_keys
    from go_scrapper_spark.schemas import SEEDS_SCHEMA
    from go_scrapper_spark.session import get_spark, local_table
    from go_scrapper_spark.sources import synthetic_web as sw
    from go_scrapper_spark.sources.sinks import meta_json, write_jsonl
    from go_scrapper_spark.sources.storage import SnapshotStore

    spark = get_spark(app_name="crawl-job")
    start = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime())

    cfg = sw.WebConfig(n_biz=args.n_biz)
    if args.pages:
        pages = spark.read.parquet(args.pages)
    else:
        pages = sw.generate_pages_df(spark, cfg)
    if args.robots and args.robots_txt:
        raise SystemExit("--robots and --robots-txt are mutually exclusive")
    if args.robots:
        robots = spark.read.parquet(args.robots)
    elif args.robots_txt:
        from go_scrapper_spark.functions.robotstxt import parse_robots_txt

        robots = parse_robots_txt(spark.read.parquet(args.robots_txt))
    elif args.pages:
        # BYO pages table: the robots join is an allow-list (unknown
        # hosts are dropped, politeness.py), so derive an allow-all
        # policy covering every host actually present — matching the
        # reference, which disables robots (collyfunc.go:68) and whose
        # colly limits are Delay 3s / Parallelism 10
        robots = (
            pages.select(F.lower(F.parse_url(F.col("url"), F.lit("HOST"))).alias("host"))
            .distinct()
            .select(
                "host",
                F.array(F.lit("/")).alias("allow_prefixes"),
                F.array().cast("array<string>").alias("disallow_prefixes"),
                F.lit(3000).cast("long").alias("crawl_delay_ms"),
                F.lit(10).alias("max_parallel"),
            )
        )
    else:
        robots = sw.robots_df(spark, cfg)
    seeds = local_table(spark, parse_tasks(args.additional_args), SEEDS_SCHEMA)
    seeds = resolve_profile_keys(seeds, pages)

    store = SnapshotStore(spark, args.store or (args.output + "-store"))
    engine = CrawlEngine(
        spark, pages, robots, store, CrawlConfig(checkpoint_every=4)
    )
    total = engine.run(seeds)

    # incremental cut (G3, main.go:950-960): tasks with
    # last_review_hashes truncate at the first seen hash in output order
    extracted = engine.final_extracted()
    n = 0
    if extracted is not None:
        # persist before the write+count double action: the final plan
        # (orderBy + incremental truncation window over the extracted
        # union) computes once, not once per action
        extracted = extracted.persist()
        write_jsonl(extracted, args.output)
        n = extracted.count()
        extracted.unpersist()
    # status priority mirrors main.go:309-315 + 953-956: reviews left
    # after the cut → SUCCESS_SCRAPED; cut fired and nothing new →
    # NO_REVIEWS_SINCE_LAST_MATCH; otherwise NO_REVIEWS
    if n:
        status = "SUCCESS_SCRAPED"
    elif engine.inc_hash_matched():
        status = "NO_REVIEWS_SINCE_LAST_MATCH"
    else:
        status = "NO_REVIEWS"
    # histogram carry (main.go:317-319, 962-982): score = the profile
    # ld+json aggregate rating; total = greatest(reviewCount, items)
    hist_score, hist_total = 0.0, 0
    pm = store.read_appended("pagemeta")
    if pm is not None:
        row = pm.agg(
            F.max("agg_score").alias("s"), F.max("review_count").alias("t")
        ).collect()[0]
        hist_score = float(row["s"] or 0.0)
        hist_total = int(row["t"] or 0)
    meta = meta_json(
        profile_key=";".join(r["profile_key"] for r in seeds.select("profile_key").collect()),
        scraping_status=status,
        item_scraped_count=n,
        request_count=total["attempted"],
        response_bytes=total["bytes"],
        histogram_score=hist_score,
        histogram_total=max(hist_total, n),
        start_time=start,
        finish_time=time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime()),
    )
    with open(args.output.rstrip("/") + "-meta.json", "w") as f:
        f.write(meta)
    print(json.dumps(total))
    spark.stop()


if __name__ == "__main__":
    main()
