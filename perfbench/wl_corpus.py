"""corpus_warc: raw WARC blobs in, language-partitioned corpus and WET
files out, through the product path of jobs/corpus.py
(warc_front_end with host-template stripping → build_corpus with
decontamination → lang-partitioned parquet → pages_to_wet).

The web pages carry planted structure, so the output is known without
rerunning the pipeline:

- every page has a link-dense nav (boilerplate extraction drops it), a
  cookie banner and a per-host chrome paragraph (host-template strip
  drops both), a short footer, then three prose paragraphs whose words
  derive from the seed and the page's content key;
- per 100 pages: page 100k+2 copies page 100k's prose (paragraph dedup
  empties one of the two, the quality gate drops it) and page 100k+1 is
  a near duplicate — every paragraph gains one token, chosen here so
  its MinHash signature equals the original's in all six components,
  so the LSH stage always pairs it and keeps exactly one of the group;
- about one page in 97 (never one of a group) is also an eval-set
  document, and decontamination drops it for self-overlap.

So the corpus holds exactly one document per content key that is not
an eval key, each with its own page's prose as text, and the WET files
hold the same (url, text) pairs.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import shutil
import time
from contextlib import nullcontext
from datetime import datetime, timezone

from pyspark.sql import functions as F

from go_scrapper_spark.functions.boilerplate import extract_main_content
from go_scrapper_spark.operators.dedupe import (host_template_strip,
                                                local_checkpoint_no_stats,
                                                paragraph_dedup)
from go_scrapper_spark.sources import warc
from children import Child
import oracle_probe
from stats import digest
from wl_crawl import release

N_DOCS = 8000
N_HOSTS = 64
N_WORDS = 10
N_FILES = 8
# the operators_hot queries probed in the traced run: similarity and
# boilerplate, the corpus side's operators
ORACLE_QUERIES = ("sim_ivf_topk", "sim_lsh_neighbors", "extract_main_content")
LANG_WORDS = {"en": ("the", "and"), "de": ("der", "und"),
              "fr": ("le", "et"), "es": ("el", "y")}
BANNER = ("We use cookies on this site to improve the browsing experience "
          "and analyze traffic patterns for the team")
EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)


def _corpus_job():
    """jobs/corpus.py, loaded by path (jobs/ is not a package)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "corpus_job", os.path.join(root, "jobs", "corpus.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def minhash(text: str, k: int = 6, n: int = 3) -> tuple[str, ...]:
    """operators.dedupe.minhash_signatures for one document: component
    i = min over word n-gram shingles of md5(f"{i}:{shingle}")."""
    ws = text.split(" ")
    sh = {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}
    return tuple(min(hashlib.md5(f"{i}:{s}".encode()).hexdigest() for s in sh)
                 for i in range(k))


def content_key(i: int) -> int:
    return i - (i % 100) if i % 100 in (1, 2) else i


def prose(seed: int, ck: int, salt: int = 0) -> list[str]:
    lw = LANG_WORDS[sorted(LANG_WORDS)[(ck + seed) % len(LANG_WORDS)]]
    return [
        f"{lw[0]} a doc {ck} para{j} {lw[1]} " + " ".join(
            hashlib.md5(f"{seed}:{ck}:{salt}:{j}:{w}".encode()).hexdigest()[:6]
            for w in range(N_WORDS))
        for j in range(3)
    ]


def near_dup_pair(seed: int, ck: int) -> tuple[list[str], list[str]]:
    """(original, near duplicate) prose: the duplicate appends one
    token to every paragraph. Appending rewrites the shingles that span
    a paragraph break, so words (salt) and token are searched until
    the two MinHash signatures agree in every component."""
    for salt in range(1000):
        paras = prose(seed, ck, salt)
        sig = minhash("\n".join(paras))
        for t in range(20):
            var = [f"{p} v{t}" for p in paras]
            if minhash("\n".join(var)) == sig:
                return paras, var
    raise RuntimeError("no signature-preserving near duplicate")


def planted_corpus(seed: int, n_docs: int) -> tuple[list[tuple], dict, list]:
    """(pages rows, expected front-end text per page id, eval rows);
    ``n_docs`` is a multiple of 100."""
    rows, texts, evals = [], {}, []
    for i in range(n_docs):
        ck = content_key(i)
        if i % 100 == 0:
            group = near_dup_pair(seed, ck)
        paras = group[i % 100 == 1] if i % 100 < 3 else prose(seed, ck)
        host = f"host{(i + seed) % N_HOSTS}.example.com"
        html = (
            '<html><body><nav><a href="/">home page</a> '
            '<a href="/about">about the site and team</a></nav>'
            f"<p>{BANNER}</p><p>the host {host} chrome menu about contact "
            "privacy terms sitemap careers</p>"
            + "".join(f"<p>{p}</p>" for p in paras)
            + "<footer>(c) bench</footer></body></html>"
        )
        url = f"https://{host}/p/{i}"
        rows.append((url, EPOCH.timestamp() + i, html.encode()))
        texts[i] = "\n".join(paras)
        if i % 100 >= 3 and (i + seed) % 97 == 0:
            evals.append((i, texts[i]))
    return rows, texts, evals


def expected_keys(n_docs: int, eval_ids) -> list[int]:
    evs = set(eval_ids)
    return sorted({content_key(i) for i in range(n_docs)} - evs)


def corpus_errors(got, wet, texts: dict, keys: list) -> list[str]:
    """Check corpus rows and WET records, both (url, text), against the
    planted structure: one document per expected content key, each with
    its own page's prose, and the WET files holding the same pairs."""
    errs = []
    ids = [int(url.rsplit("/", 1)[1]) for url, _t in got]
    wrong = [url for (url, text), i in zip(got, ids) if text != texts.get(i)]
    if wrong:
        errs.append(f"{len(wrong)} corpus texts differ from their page's "
                    f"prose, e.g. {wrong[0]}")
    found = sorted(content_key(i) for i in ids)
    if found != keys:
        errs.append(f"corpus has {len(found)} docs (digest "
                    f"{digest([[k] for k in found])[:12]}); the planted "
                    f"structure implies {len(keys)} (digest "
                    f"{digest([[k] for k in keys])[:12]})")
    if digest(wet) != digest(got):
        errs.append(f"WET files hold {len(wet)} records that differ from "
                    f"the {len(got)} corpus rows")
    return errs


def write_inputs(seed: int, n_docs: int, warc_path: str, eval_path: str) -> dict:
    """Write the planted pages as WARC response records, N_FILES blobs
    of url-sorted records (the shape of a crawl segment), and the eval
    set; return the expected corpus. Runs in a child process while
    the JVM starts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows, texts, evals = planted_corpus(seed, n_docs)
    blobs = []
    for f in range(N_FILES):
        recs = []
        for url, ts, html in sorted(rows[f::N_FILES]):
            date = datetime.fromtimestamp(ts, timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
            rid = hashlib.md5(f"{url}\n{date}".encode()).hexdigest()
            recs.append({"headers": {
                "WARC-Type": "response", "WARC-Target-URI": url,
                "WARC-Date": date, "WARC-Record-ID": f"<urn:md5:{rid}>"},
                "payload": warc.http_response(html)})
        blobs.append(warc.build_warc(recs))
    for path, table in (
        (warc_path, pa.table({"file_id": pa.array(range(N_FILES), pa.int64()),
                              "warc": pa.array(blobs, pa.binary())})),
        (eval_path, pa.table({"eval_id": pa.array([e[0] for e in evals], pa.int64()),
                              "text": pa.array([e[1] for e in evals], pa.string())})),
    ):
        os.makedirs(path)
        pq.write_table(table, os.path.join(path, "part-0.parquet"))
    return {"texts": texts, "keys": expected_keys(n_docs, [e[0] for e in evals])}


class CorpusWorkload:
    name = "corpus_warc"
    pass_span = "corpus"
    layer = "jobs.corpus"

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.corpus_job = _corpus_job()
        self.warc_path = os.path.join(work, "inputs", "warc")
        self.eval_path = os.path.join(work, "inputs", "eval")
        self.texts: dict[int, str] = {}
        self.keys: list[int] = []
        self._inputs = None

    # ------------------------------------------------------------ setup

    def begin_setup(self) -> None:
        self._inputs = Child(self.work, "wl_corpus", "write_inputs", self.seed,
                             N_DOCS, self.warc_path, self.eval_path)

    def setup(self, spark) -> None:
        expected = self._inputs.result()
        self.texts, self.keys = expected["texts"], expected["keys"]
        self.files = spark.read.parquet(self.warc_path)
        self.evals = spark.read.parquet(self.eval_path)

    def close(self) -> None:
        if self._inputs is not None:
            self._inputs.close()

    def units(self, res: dict) -> int:
        return N_DOCS

    # ------------------------------------------------------------- pass

    def run_pass(self, spark, tag: str, meter=None, tracer=None) -> dict:
        span = tracer.span if tracer else (lambda _name: nullcontext())
        out = os.path.join(self.work, f"corpus-{tag}")
        wet = os.path.join(self.work, f"wet-{tag}")
        if meter:
            meter.start()
        t0 = time.time()
        with span("corpus"):
            with span("build"):
                docs = self.corpus_job.warc_front_end(self.files, host_template_den=2)
                result, counts = self.corpus_job.build_corpus(
                    spark, docs, min_tokens=20, near_dup_matches=4,
                    eval_df=self.evals)
            with span("lang_write"):
                result.write.partitionBy("lang_guess").parquet(out)
            with span("wet"):
                warc.pages_to_wet(
                    spark.read.parquet(out).select("url", "warc_ts", "text"),
                    n_files=N_FILES,
                ).write.parquet(wet)
        wall = time.time() - t0
        return {"wall_s": wall, "steps_s": [wall],
                "cpu_s": meter.stop() if meter else None,
                "counts": counts, "out": out, "wet": wet}

    # ------------------------------------------------------------ check

    def check(self, spark, res: dict) -> list[str]:
        got = [(r["url"], r["text"]) for r in
               spark.read.parquet(res["out"]).select("url", "text").collect()]
        wet = [
            (r["target_uri"], r["body"].decode())
            for b in spark.read.parquet(res["wet"]).select("warc").collect()
            for r in warc.split_warc_records(bytes(b["warc"]))
            if r["warc_type"] == "conversion"
        ]
        return corpus_errors(got, wet, self.texts, self.keys)

    def finish(self, spark, res: dict | None) -> None:
        if res is not None:
            shutil.rmtree(res["out"], ignore_errors=True)
            shutil.rmtree(res["wet"], ignore_errors=True)
        release(spark)

    # ------------------------------------------------------------ trace

    def trace_pass(self, spark, tracer, counter) -> dict:
        """One pass with spans and py4j calls counted."""
        with counter:
            return self.run_pass(spark, "traced", tracer=tracer)

    def layers(self, spark, res: dict, tracer) -> dict:
        """build_corpus's own per-stage checkpoints and the write spans
        of the traced pass, plus the front-end stages — which the
        product path fuses into one plan — each materialized on its own
        as a probe. The probes rebuild warc_front_end step by step, so
        their output must equal warc_front_end's, or the figures would
        time code the product no longer runs."""
        def dur(name):
            sp = tracer.find(name)
            return sp["end"] - sp["start"]

        secs = res["counts"]["stage_secs"]
        out = {
            "functions.textstats.quality_s": secs["quality"],
            "operators.dedupe.exact_s": secs["exact_dedup"],
            "operators.dedupe.near_dup_s": secs["near_dup"],
            "operators.decontam.s": secs["decontam"],
            "functions.textstats.lang_write_s": dur("lang_write"),
            "sources.warc.wet_s": dur("wet"),
        }

        def timed(name, build):
            with tracer.span(f"probe.{name}") as sp:
                df = local_checkpoint_no_stats(build())
            return df, sp["end"] - sp["start"]

        pages, out["sources.warc.parse_s"] = timed(
            "sources.warc", lambda: warc.warc_to_pages(self.files))
        docs0, out["functions.boilerplate.s"] = timed(
            "functions.boilerplate", lambda: extract_main_content(
                pages, id_col="url", carry_cols=("warc_ts",))
            .filter(F.col("n_good") > 0)
            .select(F.xxhash64("url").alias("doc_id"),
                    F.col("main_text").alias("text"), "url", "warc_ts"))
        docs1, out["operators.dedupe.host_template_s"] = timed(
            "operators.dedupe.host_template", lambda: docs0.select(
                "doc_id", "url", "warc_ts").join(
                host_template_strip(
                    docs0.withColumn("host", F.regexp_extract(
                        "url", r"^[a-z]+://([^/]+)", 1)),
                    min_docs=2, num=1, den=2).filter(F.col("n_kept") > 0),
                "doc_id")
            .select("doc_id", F.col("clean_text").alias("text"), "url", "warc_ts"))
        docs2, out["operators.dedupe.paragraph_s"] = timed(
            "operators.dedupe.paragraph", lambda: docs1.select(
                "doc_id", "url", "warc_ts").join(
                paragraph_dedup(docs1, sep="\n"), "doc_id")
            .select("doc_id", F.col("clean_text").alias("text"), "url", "warc_ts"))
        product = self.corpus_job.warc_front_end(self.files, host_template_den=2)
        probed, shipped = (
            [tuple(r) for r in df.select("doc_id", "url", "text").collect()]
            for df in (docs2, product))
        if digest(probed) != digest(shipped):
            raise AssertionError(
                f"front-end probes give {len(probed)} docs, warc_front_end "
                f"{len(shipped)}, or their texts differ")
        # the stage row counts, from a build of their own: the counts
        # are extra actions the timed pass does not run (decontamination
        # comes after the near-dup count, so the build skips it)
        _result, counts = self.corpus_job.build_corpus(
            spark, docs2, min_tokens=20, near_dup_matches=4,
            verbose_counts=True)
        out["operators.dedupe.near_dup_drop_frac"] = (
            1 - counts["after_near_dup"] / max(counts["after_exact_dedup"], 1))
        release(spark)
        # operators_hot layers that no pass runs
        out.update(oracle_probe.layers(spark, tracer, self.seed, self.work,
                                       ORACLE_QUERIES))
        release(spark)
        return out
