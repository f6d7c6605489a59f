"""Benchmark of the crawl engine and the corpus pipeline, end to end and
layer by layer, on one Spark session sized to the host.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

A run builds its inputs from --seed, starts a fresh Spark application
(its JVM launch counts as set-up), then runs measured passes for
--seconds, at least one, and checks every pass's output. Passes are not
preceded by a warm-up: the crawl and the corpus job run as one batch
job per application, so the JIT and code generation a fresh JVM pays
are part of what a user waits for. The last line of standard output is
one JSON object: the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1. Metric names and units come from BENCHMARK.json
at the repository root. Everything a run writes stays under
.perfbench_work/ in the repository root.

A traced run first runs the same workload and seed untraced in a child
process, then makes one pass of its own with the Spark event log on,
spans around every call into the program and py4j calls counted,
probes single operators on that pass's outputs, and folds the event
log offline. Its tracing overhead is the traced pass's wall time minus
the untraced run's.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

import children

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_polite", "corpus_warc")
SPARK_LAYER = ("exec_run_s", "exec_cpu_s", "gc_s", "python_stage_run_s",
               "codegen_stage_run_s", "shuffle_write_bytes",
               "shuffle_read_bytes", "spill_disk_bytes", "tasks",
               "task_skew_max")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def make_workload(name: str, seed: int, work: str):
    if name == "corpus_warc":
        from wl_corpus import CorpusWorkload

        return CorpusWorkload(seed, work)
    from wl_crawl import CrawlWorkload

    return CrawlWorkload(seed, work)


class Session:
    """The benchmark's Spark application; ``close`` stops the JVM and
    waits until it and every process it started (the PySpark daemon and
    its workers) have exited."""

    def __init__(self, conf: dict):
        import host
        from go_scrapper_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench", cores=host.cpu_count(),
                               extra_conf=conf)
        self.jvm = self.spark.sparkContext._gateway.proc
        self.closed = False

    def close(self) -> None:
        from pyspark import SparkContext

        if self.closed:
            return
        self.closed = True
        procs = children.live_tree(self.jvm.pid)
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        self.jvm.stdin.close()  # the gateway server exits on stdin EOF
        try:
            self.jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.jvm.kill()
            self.jvm.wait()
        killed = children.reap(procs)
        if killed:
            log(f"perfbench: killed {killed}, left after the JVM exited")


class Passes:
    """Runs passes with their output checks and counts them: a pass is
    attempted once and failed if it raises or its check fails."""

    def __init__(self, wl, spark):
        self.wl, self.spark = wl, spark
        self.attempted = self.failed = 0

    def run(self, tag: str, run):
        """``run()`` (one pass) plus its check. Returns the pass with
        res["ok"] set, or None if it raised; the caller frees it with
        ``wl.finish``."""
        self.attempted += 1
        res = None
        try:
            res = run()
            errs = self.wl.check(self.spark, res)
        except Exception:  # noqa: BLE001 - a failed pass is counted, not fatal
            errs = [traceback.format_exc()]
            self.wl.finish(self.spark, res)
            res = None
        for e in errs:
            log(f"{tag}: {e}")
        self.failed += bool(errs)
        if res is not None:
            res["ok"] = not errs
        return res


def end_to_end(args, wl, sess, passes, setup_s) -> dict:
    import host
    from stats import median, supported_percentile

    spark = sess.spark
    meter = host.Meter(sess.jvm.pid)
    done, n = [], 0
    t0 = time.time()
    while n == 0 or time.time() - t0 < args.seconds:
        n += 1
        tag = f"pass{n}"
        res = passes.run(tag, lambda: wl.run_pass(spark, tag, meter=meter))
        meter.halt()
        if res is not None:
            done.append(res)
            wl.finish(spark, res)
    if not done:
        raise RuntimeError("no pass completed")
    steps = [s for r in done for s in r["steps_s"]]
    q = supported_percentile(len(steps))
    print(f"# {args.workload} seed={args.seed}: {len(done)} measured "
          f"pass(es), wave_s_p50 over {len(steps)} superstep(s) (highest "
          f"percentile with >=10 samples beyond it: "
          f"{'p%d' % q if q else 'none'}), "
          f"error_rate={passes.failed}/{passes.attempted}", flush=True)
    return {
        "wall_s": median(r["wall_s"] for r in done),
        "pages_per_s": median(wl.units(r) / r["wall_s"] for r in done),
        "wave_s_p50": median(steps),
        "cpu_s": median(r["cpu_s"] for r in done),
        "peak_rss_mb": meter.peak_rss_mb,
        "setup_s": setup_s,
    }


def run_child(name: str, args, trace: int) -> tuple[int, str]:
    """This benchmark on workload ``name`` in a child process; returns
    its exit code and standard output. Should this run be stopped, the
    child is sent SIGTERM, so that it too stops its JVM."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(trace)]
    with subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True) as proc:
        try:
            out, _ = proc.communicate()
        except BaseException:
            proc.terminate()
            proc.wait()
            raise
    return proc.returncode, out


def untraced_reference(args) -> dict:
    """The same workload and seed, untraced, in a child process."""
    rc, out = run_child(args.workload, args, 0)
    if rc != 0:
        raise RuntimeError(f"untraced reference run exited {rc}")
    return json.loads(out.strip().splitlines()[-1])


def traced(args, wl, sess, work, session_s, passes, plain) -> dict:
    import eventlog
    from tracing import Py4jCounter, Tracer

    spark = sess.spark
    untraced_wall = plain["metrics"]["wall_s"]["value"]
    passes.attempted += plain["attempted"]
    passes.failed += plain["failed"]
    tracer = Tracer(f"{args.workload}-seed{args.seed}-{os.getpid()}")
    counter = Py4jCounter(spark.sparkContext._gateway._gateway_client)
    res = passes.run("traced", lambda: wl.trace_pass(spark, tracer, counter))
    if res is None:
        raise RuntimeError("traced pass raised")
    layers = wl.layers(spark, res, tracer)
    wl.finish(spark, res)
    sess.close()  # flushes and closes the event log

    fd = eventlog.fold(eventlog.read_events(os.path.join(work, "eventlog")))
    span = tracer.find(wl.pass_span)
    spark_layer = eventlog.window(fd, span["start"], span["end"])
    layers.update({f"spark.{k}": spark_layer[k] for k in SPARK_LAYER})
    layers.update({
        f"{wl.layer}.spark_jobs": spark_layer["spark_jobs"],
        f"{wl.layer}.driver_only_s": res["wall_s"] - spark_layer["job_busy_s"],
        "session.start_s": session_s,
        "trace.wall_s": res["wall_s"],
        "trace.untraced_wall_s": untraced_wall,
        "trace.overhead_s": res["wall_s"] - untraced_wall,
    })
    out_dir = os.path.join(ROOT, ".perfbench_work", "traces")
    os.makedirs(out_dir, exist_ok=True)
    tracer.write(os.path.join(out_dir, f"{tracer.run_id}.spans.jsonl"))
    with open(os.path.join(out_dir, f"{tracer.run_id}.layers.json"), "w") as f:
        json.dump(layers, f, indent=1, sort_keys=True)
    return layers


def run_one(args) -> int:
    t_start = time.time()
    sys.path.insert(0, ROOT)
    try:
        import go_scrapper_spark  # noqa: F401
    except ImportError as e:
        log(f"perfbench: the package is not importable from {ROOT}: {e}")
        return 2
    import host

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-seed{args.seed}-{os.getpid()}")
    plain = None
    if args.trace:
        plain = untraced_reference(args)
        t_start = time.time()
    os.makedirs(work, exist_ok=True)
    wl = make_workload(args.workload, args.seed, work)
    sess = None
    try:
        conf = host.prepare_env(ROOT, work)
        if args.trace:
            conf.update(host.event_log_conf(os.path.join(work, "eventlog")))
        wl.begin_setup()
        sess = Session(conf)
        session_s = time.time() - t_start
        wl.setup(sess.spark)
        passes = Passes(wl, sess.spark)
        setup_s = time.time() - t_start
        log(f"perfbench: session {session_s:.1f}s, set-up {setup_s:.1f}s")
        if args.trace:
            values = traced(args, wl, sess, work, session_s, passes, plain)
            wanted = spec["per_layer"]
        else:
            values = end_to_end(args, wl, sess, passes, setup_s)
            wanted = spec["end_to_end"]
        log(f"perfbench: done at {time.time() - t_start:.1f}s")
    finally:
        if sess is not None:
            sess.close()
        wl.close()
        children.reap(children.live_tree(os.getpid()))
        shutil.rmtree(work, ignore_errors=True)
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": passes.failed == 0,
                      "attempted": passes.attempted, "failed": passes.failed,
                      "metrics": metrics}), flush=True)
    return 0


def run_all(args) -> int:
    """Every workload, one child process each, one after the other."""
    rc = 0
    for name in WORKLOADS:
        code, out = run_child(name, args, args.trace)
        lines = out.strip().splitlines() or [""]
        print(f"{name}: {lines[-1]}", flush=True)
        rc = max(rc, code)
    return rc


def main(argv=None) -> int:
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args(argv)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    raise SystemExit(main())
