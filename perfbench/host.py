"""Size the benchmark's Spark session to the host, and account for the
CPU time and memory of the processes the Spark application runs in.

The session is built with ``go_scrapper_spark.session.get_spark``; the
sizing rule lives here so the package's own defaults stay untouched:

- master ``local[n]`` with n = the CPUs this process may run on;
- driver heap = an eighth of MemTotal, clamped to 1-4 GiB (the package
  default of 48g gets the JVM OOM-killed on a 16 GB host), committed at
  start (-Xms = -Xmx): a heap that G1 grows on demand made peak memory
  bimodal from run to run;
- every scratch path (Spark local dir, JVM and Python temp files,
  warehouse, event log) inside the benchmark's work directory.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

MIN_FREE_MB = 2048
SAMPLE_S = 0.2  # PSS sampling interval
RESCAN_EVERY = 5  # samples between two listings of /proc


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb(mem_mb: int) -> int:
    return max(1024, min(4096, mem_mb // 8))


def prepare_env(root: str, work: str) -> dict[str, str]:
    """Point every scratch path at ``work`` and return the session
    settings. Must run before the first JVM launch."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    free_mb = shutil.disk_usage(work).free // (1 << 20)
    if free_mb < MIN_FREE_MB:
        raise RuntimeError(f"{work}: {free_mb} MB free, need {MIN_FREE_MB}")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no hsperfdata files in the system temp dir, for the launcher JVM
    # and the driver JVM alike
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    heap = driver_heap_mb(mem_total_mb())
    os.environ["SPARK_DRIVER_MEM"] = f"{heap}m"
    # Python workers import the package from the checkout
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{heap}m -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        # one plain JSON-lines file per application (the Spark 4 default
        # rolls into a directory of parts)
        "spark.eventLog.rolling.enabled": "false",
    }


# ---------------------------------------------------------------- /proc

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm may contain spaces: fields start after the closing paren
    return s[s.rindex(")") + 2:].split()


def proc_start(pid: int) -> str | None:
    """Start time of a live process (its identity together with the
    pid), None once it has exited, zombies included."""
    st = _stat(pid)
    return None if st is None or st[0] in "ZX" else st[19]


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant (the JVM, the PySpark daemon
    and its forked workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(pids) -> float:
    """utime+stime of the processes plus that of their reaped children."""
    ticks = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            ticks += sum(int(v) for v in st[11:15])
    return ticks / _TICK


def tree_pss_mb(pids) -> float:
    """Proportional set size: pages a forked Python worker shares with
    the daemon it was forked from count once, not once per process."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024


class Meter:
    """CPU seconds and peak RSS of the Spark application (the driver
    Python process, the JVM and its Python workers) over the intervals
    between ``start`` and ``stop``. Resident memory is sampled from a
    thread as PSS; that thread's own CPU time is not counted, and it
    lists /proc for the process tree once a second rather than on every
    sample (Python workers fork during a pass, so once per pass would
    miss them)."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_rss_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._cpu0 = 0.0
        self._sampler_cpu = 0.0  # CPU seconds the sampling thread used

    def _app_cpu_s(self) -> float:
        return (tree_cpu_s(tree_pids(self.jvm_pid)) + time.process_time()
                - self._sampler_cpu)

    def _sample(self) -> None:
        t0, n, pids = time.thread_time(), 0, []
        while not self._stop.is_set():
            if n % RESCAN_EVERY == 0:
                pids = [os.getpid(), *tree_pids(self.jvm_pid)]
            n += 1
            self.peak_rss_mb = max(self.peak_rss_mb, tree_pss_mb(pids))
            self._stop.wait(SAMPLE_S)
        self._sampler_cpu += time.thread_time() - t0

    def start(self) -> None:
        self._cpu0 = self._app_cpu_s()
        self._stop.clear()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; return the CPU seconds used since ``start``."""
        self.halt()
        return self._app_cpu_s() - self._cpu0

    def halt(self) -> None:
        """Stop sampling (no-op when not sampling)."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
            self._thread = None
