import os
import signal
import subprocess
import sys

import children
import host


def test_child_returns_value_and_leaves_nothing(tmp_path):
    c = children.Child(str(tmp_path), "stats", "digest", [[1, "a"], [0, "b"]])
    from stats import digest

    assert c.result() == digest([[0, "b"], [1, "a"]])
    c.close()
    assert children.live_tree(os.getpid()) == []


def test_reap_kills_a_process_that_ignores_sigterm():
    # a grandchild in its own process group, like the PySpark daemon
    p = subprocess.Popen([sys.executable, "-c",
                          "import os, signal, time; os.setpgid(0, 0); "
                          "signal.signal(signal.SIGTERM, signal.SIG_IGN); "
                          "time.sleep(60)"])
    try:
        procs = children.live_tree(os.getpid())
        assert [pid for pid, _s in procs] == [p.pid]
        assert children.reap(procs, grace_s=0.2) == [p.pid]
        assert p.wait(timeout=5) == -signal.SIGKILL
        assert host.proc_start(p.pid) is None
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()


def test_reap_waits_for_a_process_that_exits():
    p = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(0.3)"])
    procs = children.live_tree(os.getpid())
    # the exited child stays a zombie until waited: reap counts it gone
    assert children.reap(procs) == []
    p.wait()
