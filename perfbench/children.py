"""Child processes of a run, and the guarantee that none outlives it.

Inputs are built in a plain child Python process (``Child``), not
through ``multiprocessing``: its spawn start method launches a
resource-tracker process that exits only after the run has. ``reap``
ends what a run started and is still alive: the PySpark daemon and its
workers run in a process group of their own and are reparented when
the JVM exits, so waiting for the JVM does not wait for them.

    python3 perfbench/children.py <request.pkl>

is the child's entry point; ``Child`` writes the request.
"""

from __future__ import annotations

import importlib
import os
import pickle
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
GRACE_S = 10.0  # time to exit on its own before SIGKILL


class Child:
    """``module.func(*args)`` in a child Python process, started at
    construction; ``result`` waits for it and returns what it returned."""

    def __init__(self, work: str, module: str, func: str, *args):
        req = os.path.join(work, f"{func}.req.pkl")
        self.out = os.path.join(work, f"{func}.out.pkl")
        with open(req, "wb") as f:
            pickle.dump((module, func, args, self.out), f)
        # the child's stdout goes to stderr: the run's last stdout line
        # is its result
        self.proc = subprocess.Popen([sys.executable, os.path.abspath(__file__), req],
                                     stdout=sys.stderr)

    def result(self):
        rc = self.proc.wait()
        if rc != 0:
            raise RuntimeError(f"{self.proc.args[-1]}: child exited {rc}")
        with open(self.out, "rb") as f:
            return pickle.load(f)

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()


def live_tree(root: int) -> list[tuple[int, str]]:
    """(pid, start time) of every live process in ``root``'s tree, this
    process excepted."""
    import host

    out = []
    for pid in host.tree_pids(root):
        start = host.proc_start(pid)
        if pid != os.getpid() and start is not None:
            out.append((pid, start))
    return out


def reap(procs: list[tuple[int, str]], grace_s: float = GRACE_S) -> list[int]:
    """Wait up to ``grace_s`` for each of ``procs`` (as ``live_tree``
    lists them) to exit, SIGKILL the rest, and wait for those too.
    Returns the pids that had to be killed."""
    import host

    def alive(left):
        return [(p, s) for p, s in left if host.proc_start(p) == s]

    left, killed = alive(procs), []
    deadline = time.time() + grace_s
    while left and time.time() < deadline:
        time.sleep(0.05)
        left = alive(left)
    for pid, _s in left:
        try:
            os.kill(pid, signal.SIGKILL)
            killed.append(pid)
        except ProcessLookupError:
            pass
    deadline = time.time() + grace_s
    while left and time.time() < deadline:
        time.sleep(0.05)
        left = alive(left)
    if left:
        raise RuntimeError(f"processes {[p for p, _s in left]} survive SIGKILL")
    return killed


def _main(req: str) -> None:
    sys.path.insert(1, os.path.dirname(HERE))  # the package, from the checkout
    with open(req, "rb") as f:
        module, func, args, out = pickle.load(f)
    value = getattr(importlib.import_module(module), func)(*args)
    with open(out, "wb") as f:
        pickle.dump(value, f)


if __name__ == "__main__":
    _main(sys.argv[1])
