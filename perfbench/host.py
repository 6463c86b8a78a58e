"""What the benchmark records about the machine it runs on: the
environment, an idle/steal probe, and the peak resident memory of its
own process tree."""

from __future__ import annotations

import glob
import hashlib
import os
import signal
import subprocess
import sys
import threading
import time


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def _burn(n: int) -> float:
    t0 = time.perf_counter()
    sum(range(n))
    return time.perf_counter() - t0


# One probe worker: warm up, report ready, wait for the start line on
# stdin, then burn and print the time. A plain subprocess rather than
# multiprocessing, whose resource tracker would outlive the benchmark.
_BURNER = """
import sys, time
def burn(n):
    t0 = time.perf_counter()
    sum(range(n))
    return time.perf_counter() - t0
n = int(sys.argv[1])
burn(n // 2)  # wake an idle vCPU before it is measured
print("ready", flush=True)
sys.stdin.readline()
print(burn(n), flush=True)
"""


def steal_probe(n: int = 5_000_000) -> dict:
    """Single-core and all-core throughput of a pure-Python loop.

    ``effective_cores`` is the all-core rate over the single-core rate.
    With ``cpus()`` workers on an idle box it is close to ``cpus()``;
    a reading under 3/4 of it means another tenant or the hypervisor
    took cycles while we measured, and the set is flagged (never
    dropped)."""
    k = cpus()
    single = n / min(_burn(n) for _ in range(3))
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _BURNER, str(n)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        for _ in range(k)
    ]
    try:
        for p in procs:
            p.stdout.readline()
        for p in procs:  # every worker burns at once, after all have started
            p.stdin.write("go\n")
            p.stdin.flush()
        times = [float(p.stdout.readline()) for p in procs]
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.communicate()
    effective = sum(n / t for t in times) / single
    return {
        "single_mops": round(single / 1e6, 2),
        "effective_cores": round(effective, 2),
        "steal": effective < 0.75 * k,
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (the JVM and
    the Python workers it forks)."""
    kids = _children()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


def descendants(root: int) -> list[int]:
    """Every live process below ``root``."""
    kids = _children()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _alive(pid: int) -> bool:
    """True until ``pid`` has exited (a zombie counts as exited)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def reap(pids: list[int], timeout: float = 30.0) -> None:
    """Kill each of ``pids`` that is still running and wait until all
    have ended: own children are waited for, the rest are polled."""
    for pid in pids:
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    deadline = time.time() + timeout
    for pid in pids:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            while _alive(pid) and time.time() < deadline:
                time.sleep(0.05)


class RssSampler:
    """Samples the process tree's RSS every ``interval`` seconds on a
    daemon thread; ``window()`` returns the peak since the last call."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, tree_rss_bytes(root))

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def window(self) -> float:
        """Peak MB since the previous call (a final sample included)."""
        peak = max(self.peak, tree_rss_bytes(os.getpid()))
        self.peak = 0
        return peak / 2**20


def source_digest(root: str) -> str:
    """Digest of the engine's sources, so a record names the code it
    measured even in a checkout without git metadata."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(root, "bisque_spark", "**", "*.py"), recursive=True))
    for path in files + [os.path.join(root, "__spark_entry__.py")]:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    if not os.path.exists(os.path.join(root, ".git")):
        return None
    out = subprocess.run(
        ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True
    )
    return out.stdout.strip() or None


def environment(root: str, seed: int, conf: dict) -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {
        "cpus": cpus(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "aqe": conf["spark.sql.adaptive.enabled"],
        "committer": conf["spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version"],
        "driver_memory": conf["spark.driver.memory"],
        "seed": seed,
        "git_commit": git_commit(root),
        "source_digest": source_digest(root),
    }
