"""Host-side instruments: peak RSS from /proc, a CPU-noise probe, and the
effective configuration of the session under test."""

from __future__ import annotations

import os
import threading
import time


def _children(pid: int) -> list[int]:
    out = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def _tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        try:
            todo.extend(_children(pid))
        except OSError:
            continue  # the process ended between listing and reading
        out.append(pid)
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * os.sysconf("SC_PAGE_SIZE")


class RssSampler:
    """Samples the RSS of the JVM process tree (JVM plus its Python workers)
    every ``period`` seconds on a daemon thread; ``peak`` is the maximum seen
    since the last ``reset``."""

    def __init__(self, root_pid: int, period: float = 0.1):
        self.root = root_pid
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.period)

    def reset(self) -> None:
        self.peak = tree_rss_bytes(self.root)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def _burn(n: int) -> int:
    s = 0
    for i in range(n):
        s += i ^ (i >> 3)
    return s


def noise_probe(n: int = 2_000_000) -> float:
    """Single-thread busy-loop ops/sec.  Constant to a few percent on a
    quiet host; it drops by the share of CPU taken from this process by
    others.  Recorded beside each wall to attribute outliers, never to
    filter them."""
    t0 = time.perf_counter()
    _burn(n)
    return n / (time.perf_counter() - t0)


def session_config(spark) -> dict:
    """The settings a host-derived default would change, as the session
    actually runs with them."""
    conf = spark.sparkContext.getConf()
    return {
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": conf.get("spark.driver.memory", None),
        "adaptive": spark.conf.get("spark.sql.adaptive.enabled"),
        "prefer_sort_merge_join": spark.conf.get("spark.sql.join.preferSortMergeJoin"),
        "spark_version": spark.version,
        "host_cpus": os.cpu_count(),
    }
