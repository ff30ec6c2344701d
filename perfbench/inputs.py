"""Seeded workload inputs and the statistics helpers of the benchmark.

Everything here is plain Python: the generators make the inputs from
``--seed`` alone (the program under test only ever sees the generated
inputs), and the helpers are unit-tested without a Spark session.
"""

from __future__ import annotations

import bisect
import hashlib
import inspect
import math
import os
import random
import threading
import time

from garamond_jl_spark import corpus as _corpus

# the corpus generator emits these OOV / empty requests at the tail of
# every query_set; they are the ~5% of traffic that must return 0 hits
OOV_QUERIES = ("zzz_not_in_vocab", "qqqq wwww", "", "the of und")


def percentile(values: list[float], q: float, min_beyond: int = 10) -> float:
    """The ``q``-quantile (0 < q < 1, nearest rank) of ``values``.

    Refuses a percentile with fewer than ``min_beyond`` samples above
    it: a p90 needs at least 100 samples, otherwise the "tail" is a
    handful of points and moves with every run."""
    n = len(values)
    if not 0.0 < q < 1.0:
        raise ValueError(f"quantile {q} outside (0, 1)")
    rank = max(1, math.ceil(round(q * n, 9)))
    if n == 0 or n - rank < min_beyond:
        raise ValueError(f"p{q * 100:g} needs {min_beyond} samples beyond "
                         f"it; have {n} samples")
    return sorted(values)[rank - 1]


def generator_hash() -> str:
    """Hash of the corpus generator's source: a cached corpus parquet is
    reused only while the generator that made it is unchanged."""
    src = inspect.getsource(_corpus)
    return hashlib.sha256(src.encode()).hexdigest()[:12]


def corpus_rows(seed: int, n: int, first_id: int = 0) -> list[dict]:
    """Rows ``first_id .. first_id + n - 1`` of the seeded code corpus,
    each with an explicit ``doc_id``.  Row content comes from the
    program's own per-row generator (``corpus.make_row``)."""
    rows = []
    for i in range(first_id, first_id + n):
        r = _corpus.make_row(i, seed)
        r["doc_id"] = i
        rows.append(r)
    return rows


class _Zipf:
    """Zipf(1) popularity over a list of items."""

    def __init__(self, items: list):
        self.items = items
        h = sum(1.0 / (i + 1) for i in range(len(items)))
        acc, self.cdf = 0.0, []
        for i in range(len(items)):
            acc += (1.0 / (i + 1)) / h
            self.cdf.append(acc)

    def pick(self, rng: random.Random):
        i = min(bisect.bisect_left(self.cdf, rng.random()), len(self.items) - 1)
        return self.items[i]


def query_stream(seed: int, n: int, pool: int = 64,
                 oov_share: float = 0.05) -> list[str]:
    """``n`` requests with Zipf popularity over a pool of in-vocabulary
    queries from the corpus query generator; ``oov_share`` of them are
    OOV or empty requests."""
    qs = [q for q in _corpus.query_set(seed=seed, n=pool + len(OOV_QUERIES))
          if q not in OOV_QUERIES]
    zipf = _Zipf(qs)
    rng = random.Random(f"perfbench:queries:{seed}")
    out = []
    for _ in range(n):
        if rng.random() < oov_share:
            out.append(rng.choice(OOV_QUERIES))
        else:
            out.append(zipf.pick(rng))
    return out


def operator_order(seed: int, names: list[str]) -> list[str]:
    """A seeded permutation of ``names``."""
    order = list(names)
    random.Random(f"perfbench:order:{seed}").shuffle(order)
    return order


def delete_ids(seed: int, cycle: int, n_docs: int, k: int) -> list[int]:
    """``k`` distinct ids of the main corpus to delete in ingest cycle
    ``cycle``."""
    rng = random.Random(f"perfbench:delete:{seed}:{cycle}")
    return sorted(rng.sample(range(n_docs), k))


def spark_cpus(nproc: int) -> int:
    """Task slots of the benchmark's session: half the host's cores.
    Per-request and per-operator work here is a fixed cost per task, so
    latency barely changes between local[1], local[2] and local[4] on a
    4-core host; at local[nproc] the executor threads, the Python
    workers, the JVM's GC and compiler threads and the client all
    compete for the same cores, and any CPU taken by other guests of a
    shared host lands on the measured path."""
    return max(1, nproc // 2)


def host_canaries(spark) -> dict:
    """Fixed-cost canaries in the style of the repository's bench.py:
    a pure-Python loop (host CPU speed) and a fixed Spark range-sum
    (JVM and scheduler health).  Minimum of two runs each."""
    def _py():
        s = 0
        for i in range(2_000_000):
            s += i * 31 + 7
        return s

    def _timed(fn) -> float:
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    def _jvm():
        return spark.range(20_000_000).selectExpr(
            "sum(id * 2 + 1) AS s").collect()[0]["s"]

    return {"python_loop_s": round(min(_timed(_py) for _ in range(2)), 4),
            "spark_range_sum_s": round(min(_timed(_jvm) for _ in range(2)), 4)}


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def host_record() -> dict:
    steal, total = _cpu_ticks()
    return {"nproc": len(os.sched_getaffinity(0)),
            "loadavg": [round(x, 2) for x in os.getloadavg()],
            "cpu_steal_ticks": steal, "cpu_total_ticks": total}


def steal_frac(before: dict, after: dict) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    host records: the part of host noise a contended run shows."""
    total = after["cpu_total_ticks"] - before["cpu_total_ticks"]
    return (after["cpu_steal_ticks"] - before["cpu_steal_ticks"]) / max(1, total)


def _process_table() -> tuple[dict[int, int], dict[int, int]]:
    """(parent pid, resident kB) of every live process, from /proc."""
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
            with open(f"/proc/{d}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        pid = int(d)
        parent[pid] = int(st[st.rindex(")") + 2:].split()[1])
        rss[pid] = pages * (os.sysconf("SC_PAGE_SIZE") // 1024)
    return parent, rss


def tree_pids(root: int, parent: dict[int, int] | None = None) -> set[int]:
    """``root`` and all its live descendants: the driver JVM is a child
    of this process and the Python workers are children of the JVM."""
    if parent is None:
        parent = _process_table()[0]
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    keep, frontier = {root}, [root]
    while frontier:
        frontier = [c for p in frontier for c in children.get(p, ())
                    if c not in keep]
        keep.update(frontier)
    return keep


def _stat_cpu_ticks(path: str, fields: slice) -> int:
    """Sum of the CPU tick ``fields`` of a /proc stat file (0 if the
    process or thread is gone)."""
    try:
        with open(path) as f:
            st = f.read()
    except OSError:
        return 0
    return sum(int(x) for x in st[st.rindex(")") + 2:].split()[fields])


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) used so
    far by ``root`` and all its live descendants."""
    ticks = sum(_stat_cpu_ticks(f"/proc/{pid}/stat", slice(11, 15))
                for pid in tree_pids(root))
    return ticks / os.sysconf("SC_CLK_TCK")


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the JIT compiler threads of a JVM
    (the JVM must keep them alive: -XX:-UseDynamicNumberOfCompilerThreads,
    or the time of an exited one moves into the process total)."""
    ticks = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
        except OSError:
            continue
        ticks += _stat_cpu_ticks(f"/proc/{jvm_pid}/task/{tid}/stat",
                                 slice(11, 13))
    return ticks / os.sysconf("SC_CLK_TCK")


class CpuClock:
    """CPU seconds used so far by the program: this process (the PySpark
    driver), the driver JVM and the Python workers it starts, without
    the JVM's JIT compiler threads, whose work falls off over the first
    minutes of a JVM and is not the engine's.

    The kernel does not count time the hypervisor gives to other guests
    as a task's CPU time, so on a shared host an operation's CPU seconds
    stay put while its wall time moves with the neighbours' load."""

    def __init__(self, root: int, jvm_pid: int):
        self.root, self.jvm_pid = root, jvm_pid

    def __call__(self) -> float:
        return tree_cpu_s(self.root) - jit_cpu_s(self.jvm_pid)


def _tree_rss_kb(root: int) -> int:
    """Resident memory of ``root`` and all its descendants (kB)."""
    parent, rss = _process_table()
    return sum(rss.get(p, 0) for p in tree_pids(root, parent))


class PeakRss:
    """Samples the process tree's resident memory every ``period`` s on
    a daemon thread; ``stop()`` joins it and returns the peak in MB."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "PeakRss":
        self._t.start()
        return self

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me))
            self._stop.wait(self.period)

    def stop(self) -> float:
        self._stop.set()
        self._t.join(timeout=10)
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
        return self.peak_kb / 1024.0
