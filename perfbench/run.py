"""Engine benchmark: one workload per run, end-to-end metrics checked
against the program's expected outputs.

    python3 perfbench/run.py --workload {serve,near_dup} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout (the directory holding
``garamond_jl_spark/``).  Spark runs at ``local[nproc // 2]`` with twice
as many shuffle partitions (see ``inputs.spark_cpus``).  Everything the
run writes (corpus parquet, indexes, Spark scratch, the run's JSON
artifact) goes under ``.perfbench/`` in that checkout.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The lines
before it print every end-to-end figure of the workload by name and
unit.  See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
STATE_DIR = os.path.join(ROOT, ".perfbench")

# per-layer metrics printed by a traced run: (layer, metric) pairs, in
# the order BENCHMARK.json lists them as "<layer>.<metric>"
LAYERS = ("server.socket", "lifecycle.response_json", "query.embed",
          "query.score", "query.rank", "query.hydrate",
          "resident.make_resident", "build.assign_dense_ids",
          "build.tokenize", "build.term_stats", "build.weighting",
          "build.doc_table", "persist.build", "persist.postings_raw",
          "persist.terms", "persist.postings", "persist.blocks",
          "persist.term_max", "persist.docs",
          "incremental.append", "incremental.delete",
          "incremental.load_live", "incremental.compact", "dedup.minhash",
          "dedup.simhash", "ann.lsh", "semantic.boe")
LAYER_GENERIC = ("self_s", "jobs", "busy_s")
LAYER_EXTRA = (("lifecycle.response_json", "jobs_per_call", "count"),
               ("query.score", "shuffle_bytes", "B"),
               ("query.rank", "shuffle_bytes", "B"),
               ("resident.make_resident", "cached_bytes", "B"),
               ("build.tokenize", "py_bytes_out", "B"),
               ("build.tokenize", "py_rows_out", "count"),
               ("build.weighting", "shuffle_bytes", "B"),
               ("persist.postings", "bytes_written", "B"),
               ("persist.docs", "bytes_written", "B"),
               ("incremental.append", "bytes_written", "B"),
               ("incremental.load_live", "delta_segments", "count"),
               ("incremental.compact", "bytes_rewritten", "B"),
               ("dedup.minhash", "shuffle_bytes", "B"),
               ("dedup.simhash", "py_bytes_out", "B"),
               ("ann.lsh", "checkpoint_bytes", "B"),
               ("semantic.boe", "shuffle_bytes", "B"),
               # driver-side time (planning, collects) of the layers
               # that run their own jobs, and the task fan-out and
               # scheduler wait of a request's scoring
               *((layer, "driver_s", "s") for layer in (
                   "lifecycle.response_json", "resident.make_resident",
                   "persist.build", "incremental.append",
                   "incremental.load_live", "incremental.compact",
                   "dedup.minhash", "dedup.simhash", "ann.lsh",
                   "semantic.boe")),
               ("query.score", "tasks", "count"),
               ("query.score", "wait_s", "s"),
               ("query.hydrate", "tasks", "count"))
END_TO_END = (("setup_s", "s"), ("op_cpu_s", "s"))
STORAGE_SETTLE_S = 5.0
JVM_EXIT_S = 30.0


def per_layer_names() -> list[tuple[str, str]]:
    """(metric name, unit) of every per-layer metric, in order."""
    out = [(f"{layer}.{m}", "s" if m.endswith("_s") else "count")
           for layer in LAYERS for m in LAYER_GENERIC]
    out += [(f"{layer}.{m}", unit) for layer, m, unit in LAYER_EXTRA]
    out.append(("tracing_overhead_frac", "ratio"))
    return out


def _process_start() -> float:
    """Wall-clock time this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        st = f.read()
    start_ticks = int(st[st.rindex(")") + 2:].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f
                     if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


class Run:
    """State of one benchmark run, handed to the workload."""

    def __init__(self, args, spark, tracer, started: float, cpu):
        self.seed, self.seconds = args.seed, args.seconds
        self.spark, self.tracer, self.cpu = spark, tracer, cpu
        self.bench_dir, self.state_dir = BENCH_DIR, STATE_DIR
        self.started = started
        self.setup_s = None
        self.storage_baseline = None
        self.setup_overhead_s = 0.0
        self.failures: list[str] = []
        self.failed_ops = 0

    def fresh_dir(self, name: str) -> str:
        import shutil
        path = os.path.join(STATE_DIR, "runs", f"{name}-{os.getpid()}")
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        return path

    def setup_done(self, storage_rdds: int) -> None:
        """Marks the start of the timed phase."""
        self.setup_s = time.time() - self.started
        self.storage_baseline = storage_rdds
        self.setup_overhead_s = self.tracer.overhead_s

    def check_storage(self, storage_rdds) -> None:
        """Executor storage must be back at its post-set-up level.
        ``storage_rdds()`` is polled for a few seconds: operators
        release their caches with non-blocking unpersists."""
        deadline = time.time() + STORAGE_SETTLE_S
        while (n := storage_rdds()) != self.storage_baseline \
                and time.time() < deadline:
            time.sleep(0.1)
        if n != self.storage_baseline:
            self.fail("executor storage", [
                f"{n} stored RDDs at the end, "
                f"{self.storage_baseline} after set-up"])

    def fail(self, what: str, problems: list[str]) -> None:
        if problems:
            self.failed_ops += 1
            self.failures += [f"{what}: {p}" for p in problems[:5]]


def _configure_env() -> None:
    """Keep every file Spark and Python write inside the checkout and
    fix the session's memory, identically for every run."""
    scratch = os.path.join(STATE_DIR, "tmp")
    os.makedirs(scratch, exist_ok=True)
    os.environ["TMPDIR"] = scratch
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE_DIR, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    # spark-submit's launcher is a JVM of its own
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        # the traced run reads jobs back from the status store after
        # the timed phase: retain enough of them for a whole run
        "--conf spark.ui.retainedJobs=20000 "
        "--conf spark.ui.retainedStages=40000 "
        "--conf spark.sql.ui.retainedExecutions=20000 "
        # no hsperfdata file under /tmp: the run writes only in the
        # checkout; JIT compiler threads that never exit (see CpuClock)
        f"--driver-java-options '-Djava.io.tmpdir={scratch} -XX:-UsePerfData"
        " -XX:-UseDynamicNumberOfCompilerThreads'"
        " pyspark-shell")


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            st = f.read()
    except OSError:
        return False
    return st[st.rindex(")") + 2] not in "ZX"


def _stop_spark(spark) -> None:
    """Stop the session and its JVM (which exits when its standard input
    closes), and wait until the JVM and the Python workers it started
    have ended; whatever is still alive after 30 s is killed."""
    from pyspark import SparkContext
    from inputs import tree_pids
    gateway = SparkContext._gateway
    proc = gateway.proc
    started = tree_pids(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    for pid in _wait_gone(started, JVM_EXIT_S):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait(timeout=JVM_EXIT_S)
    _wait_gone(started, JVM_EXIT_S)


def _wait_gone(pids, seconds: float) -> list[int]:
    """Wait up to ``seconds`` for ``pids`` to end; returns those alive."""
    deadline = time.time() + seconds
    while (left := [p for p in pids if _alive(p)]) and time.time() < deadline:
        time.sleep(0.1)
    return left


def _summary(values: list[float], how: str):
    from inputs import percentile
    if how == "value":
        return values, None
    if how == "p50":
        return (statistics.median(values) if values else None), None
    try:
        return percentile(values, 0.9), None
    except ValueError as e:
        return None, str(e)


def _peer_artifact(workload: str, seed: int, trace: int) -> dict | None:
    path = os.path.join(STATE_DIR, "out", f"{workload}-seed{seed}-trace{trace}.json")
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def main(argv: list[str] | None = None) -> int:
    started = _process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("serve", "near_dup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "garamond_jl_spark",
                                       "__init__.py")):
        print(f"perfbench: no garamond_jl_spark package in {ROOT}; run "
              "from the root of a checkout", file=sys.stderr)
        return 2

    _configure_env()
    sys.path.insert(0, ROOT)
    from inputs import (CpuClock, PeakRss, host_canaries, host_record,
                        spark_cpus, steal_frac)
    from spans import Tracer, layer_table
    from workloads import WORKLOADS, split_stage
    from garamond_jl_spark.session import get_spark

    rss = PeakRss().start()
    host = {"before": host_record()}
    nproc = host["before"]["nproc"]
    cpus = host["spark_cpus"] = spark_cpus(nproc)
    spark = get_spark("perfbench", cpus=cpus, shuffle_partitions=2 * cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        host["canaries_before"] = host_canaries(spark)
        tracer = Tracer(spark, enabled=bool(args.trace))
        run = Run(args, spark, tracer, started, CpuClock(
            os.getpid(), spark.sparkContext._gateway.proc.pid))
        out = WORKLOADS[args.workload](run)
        tracer.harvest()
    finally:
        peak_mb = rss.stop()
        _stop_spark(spark)
    host["after"] = host_record()
    host["cpu_steal_frac"] = round(steal_frac(host["before"], host["after"]), 4)

    failed = min(run.failed_ops, out["attempted"])
    # op_cpu_s is the result; op_p50_s, the wall time, is printed
    e2e = {"setup_s": run.setup_s,
           "op_cpu_s": _summary(out["op_cpu_s"], "p50")[0],
           "op_p50_s": _summary(out["op_s"], "p50")[0]}
    report = {}
    for name, (how, vals, unit) in out["report"].items():
        v, why = _summary(vals, how)
        report[name] = {"value": v, "unit": unit,
                        "n": len(vals) if isinstance(vals, list) else 1,
                        **({"unavailable": why} if why else {})}
    report["peak_rss_mb"] = {"value": peak_mb, "unit": "MB", "n": 1}
    report["failed_frac"] = {"value": failed / max(1, out["attempted"]),
                             "unit": "ratio", "n": out["attempted"]}

    artifact = {"workload": args.workload, "seed": args.seed,
                "seconds": args.seconds, "trace": args.trace,
                "host": host, "sizes": out["sizes"],
                "end_to_end": e2e, "op_s": out["op_s"],
                "op_cpu_s": out["op_cpu_s"], "report": report,
                "failures": run.failures}
    metrics = {name: {"value": e2e[name], "unit": unit}
               for name, unit in END_TO_END}
    if args.trace:
        layers = layer_table(tracer.spans, split_stage)
        for r in layers.values():
            r["jobs_per_call"] = r["jobs"] / r["calls"] if r["calls"] else 0.0
        overhead = ((tracer.overhead_s - run.setup_overhead_s)
                    / max(out["timed_s"], 1e-9))
        metrics = {}
        for name, unit in per_layer_names():
            layer, _, m = name.rpartition(".")
            v = overhead if name == "tracing_overhead_frac" else \
                layers.get(layer, {}).get(m, 0.0)
            metrics[name] = {"value": v, "unit": unit}
        artifact["layers"] = layers
        artifact["spans"] = tracer.spans
        untraced = _peer_artifact(args.workload, args.seed, 0)
        for name in ("op_cpu_s", "op_p50_s"):
            if untraced and name in untraced["end_to_end"]:
                artifact[f"traced_minus_untraced_{name}"] = (
                    e2e[name] - untraced["end_to_end"][name])

    os.makedirs(os.path.join(STATE_DIR, "out"), exist_ok=True)
    with open(os.path.join(STATE_DIR, "out", f"{args.workload}-seed"
                           f"{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1, default=str)

    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds}"
          f" trace={args.trace} nproc {nproc} local[{cpus}] "
          f"loadavg {host['before']['loadavg']} -> {host['after']['loadavg']}"
          f" cpu_steal_frac {host['cpu_steal_frac']}")
    for name in e2e:
        print(f"{name} {e2e[name]:.6g} s")
    for name, r in report.items():
        shown = "n/a" if r["value"] is None else f"{r['value']:.6g}"
        print(f"{name} {shown} {r['unit']} (n={r['n']})"
              + (f" [{r['unavailable']}]" if "unavailable" in r else ""))
    if args.trace:
        print(f"tracing_overhead_frac {metrics['tracing_overhead_frac']['value']:.6g}")
        for name in ("op_cpu_s", "op_p50_s"):
            if f"traced_minus_untraced_{name}" in artifact:
                print(f"traced_minus_untraced_{name} "
                      f"{artifact[f'traced_minus_untraced_{name}']:.6g} s")
    for line in run.failures[:20]:
        print(f"FAILED {line}")
    print(json.dumps({"correct": failed == 0, "attempted": out["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
