"""The repo benchmark: one command per workload, timed from outside.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 6 --trace 0

Run from the root of a checkout.  Workloads (LAYERS.md, BENCHMARK.json):
``ingest`` (the streaming pipeline: a live open-loop feed, then backlog
drains) and ``query_mix`` (one client running registered queries).  Every
output is checked against DuckDB; a failed check makes the command exit 1.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the run alternates untraced and traced samples and the
last line carries the per-layer metrics, including the tracing overhead.
The line before it is the full record: host, generator lateness, every
phase, and the metrics under their workload-specific names with units.
Spans are written to ``.bench_out/`` in the checkout.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: The end-to-end metrics every run reports (BENCHMARK.json).  latency_s is
#: the live phase's median due-to-commit latency on ``ingest`` and the
#: geometric mean of the queries' median warm times on ``query_mix``; bulk_s
#: is one backlog drain on ``ingest`` and one pass over the mix on
#: ``query_mix``.
E2E_UNITS = {"setup_s": "s", "latency_s": "s", "bulk_s": "s"}
#: The same figures under their workload-specific names, plus those with no
#: bound (the p90s, memory, failures), printed in the record line.
NAMED_UNITS = {"setup_s": "s", "land_p50_s": "s", "land_p90_s": "s", "backfill_rows_per_s": "rows/s",
               "query_geomean_s": "s", "query_p50_s": "s", "query_p90_s": "s", "mix_queries_per_min": "1/min",
               "peak_rss_mb": "MB", "failed_ratio": "ratio"}
#: A run in which other guests of the host took at least this share of CPU
#: time is flagged as not comparable: on a 4-core VM, ingest and query_mix
#: timings spread 0.10-0.20 (IQR / median) over runs below it and up to 0.3
#: over runs with 2-20 % steal.
STEAL_LIMIT = 0.02


class RssSampler(threading.Thread):
    """Peak resident memory of this process and its descendants (the driver
    JVM and the Python workers), sampled from /proc."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak = 0
        self.excluded: set[int] = set()
        self._stop_ev = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def tree_rss(self) -> int:
        kids: dict[int, list[int]] = {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(p))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in self.excluded:
                continue
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
            todo.extend(kids.get(pid, ()))
        return total

    def run(self) -> None:
        while not self._stop_ev.is_set():
            self.peak = max(self.peak, self.tree_rss())
            self._stop_ev.wait(0.1)

    def stop(self) -> None:
        self._stop_ev.set()
        self.join(timeout=5)


class Bench:
    """State of one run, handed to the workload."""

    def __init__(self, args, work: str) -> None:
        from spans import Tracer

        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.here, self.work = HERE, work
        self.tracer = Tracer()
        self.spark = None
        self.rss = RssSampler()
        self.record: dict = {}
        self.phases: dict[str, dict] = {}
        self.layers: dict[str, float] = {}
        self.problems: list[str] = []
        self.checks = 0
        self.setup_s: float | None = None
        self.valid = True
        self.children: list[subprocess.Popen] = []

    def session(self, cpus: int | None = None):
        """The program's own session factory, at the host's core count
        unless ``cpus`` is given (an existing session is replaced)."""
        from daq_3i_spark import session

        if self.spark is not None:
            self.spark.stop()
        with self.tracer.span("session.start", cpus) as s:
            self.spark = session.get_spark(cpus=cpus)
        self.layers.setdefault("session.start_s", s.seconds)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.log(f"session up: {self.spark.sparkContext.master}")
        return self.spark

    def spawn(self, cmd: list[str]) -> subprocess.Popen:
        p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL)
        self.children.append(p)
        return p

    def exclude_rss(self, pid: int) -> None:
        self.rss.excluded.add(pid)

    def setup_done(self, at: float | None = None) -> None:
        self.setup_s = (at or time.time()) - T_START

    def gc_ms(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(beans.get(i).getCollectionTime() for i in range(beans.size())))

    def log(self, msg: str) -> None:
        print(f"[bench +{time.time() - T_START:.1f}s] {msg}", file=sys.stderr, flush=True)

    def gate(self, label: str, problems: list[str]) -> None:
        self.checks += 1
        for p in problems:
            self.problems.append(f"{label}: {p}")
            self.log(f"CHECK FAILED {label}: {p}")

    def phase_result(self, phase: str, part: str, attempted: int, failed: int, extra: dict,
                     **metrics: float) -> None:
        """Results of one part (backfill, live, mix) of a phase (timed, traced)."""
        self.phases.setdefault(phase, {})[part] = {"attempted": attempted, "failed": failed,
                                                   **metrics, **extra}

    def phase_metric(self, phase: str, name: str) -> float:
        (value,) = [r[name] for r in self.phases[phase].values() if name in r]
        return value

    def close(self) -> None:
        """Stop Spark, its JVM and every process this run started."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        for p in self.children:
            if p.poll() is None:
                p.kill()
            p.wait(timeout=30)


def cpu_ticks() -> list[int]:
    """The host-wide CPU time counters of /proc/stat (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host(ticks0: list[int]) -> dict:
    """The host, and the share of CPU time the hypervisor gave to other
    guests during the run (steal): timings swing with it on a shared host."""
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    d = [b - a for a, b in zip(ticks0, cpu_ticks())]
    return {"nproc": len(os.sched_getaffinity(0)), "mem_gb": round(mem_kb / 2**20, 1),
            "pyspark": pyspark.__version__, "python": sys.version.split()[0],
            "steal": d[7] / max(1, sum(d))}


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-daq benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "daq_3i_spark")):
        print(f"[bench] no daq_3i_spark package under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    # host-sized session; Python workers must import the package; temporary
    # files stay inside the checkout
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    sys.path[:0] = [ROOT, HERE]

    from workloads import WORKLOADS, per_layer_units

    if args.workload not in WORKLOADS:
        print(f"[bench] unknown workload {args.workload}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    for d in (work, os.path.join(work, "tmp"), out_dir):
        os.makedirs(d, exist_ok=True)
    b = Bench(args, work)
    ticks0 = cpu_ticks()
    b.rss.start()
    try:
        WORKLOADS[args.workload](b)
    finally:
        b.close()
        b.rss.stop()
        shutil.rmtree(work, ignore_errors=True)
        tmp = os.path.join(ROOT, ".tmp")
        for e in os.listdir(tmp) if os.path.isdir(tmp) else ():
            if e.endswith(f"-w{os.getpid()}"):
                shutil.rmtree(os.path.join(tmp, e), ignore_errors=True)

    e2e = {"setup_s": b.setup_s, **{k: b.phase_metric("timed", k) for k in E2E_UNITS if k != "setup_s"}}
    b.layers["proc.peak_rss_mb"] = b.rss.peak / 2**20
    parts = [r for ph in b.phases.values() for r in ph.values()]
    attempted = sum(r["attempted"] for r in parts) + b.checks
    failed = sum(r["failed"] for r in parts) + len(b.problems)
    correct = not b.problems
    flat = {"setup_s": b.setup_s, "peak_rss_mb": b.layers["proc.peak_rss_mb"],
            "failed_ratio": failed / attempted,
            **{k: v for r in b.phases["timed"].values() for k, v in r.items()}}
    h = host(ticks0)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "host": h, "comparable": h["steal"] < STEAL_LIMIT,
              "valid": b.valid, "correct": correct,
              "named": {k: {"value": flat[k], "unit": u} for k, u in NAMED_UNITS.items() if k in flat},
              **b.record, "phases": b.phases, "problems": b.problems[:20]}
    if b.trace:
        # tracing overhead: the traced phase's end-to-end figure against the
        # same run's untraced one
        for k, m in (("latency", "latency_s"), ("bulk", "bulk_s")):
            untraced, traced = b.phase_metric("timed", m), b.phase_metric("traced", m)
            b.layers[f"trace.overhead_{k}_pct"] = 100.0 * (traced - untraced) / untraced
        metrics = {k: {"value": float(b.layers.get(k, 0.0)), "unit": u}
                   for k, u in per_layer_units().items()}
        b.tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
    else:
        metrics = {k: {"value": float(v), "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    record["metrics"] = metrics
    print(json.dumps({"record": record}, default=str))
    if not b.valid:
        print("[bench] the load generator fell behind its schedule: run invalid", file=sys.stderr)
        return 3
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
