"""Run one benchmark workload and print its result as the last stdout line.

    python3 e2ebench/run.py --workload check_mix --seed 1 --seconds 15 --trace 0

One client drives a ``local[nproc]`` session in a closed loop: the next
operation starts only after the previous one returned and passed its
correctness gate. A run is: session start, input generation (not timed),
one-time set-up plus the first (cold) operation, untimed warm-up
operations past the warm-up slope, then the timed phase.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
loop with Spark's event log on; every second cycle of the timed phase is
traced (see ``spans.py``) and the result holds the per-layer metrics plus
the tracing overhead, measured against the untraced cycles of the same run.

The line before the result is a ``{"detail": ...}`` object: the box
(nproc, MemTotal, pyspark / Java / pyarrow versions), sample counts,
half-medians of the timed phase and per-kind latencies.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

#: a run stops its timed phase early rather than pass this many seconds
HARD_LIMIT_S = 160.0
RSS_PERIOD_S = 1.0


# ---------------------------------------------------------------------------
# the box
# ---------------------------------------------------------------------------


def mem_total_kb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class RssSampler(threading.Thread):
    """Peak proportional set size of this process and all its descendants
    (driver JVM, Python driver, Python workers), sampled periodically."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._stop_event = threading.Event()

    @staticmethod
    def _tree(root: int) -> list[int]:
        parent: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
        out, todo = [], [root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(c for c, pp in parent.items() if pp == p)
        return out

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> None:
        kb = sum(self._pss_kb(p) for p in self._tree(os.getpid()))
        self.peak_kb = max(self.peak_kb, kb)

    def run(self) -> None:
        while not self._stop_event.wait(RSS_PERIOD_S):
            self.sample()

    def stop(self) -> None:
        self._stop_event.set()
        self.join()
        self.sample()


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


def start_session(workdir: str, trace: bool):
    """A ``local[nproc]`` session sized from the machine, writing only under
    ``workdir``. The traced run writes an uncompressed event log: the
    default codec needs a Python package that is not installed."""
    from pyspark.sql import SparkSession

    cpus = nproc()
    heap_mb = mem_total_kb() // 4 // 1024
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("e2ebench")
        .config("spark.driver.memory", f"{heap_mb}m")
        # a heap that starts at its full size: growing it from the JVM's
        # small default adds a garbage-collection slope to the first
        # operations on the full tables
        .config("spark.driver.extraJavaOptions", f"-Xms{heap_mb}m -Djava.io.tmpdir={tmp}")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "warehouse"))
        .config("spark.local.dir", os.path.join(workdir, "local"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if trace:
        log_dir = os.path.join(workdir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.dir", f"file://{log_dir}")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then the driver JVM, and wait until it has exited
    (its Python workers go with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        proc.wait(timeout=60)


def retained_storage(spark) -> tuple[int, float]:
    """Cached RDDs of the session and their memory + disk size in MB, read
    from the SparkContext's storage info."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    size = sum(int(i.memSize()) + int(i.diskSize()) for i in infos)
    return len(infos), size / (1024.0 * 1024.0)


# ---------------------------------------------------------------------------
# the loop
# ---------------------------------------------------------------------------


class Op:
    __slots__ = ("i", "kind", "traced", "wall_s", "rows", "ok", "errors", "counts")

    def __init__(self, i, kind, traced) -> None:
        self.i, self.kind, self.traced = i, kind, traced
        self.wall_s, self.rows, self.ok, self.errors, self.counts = 0.0, 0, False, [], {}


def run_op(wl, i: int, phase: str, tracer=None) -> Op:
    """Time one operation, then gate its answer. An exception or a failed
    gate makes a failed operation."""
    op = Op(i, wl.kind(i), tracer is not None)
    t0 = time.perf_counter()
    try:
        if tracer is None:
            rows, answer = wl.run(i)
        else:
            with tracer.op(i):
                rows, answer = wl.run(i)
        op.wall_s = time.perf_counter() - t0
        op.rows = rows
        op.errors = wl.gate(i, answer)
        op.counts = wl.counts(i, answer)
    except Exception as exc:  # a crashed operation is a failed operation
        op.wall_s = time.perf_counter() - t0
        op.errors = [f"{type(exc).__name__}: {exc}"]
    op.ok = not op.errors
    print(f"{phase} {op.kind} #{i} {op.wall_s:.3f}s{'' if op.ok else ' FAILED'}", file=sys.stderr)
    for e in op.errors:
        print(f"FAILED {op.kind} #{i}: {e[:2000]}", file=sys.stderr)
    return op


def timed_phase(wl, first: int, seconds: float, started: float, tracer=None) -> list[Op]:
    """Whole cycles until ``seconds`` have passed and the workload's
    ``min_timed_ops`` ran (at least 11, so op_tail_s has ten beyond it), or
    the workload's inputs run out. In a traced run every second cycle is
    traced, and the phase ends after a traced cycle."""
    n_cycle = len(wl.cycle)
    ops: list[Op] = []
    t0 = time.perf_counter()
    i = first
    while True:
        c = (i - first) // n_cycle
        traced = tracer is not None and c % 2 == 1
        ops.append(run_op(wl, i, "timed", tracer if traced else None))
        i += 1
        if (i - first) % n_cycle:
            continue
        enough = time.perf_counter() - t0 >= seconds and len(ops) >= wl.min_timed_ops
        if tracer is not None:
            enough = enough and (i - first) // n_cycle % 2 == 0
        out_of_inputs = i + n_cycle > wl.max_ops
        if enough or out_of_inputs or time.perf_counter() - started > HARD_LIMIT_S:
            return ops


def _median_by_kind(ops: list[Op]) -> dict[str, float]:
    kinds: dict[str, list[float]] = {}
    for o in ops:
        kinds.setdefault(o.kind, []).append(o.wall_s)
    return {k: statistics.median(v) for k, v in kinds.items()}


def end_to_end(timed: list[Op], setup_s: float, peak_kb: int) -> dict[str, dict]:
    from stats import tail

    lat = [o.wall_s for o in timed]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_p50_s": {"value": statistics.median(lat), "unit": "s"},
        "op_tail_s": {"value": tail(lat), "unit": "s"},
        "rows_per_s": {"value": sum(o.rows for o in timed) / sum(lat), "unit": "rows/s"},
        "peak_rss_mb": {"value": peak_kb / 1024.0, "unit": "MB"},
    }


def per_layer(
    tracer, extra: list[Op], timed: list[Op], log_dir: str, storage_mb: float
) -> tuple[dict[str, dict], dict[str, float]]:
    """Per-layer metrics per traced timed operation; the traced-only
    operations (ingest_publish's batch dedup call) add theirs per call."""
    import spans as tr

    traced = [o for o in timed if o.traced]
    plain = [o for o in timed if not o.traced]
    costs = tr.span_costs(tracer.spans, tr.read_event_log(tr.event_log_files(log_dir)))
    layers = tr.layer_metrics([c for c in costs if c["op"] is not None and c["op"] >= 0], len(traced))
    for o in extra:
        once = tr.layer_metrics([c for c in costs if c["op"] == o.i], 1)
        layers = {k: v + once[k] for k, v in layers.items()}
    # the dedup counts are per dedup_clusters call, the others per traced
    # operation that reports them
    ops = traced + extra
    dedup_ops = {o.i for o in ops if "dedup.clusters_n" in o.counts}
    n_dedup = max(len(dedup_ops), 1)
    cand = sum(v for op_i, st, v in tracer.counts if st == "dedup.candidates" and op_i in dedup_ops)
    first_cc: dict[int, int] = {}
    for op_i, st, v in tracer.counts:
        if st == "dedup.cc" and op_i in dedup_ops:
            first_cc.setdefault(op_i, v)
    # connected_components' first count is of its directed edge list,
    # two rows per verified pair
    pairs = sum(first_cc.values()) / 2

    def mean_count(key: str) -> float:
        vals = [o.counts[key] for o in ops if key in o.counts]
        return statistics.mean(vals) if vals else 0.0

    counts = {
        "dedup.candidates_n": cand / n_dedup,
        "dedup.pairs_n": pairs / n_dedup,
        "dedup.useful_ratio": pairs / cand if cand else 0.0,
        "dedup.clusters_n": mean_count("dedup.clusters_n"),
        "dedup.retained_storage_mb": storage_mb,
        "dedup.index_matches_n": mean_count("dedup.index_matches_n"),
        "layout.rejected_days": sum(o.counts.get("layout.rejected_days", 0.0) for o in traced),
    }
    by_kind_t, by_kind_p = _median_by_kind(traced), _median_by_kind(plain)
    overhead = 100.0 * (sum(by_kind_t.values()) / sum(by_kind_p.values()) - 1.0)
    cov = tr.coverage(costs, {o.i: o.wall_s for o in ops})
    cov_by_kind: dict[str, list[float]] = {}
    for o in ops:
        cov_by_kind.setdefault(o.kind, []).append(cov.get(o.i, 0.0))
    out = {}
    for k, v in layers.items():
        unit = "count" if k.endswith(".jobs") else ("MB" if k.endswith("_mb") else "s")
        out[k] = {"value": v, "unit": unit}
    for k, v in counts.items():
        unit = "MB" if k.endswith("_mb") else ("ratio" if k.endswith("_ratio") else "count")
        out[k] = {"value": v, "unit": unit}
    out["trace.overhead_pct"] = {"value": overhead, "unit": "%"}
    out["trace.coverage_min"] = {
        "value": min(statistics.mean(v) for v in cov_by_kind.values()),
        "unit": "ratio",
    }
    return out, {k: statistics.mean(v) for k, v in cov_by_kind.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import truthound_spark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the package under test: {exc}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    import logging

    logging.getLogger("truthound_spark").setLevel(logging.ERROR)

    started = time.perf_counter()
    workdir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(workdir)
    sampler = RssSampler()
    sampler.start()
    try:
        return _run(args, workdir, sampler, started)
    finally:
        if sampler.is_alive():
            sampler.stop()
        shutil.rmtree(workdir, ignore_errors=True)


def _run(args, workdir: str, sampler: RssSampler, started: float) -> int:
    import pyarrow
    import pyspark
    from workloads import WORKLOADS

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(workdir, bool(args.trace))
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, args.seed, workdir)
        t0 = time.perf_counter()
        wl.generate()
        print(f"session {session_s:.3f}s, inputs {time.perf_counter() - t0:.3f}s", file=sys.stderr)
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
        t0 = time.perf_counter()
        wl.setup()
        cold = run_op(wl, 0, "cold")
        setup_s = session_s + time.perf_counter() - t0
        warm = [run_op(wl, i, "warmup") for i in range(1, 1 + wl.warmup_ops)]
        timed = timed_phase(wl, 1 + len(warm), args.seconds, started, tracer)
        rdds, storage_mb = retained_storage(spark)
        extra: list[Op] = []
        if tracer is not None and wl.trace_ops:
            wl.setup_trace()
            extra = [run_op(wl, i, "traced", tracer) for i in wl.trace_ops]
            rdds, storage_mb = retained_storage(spark)
        wl.close()
        sampler.stop()
        java = spark._jvm.java.lang.System.getProperty("java.version")
    finally:
        if spark is not None:
            stop_session(spark)

    from stats import half_medians, tail_percentile

    ops = [cold] + warm + timed + extra
    lat = [o.wall_s for o in timed]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "box": {
            "nproc": nproc(),
            "mem_total_kb": mem_total_kb(),
            "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "java": java,
        },
        "timed_ops": len(timed),
        "tail_percentile": tail_percentile(len(timed)) if len(timed) > 10 else None,
        "half_medians_s": half_medians(lat),
        "median_by_kind_s": _median_by_kind(timed),
        "trace_ops_s": [o.wall_s for o in extra],
        "warmup_s": [round(o.wall_s, 4) for o in [cold] + warm],
        "retained_rdds": rdds,
        "retained_storage_mb": storage_mb,
        "run_s": time.perf_counter() - started,
    }
    failed = sum(1 for o in ops if not o.ok)
    if args.trace:
        metrics, cov = per_layer(
            tracer, extra, timed, os.path.join(workdir, "eventlog"), storage_mb
        )
        detail["coverage_by_kind"] = cov
    else:
        metrics = end_to_end(timed, setup_s, sampler.peak_kb)
    print(json.dumps({"detail": detail}))
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
