"""Per-layer tracing from the benchmark's side of the package boundary.

A :class:`Tracer` wraps the package's public calls (and the one private
evidence hook named in ``targets``) for the duration of one operation. Every call opens a span with its own Spark job group, so each
Spark job belongs to exactly one span: the innermost one open when it was
submitted. After the session stops, :func:`read_event_log` parses Spark's
uncompressed event log and :func:`layer_metrics` joins the span records to
the ``SparkListenerTaskEnd`` metrics of each group.

A stage is the *exclusive* part of its spans: the span's wall time minus
the wall time of spans nested in it. So ``core.fused`` is
``execute_with_stats`` minus ``core.compile`` and ``core.evidence``, and
``dedup.verify`` is ``minhash_dedup_pairs`` minus ``minhash_lsh_candidates``.

Spark is lazy: a public call that returns an unexecuted DataFrame does its
work when someone forces it. When the caller forces exactly that returned
object (``count``, ``collect``, ``localCheckpoint``, ...), the forcing call
is charged to the stage that built it. Work forced through a *derived*
DataFrame stays with the span that forced it; for example the verify
kernel runs inside ``connected_components``' first checkpoint and is
charged to ``dedup.cc``.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from contextlib import contextmanager
from typing import Any, Callable, Iterator

STAGES = [
    "api.check",
    "core.compile",
    "core.fused",
    "core.evidence",
    "schema.learn",
    "validators.referential",
    "layout.publish",
    "layout.incremental_check",
    "dedup.signature",
    "dedup.candidates",
    "dedup.verify",
    "dedup.cc",
    "dedup.index_probe",
]
SPAN_METRICS = [
    "wall_s",
    "driver_s",
    "task_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "spill_mb",
    "result_mb",
    "jobs",
]
COUNTS = [
    "dedup.candidates_n",
    "dedup.pairs_n",
    "dedup.useful_ratio",
    "dedup.clusters_n",
    "dedup.retained_storage_mb",
    "dedup.index_matches_n",
    "layout.rejected_days",
]
#: stages whose nested public calls are charged to them, not split out:
#: the index probe's own signature step is part of the probe
ABSORBING = {"dedup.index_probe"}
#: DataFrame methods that force a plan
FORCING = ["count", "collect", "first", "isEmpty", "localCheckpoint", "toArrow", "toPandas"]
MB = 1024.0 * 1024.0


def targets() -> list[tuple[Any, str, str]]:
    """(owner, attribute, stage) for every call the tracer wraps."""
    import truthound_spark
    import truthound_spark.api as api
    import truthound_spark.layout as layout
    import truthound_spark.pipeline.dedup as dedup
    import truthound_spark.schema as schema
    from truthound_spark.core.base import Validator
    from truthound_spark.core.executor import BatchExpressionExecutor
    from truthound_spark.validators.referential import ForeignKeyValidator

    out: list[tuple[Any, str, str]] = [
        (truthound_spark, "check", "api.check"),
        (api, "check", "api.check"),
        (BatchExpressionExecutor, "execute_with_stats", "core.fused"),
        # evidence has no public entry point; its per-issue hook is the
        # narrowest call that holds exactly the evidence jobs
        (BatchExpressionExecutor, "_enrich", "core.evidence"),
        (schema, "learn", "schema.learn"),
        (ForeignKeyValidator, "validate", "validators.referential"),
        (layout, "write_audit_publish_partition", "layout.publish"),
        (layout, "incremental_check", "layout.incremental_check"),
        (dedup, "minhash_signatures", "dedup.signature"),
        (dedup, "minhash_lsh_candidates", "dedup.candidates"),
        (dedup, "minhash_dedup_pairs", "dedup.verify"),
        (dedup, "connected_components", "dedup.cc"),
        (dedup, "dedup_clusters", "dedup.cc"),
        (dedup, "incremental_dedup_indexed", "dedup.index_probe"),
    ]
    seen: set[type] = set()
    todo = [Validator]
    while todo:
        cls = todo.pop()
        if cls in seen:
            continue
        seen.add(cls)
        todo.extend(cls.__subclasses__())
        if "specs" in cls.__dict__:
            out.append((cls, "specs", "core.compile"))
    return out


class Tracer:
    """Spans for traced operations; install with :meth:`op`."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.df_class = type(spark.range(1))
        self.spans: list[dict[str, Any]] = []
        #: (op index, stage, value) of every count() forced inside a span
        self.counts: list[tuple[int, str, int]] = []
        self._stack: list[dict[str, Any]] = []
        self._lazy: dict[int, tuple[Any, str]] = {}
        self._op: int | None = None
        self._seq = 0
        self._targets = targets()

    # -- job groups ---------------------------------------------------
    def _set_group(self, span: dict[str, Any] | None) -> None:
        if span is None:
            for k in ("spark.jobGroup.id", "spark.job.description"):
                self.sc.setLocalProperty(k, None)
        else:
            self.sc.setJobGroup(span["gid"], span["stage"])

    @contextmanager
    def span(self, stage: str) -> Iterator[None]:
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        s = {
            "gid": f"e2e-{os.getpid()}-{self._seq}",
            "stage": stage,
            "op": self._op,
            "parent": parent["gid"] if parent else None,
            "t0": time.time() * 1000.0,
        }
        self._stack.append(s)
        self._set_group(s)
        try:
            yield
        finally:
            s["t1"] = time.time() * 1000.0
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(s)

    def _opens(self, stage: str) -> bool:
        """A nested call of the same stage, or inside an absorbing stage,
        stays in the enclosing span."""
        if not self._stack:
            return True
        cur = self._stack[-1]["stage"]
        return cur != stage and cur not in ABSORBING

    # -- wrappers -----------------------------------------------------
    def _wrap(self, fn: Callable, stage: str) -> Callable:
        df_class = self.df_class

        def traced(*args, **kwargs):
            if not self._opens(stage):
                return fn(*args, **kwargs)
            with self.span(stage):
                out = fn(*args, **kwargs)
            if isinstance(out, df_class):
                self._lazy[id(out)] = (out, stage)
            return out

        return traced

    def _wrap_forcing(self, fn: Callable, name: str) -> Callable:
        def forcing(df, *args, **kwargs):
            hit = self._lazy.get(id(df))
            if hit is not None and hit[0] is df and self._opens(hit[1]):
                stage = hit[1]
                with self.span(stage):
                    out = fn(df, *args, **kwargs)
            else:
                stage = self._stack[-1]["stage"] if self._stack else None
                out = fn(df, *args, **kwargs)
            if name == "count" and stage is not None:
                self.counts.append((self._op, stage, int(out)))
            return out

        return forcing

    @contextmanager
    def op(self, index: int) -> Iterator[None]:
        """Trace one operation: wrap every target, then restore them."""
        self._op = index
        saved = []
        for owner, attr, stage in self._targets:
            orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, stage))
        for name in FORCING:
            orig = self.df_class.__dict__.get(name)
            if orig is None:
                continue
            saved.append((self.df_class, name, orig))
            setattr(self.df_class, name, self._wrap_forcing(orig, name))
        try:
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)
            self._lazy.clear()
            self._op = None


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def event_log_files(log_dir: str) -> list[str]:
    """The event log files of the one application under ``log_dir``, in
    write order (rolling ``events_<n>_...`` files or one plain file)."""
    files = [
        f
        for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith(("appstatus", "."))
    ]

    def order(f: str) -> tuple[int, str]:
        m = re.match(r"events_(\d+)_", os.path.basename(f))
        return (int(m.group(1)) if m else 0, f)

    return sorted(files, key=order)


def read_event_log(files: list[str]) -> dict[str, dict[str, Any]]:
    """Per job group: ``jobs`` and a list of task tuples
    ``(launch_ms, finish_ms, cpu_ns, gc_ms, shuffle_write_b, spill_b, result_b)``."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict[str, Any]] = {}
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid is None:
                        continue
                    g = groups.setdefault(gid, {"jobs": 0, "tasks": []})
                    g["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, gid)
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    gid = stage_group.get(ev.get("Stage ID"))
                    if gid is None:
                        continue
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    groups[gid]["tasks"].append(
                        (
                            float(info.get("Launch Time", 0)),
                            float(info.get("Finish Time", 0)),
                            int(m.get("Executor CPU Time", 0)),
                            int(m.get("JVM GC Time", 0)),
                            int(sw.get("Shuffle Bytes Written", 0)),
                            int(m.get("Disk Bytes Spilled", 0)),
                            int(m.get("Result Size", 0)),
                        )
                    )
    return groups


# ---------------------------------------------------------------------------
# joining spans to task metrics
# ---------------------------------------------------------------------------


def _union(iv: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[tuple[float, float]] = []
    for a, b in sorted(iv):
        if b <= a:
            continue
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def _length(iv: list[tuple[float, float]]) -> float:
    return sum(b - a for a, b in iv)


def _minus(base: list[tuple[float, float]], cut: list[tuple[float, float]]):
    out = []
    for a, b in base:
        cur = a
        for c, d in cut:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out


def span_costs(
    spans: list[dict[str, Any]], groups: dict[str, dict[str, Any]]
) -> list[dict[str, Any]]:
    """Exclusive cost of every span: its own wall time and its own jobs'
    task metrics (seconds / MB)."""
    children: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    out = []
    for s in spans:
        own = _minus([(s["t0"], s["t1"])], _union(children.get(s["gid"], [])))
        g = groups.get(s["gid"], {"jobs": 0, "tasks": []})
        tasks = g["tasks"]
        busy = _union([(t[0], t[1]) for t in tasks])
        wall = _length(own)
        idle = _length(_minus(own, busy))
        out.append(
            {
                "op": s["op"],
                "stage": s["stage"],
                "top": s["parent"] is None,
                "wall_s": wall / 1000.0,
                "driver_s": idle / 1000.0,
                "task_cpu_s": sum(t[2] for t in tasks) / 1e9,
                "gc_s": sum(t[3] for t in tasks) / 1000.0,
                "shuffle_write_mb": sum(t[4] for t in tasks) / MB,
                "spill_mb": sum(t[5] for t in tasks) / MB,
                "result_mb": sum(t[6] for t in tasks) / MB,
                "jobs": g["jobs"],
            }
        )
    return out


def layer_metrics(costs: list[dict[str, Any]], n_ops: int) -> dict[str, float]:
    """``<stage>.<metric>`` per operation (sum over the given spans divided
    by ``n_ops``); stages that did not run are 0."""
    out = {f"{st}.{m}": 0.0 for st in STAGES for m in SPAN_METRICS}
    for c in costs:
        for m in SPAN_METRICS:
            out[f"{c['stage']}.{m}"] += c[m]
    return {k: v / max(n_ops, 1) for k, v in out.items()}


def coverage(costs: list[dict[str, Any]], op_walls: dict[int, float]) -> dict[int, float]:
    """Share of each traced operation's wall time that its stages account
    for. Exclusive stage times telescope, so this is the share spent
    inside any traced public call."""
    inside: dict[int, float] = {}
    for c in costs:
        inside[c["op"]] = inside.get(c["op"], 0.0) + c["wall_s"]
    return {op: inside.get(op, 0.0) / wall for op, wall in op_walls.items() if wall > 0}
