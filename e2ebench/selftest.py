"""Self-test of the benchmark harness; needs no Spark session.

    python3 e2ebench/selftest.py

Checks the tail rule, that a corrupted answer fails its gate and counts as
a failed operation, and the event-log parser on a recorded fixture:
``fixtures/eventlog.jsonl`` holds events cut from a Spark 4.1 event log,
with job groups, stage ids, task times and task metrics set to round
values. Two grouped jobs and one job with no group.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import inputs  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from stats import tail, tail_percentile  # noqa: E402
from workloads import DEDUP_OP, LEARN_OP, PROBE_OP, CheckMix, IngestPublish  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog.jsonl")


def check(cond: bool, what: str) -> None:
    if not cond:
        raise AssertionError(what)


def test_tail_rule() -> None:
    check(tail([float(v) for v in range(20, 0, -1)]) == 10.0, "20 samples: 10th smallest")
    check(tail([5.0] + [1.0] * 10) == 1.0, "11 samples: the smallest")
    check(tail_percentile(40) == 75.0, "40 samples: p75")
    try:
        tail([1.0] * 10)
    except ValueError:
        pass
    else:
        raise AssertionError("10 samples have no tail; tail() must refuse, not interpolate")


class Replay:
    """A workload whose operations return a fixed answer, gated by a real
    workload's ground truth."""

    def __init__(self, real, answer) -> None:
        self.real, self.answer, self.cycle = real, answer, real.cycle

    def kind(self, i):
        return self.real.kind(i)

    def run(self, i):
        return 1, self.answer

    def gate(self, i, answer):
        return self.real.gate(i, answer)

    def counts(self, i, answer):
        return {}


def test_corrupted_answer_fails() -> None:
    cm = CheckMix(None, seed=3, workdir="")
    for i in (0, LEARN_OP):
        good = cm.expected(i)
        check(run.run_op(Replay(cm, good), i, "selftest").ok, f"{cm.kind(i)}: true answer passes")
    for k in cm.checks:
        bad = dict(cm.expected(0))
        bad[k] = [x[:2] + (x[2] + 1,) + x[3:] for x in bad[k]]
        op = run.run_op(Replay(cm, bad), 0, "selftest")
        check(not op.ok and len(op.errors) == 1, f"check_mix: an off-by-one count of {k} fails its gate")

    ip = IngestPublish(None, seed=3, workdir="")
    for i in (0, 4):
        good = ip.expected(i)
        check(run.run_op(Replay(ip, good), i, "selftest").ok, f"ingest_publish day {i}: true answer passes")
    check(ip.expected(4)[0] is False, "ingest_publish: day 44 is a defective day")
    bad = (True, [], [], inputs.DAY_ROWS)
    check(not run.run_op(Replay(ip, bad), 4, "selftest").ok, "ingest_publish: publishing a defective day fails")

    ip.batches = {PROBE_OP: inputs.shard(3, 0, 300, ip.base), DEDUP_OP: inputs.shard(3, 1, 700)}
    probe = ip.expected(PROBE_OP)
    check(run.run_op(Replay(ip, probe), PROBE_OP, "selftest").ok, "index probe: true answer passes")
    bad = dict(probe)
    doc = next(d for d, (m, _) in probe.items() if m is not None)
    bad[doc] = (None, None)  # one planted near-duplicate missed
    check(not run.run_op(Replay(ip, bad), PROBE_OP, "selftest").ok, "index probe: a missed match fails")

    good = ip.expected(DEDUP_OP)
    bad = dict(good)
    doc = next(d for d, (c, canon) in good.items() if not canon)
    bad[doc] = (doc, True)  # one member split off its cluster
    ops = [run.run_op(Replay(ip, a), DEDUP_OP, "selftest") for a in (good, bad, good)]
    check([o.ok for o in ops] == [True, False, True], "dedup_clusters: one split cluster member fails")
    check(sum(1 for o in ops if not o.ok) == 1, "a failed gate counts as one failed operation")


def test_event_log_parser() -> None:
    groups = spans.read_event_log([FIXTURE])
    check(sorted(groups) == ["g-child", "g-parent"], f"groups: {sorted(groups)}")
    p, c = groups["g-parent"], groups["g-child"]
    check((p["jobs"], len(p["tasks"])) == (1, 2), "parent: 1 job, 2 tasks")
    check((c["jobs"], len(c["tasks"])) == (1, 1), "child: 1 job, 1 task")
    span_list = [
        {"gid": "g-parent", "stage": "dedup.verify", "op": 0, "parent": None, "t0": 1000.0, "t1": 2000.0},
        {"gid": "g-child", "stage": "dedup.candidates", "op": 0, "parent": "g-parent", "t0": 1500.0, "t1": 1800.0},
    ]
    costs = {c["stage"]: c for c in spans.span_costs(span_list, groups)}
    v, k = costs["dedup.verify"], costs["dedup.candidates"]
    # parent: 1000 ms minus the 300 ms child; its tasks cover 1100-1400
    check(abs(v["wall_s"] - 0.7) < 1e-9, f"verify wall {v['wall_s']}")
    check(abs(v["driver_s"] - 0.4) < 1e-9, f"verify driver {v['driver_s']}")
    check(abs(v["task_cpu_s"] - 0.5) < 1e-9, f"verify cpu {v['task_cpu_s']}")
    check(abs(v["gc_s"] - 0.03) < 1e-9, f"verify gc {v['gc_s']}")
    check(abs(v["shuffle_write_mb"] - 3.0) < 1e-9, f"verify shuffle {v['shuffle_write_mb']}")
    check(abs(v["result_mb"] - 0.5) < 1e-9, f"verify result {v['result_mb']}")
    # child: its one task covers 1600-1700 of 1500-1800
    check(abs(k["wall_s"] - 0.3) < 1e-9 and abs(k["driver_s"] - 0.2) < 1e-9, "candidates times")
    check(abs(k["spill_mb"] - 2.0) < 1e-9 and k["jobs"] == 1, "candidates spill and jobs")
    layers = spans.layer_metrics(list(costs.values()), 2)
    check(abs(layers["dedup.verify.wall_s"] - 0.35) < 1e-9, "per-op mean over 2 ops")
    check(layers["core.fused.wall_s"] == 0.0, "a stage that did not run reports 0")
    cov = spans.coverage(list(costs.values()), {0: 1.25})
    check(abs(cov[0] - 0.8) < 1e-9, f"coverage {cov}")


def main() -> int:
    tests = [test_tail_rule, test_corrupted_answer_fails, test_event_log_parser]
    failed = 0
    for t in tests:
        try:
            t()
            print(f"ok   {t.__name__}")
        except AssertionError as exc:
            failed += 1
            print(f"FAIL {t.__name__}: {exc}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
