"""The benchmark's workloads: inputs, one-time set-up, operations and the
exact correctness gate of every operation.

An operation returns ``(rows, answer)``: the input rows or documents it
processed and a plain-Python answer. :meth:`Workload.gate` compares the
answer with the ground truth of the generated input and returns the list
of mismatches; an empty list is a pass.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import SparkSession

import inputs

# ---------------------------------------------------------------------------
# check_mix
# ---------------------------------------------------------------------------

LINEITEM_ROWS = 1_000_000
#: check(learn=True) runs on the customer table: learning a baseline of
#: lineitem itself costs ~30 s per call at 3 M rows on 4 cores
CUSTOMERS = 30_000


#: operation index of the traced run's check(learn=True) call
LEARN_OP = -1


def issue_key(i) -> tuple[str, str, int]:
    return (i.issue_type, i.column or "", int(i.count))


class Tables:
    """One generated lineitem / orders / customer set and its defects."""

    def __init__(self, seed: int, workdir: str, name: str, rows: int, customers: int) -> None:
        self.seed, self.rows, self.orders_n, self.customers = seed, rows, rows // 4, customers
        self.defects = inputs.table_defects(seed, rows)
        self.paths = {t: os.path.join(workdir, f"{name}_{t}") for t in ("lineitem", "orders", "customer")}

    def write(self) -> None:
        inputs.write_parquet(
            inputs.lineitem(self.seed, self.rows, self.orders_n, self.defects), self.paths["lineitem"]
        )
        inputs.write_parquet(inputs.orders(self.seed, self.orders_n, self.customers), self.paths["orders"])
        inputs.write_parquet(inputs.customer(self.seed, self.customers), self.paths["customer"])

    def read(self, spark: SparkSession) -> None:
        self.li, self.orders, self.customer = (
            spark.read.parquet(self.paths[t]) for t in ("lineitem", "orders", "customer")
        )


class CheckMix:
    """The read path of a data-quality user. One operation is one
    validation round of lineitem: the auto-suite ``check()``, an explicit
    fused suite as ``BOOLEAN_ONLY`` and as ``SUMMARY``, and a lineitem ->
    orders foreign key, one after another. Runs no dedup code and writes
    nothing.

    Why rounds, not one check per operation: a check kind can run at
    about twice its usual latency for a whole session (the auto-suite in
    2 of 10 sessions), and the median of single checks then jumps from one
    kind to the next. A round's latency moves by that kind's share only.

    ``check(learn=True)`` of customer runs in the traced run only, after
    the timed phase: in the timed mix it made the auto-suite and
    ``BOOLEAN_ONLY`` run at twice their usual latency in about half of the
    sessions.
    """

    name = "check_mix"
    cycle = ["round"]
    checks = ["auto", "fused_bool", "fused_summary", "fk"]
    #: one more round after the cold one: the second round is still 40 %
    #: slower than the ones after it
    warmup_ops = 1
    min_timed_ops = 11
    trace_ops = [LEARN_OP]
    max_ops = 10_000

    def __init__(self, spark: SparkSession, seed: int, workdir: str) -> None:
        self.spark = spark
        self.full = Tables(seed, workdir, "full", LINEITEM_ROWS, CUSTOMERS)

    # -- inputs and set-up ---------------------------------------------
    def generate(self) -> None:
        self.full.write()

    def setup(self) -> None:
        self.full.read(self.spark)

    def setup_trace(self) -> None:
        """The first ``learn`` call of the session, untimed: the traced
        one after it is a warm call, like every timed operation."""
        self.run(LEARN_OP)

    def _suite(self) -> list:
        from truthound_spark.validators.completeness import NullValidator
        from truthound_spark.validators.distribution import RangeValidator
        from truthound_spark.validators.uniqueness import UniqueValidator

        return [
            NullValidator(["l_partkey", "l_orderkey"]),
            RangeValidator("l_quantity", 1, 50),
            RangeValidator("l_discount", 0.0, 0.1),
            UniqueValidator(["l_id"]),
        ]

    # -- operations ----------------------------------------------------
    def kind(self, i: int) -> str:
        return "learn" if i == LEARN_OP else "round"

    def run(self, i: int) -> tuple[int, Any]:
        import truthound_spark as th

        t = self.full
        if i == LEARN_OP:
            res = th.check(t.customer, learn=True)
            return t.customers, sorted(issue_key(x) for x in res.issues)
        return len(self.checks) * t.rows, {k: self._check(k) for k in self.checks}

    def _check(self, kind: str) -> Any:
        import truthound_spark as th

        t = self.full
        if kind == "auto":
            return sorted(issue_key(x) for x in th.check(t.li).issues)
        if kind == "fused_bool":
            res = th.check(t.li, validators=self._suite(), result_format="BOOLEAN_ONLY")
            return sorted(issue_key(x) for x in res.issues)
        if kind == "fused_summary":
            res = th.check(t.li, validators=self._suite(), result_format="SUMMARY")
            return sorted(issue_key(x) + (tuple(sorted(map(repr, x.sample_values))),) for x in res.issues)
        from truthound_spark.validators.referential import ForeignKeyValidator

        fk = ForeignKeyValidator(t.orders, "l_orderkey", "o_orderkey")
        return sorted(issue_key(x) for x in th.check(t.li, validators=[fk]).issues)

    # -- ground truth --------------------------------------------------
    def expected(self, i: int) -> Any:
        if i == LEARN_OP:
            return sorted(
                [
                    ("null_values", "c_acctbal", inputs.CUSTOMER_NULL_ACCTBAL),
                    ("duplicate_values", "c_custkey", inputs.CUSTOMER_DUP_KEYS),
                ]
            )
        t = self.full
        d = t.defects
        nulls = ("null_values", "l_partkey", len(d.null_partkey))
        dups = ("duplicate_values", "l_id", d.n_dups)
        out_of_range = ("out_of_range", "l_quantity", len(d.bad_quantity))
        return {
            # the auto-suite's format rule picks a format by substring of
            # the column name, and "ip" is a substring of "l_shipmode": every
            # non-null ship mode is judged as an IPv4 address
            "auto": sorted([nulls, dups, ("invalid_ipv4", "l_shipmode", t.rows)]),
            "fused_bool": sorted([nulls, dups, out_of_range]),
            # the uniqueness spec has no row predicate, so no samples
            "fused_summary": sorted(
                [
                    nulls + (tuple([repr(None)] * min(len(d.null_partkey), 20)),),
                    dups + ((),),
                    out_of_range + (tuple([repr(999.0)] * len(d.bad_quantity)),),
                ]
            ),
            "fk": [("orphan_records", "l_orderkey", len(d.orphan_orderkey))],
        }

    def gate(self, i: int, answer: Any) -> list[str]:
        want = self.expected(i)
        if i == LEARN_OP:
            return [] if answer == want else [f"learn op {i}: got {answer!r}, want {want!r}"]
        return [
            f"{k} check of op {i}: got {answer.get(k)!r}, want {want[k]!r}"
            for k in self.checks
            if answer.get(k) != want[k]
        ]

    def counts(self, i: int, answer: Any) -> dict[str, float]:
        return {}

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------
# ingest_publish
# ---------------------------------------------------------------------------

#: days published before the first operation. Spark lists partition
#: directories with a distributed job above 32 paths, so the table starts
#: well past that threshold and stays on one side of it for the whole run
HISTORY_DAYS = 40
#: documents of the traced run's index probe batch (INDEX_MATCHES of them
#: near-duplicates of base documents) and of its dedup shard
PROBE_DOCS = 300
SHARD_DOCS = 1200
#: days a run may publish; a run that would need more stops its timed
#: phase there
MAX_DAYS = 120
#: operation indices of the traced run's two dedup calls
PROBE_OP, DEDUP_OP = -1, -2


class IngestPublish:
    """Writes beside reads, on small inputs where driver and commit
    overhead dominate. One operation is one day's gate:
    ``layout.write_audit_publish_partition`` of a fresh day's rows (every
    ``inputs.DEFECT_EVERY``-th day is defective and must be rejected),
    then ``layout.incremental_check`` of the day just published. The table
    starts with ``HISTORY_DAYS`` published days.

    The traced run adds the dedup path after the timed phase: it indexes
    a base corpus with ``write_dedup_index`` and probes one batch with
    planted near-duplicates of base documents against it
    (``incremental_dedup_indexed``), then resolves the clusters of one
    1200-document shard (``dedup_clusters``)."""

    name = "ingest_publish"
    cycle = ["day"]
    warmup_ops = 12
    min_timed_ops = 24
    trace_ops = [PROBE_OP, DEDUP_OP]
    max_ops = MAX_DAYS

    def __init__(self, spark: SparkSession, seed: int, workdir: str) -> None:
        self.spark = spark
        self.seed = seed
        self.dir = workdir
        self.days_path = os.path.join(workdir, "days")
        self.docs_path = os.path.join(workdir, "docs")
        self.base_path = os.path.join(workdir, "base")
        self.base = inputs.base_corpus(seed)
        self.batches: dict[int, inputs.Shard] = {}

    def generate(self) -> None:
        inputs.write_history(self.seed, self.days_path, HISTORY_DAYS)
        self.batches[PROBE_OP] = inputs.shard(self.seed, 0, PROBE_DOCS, self.base)
        self.batches[DEDUP_OP] = inputs.shard(self.seed, 1, SHARD_DOCS)
        for i, s in self.batches.items():
            inputs.write_parquet(inputs.docs_table(s.docs), os.path.join(self.docs_path, f"k={-i}"), 1)
        inputs.write_parquet(inputs.docs_table(self.base), self.base_path, 1)

    def setup(self) -> None:
        pass

    def setup_trace(self) -> None:
        from truthound_spark.pipeline import dedup

        self.index = dedup.write_dedup_index(
            self.spark.read.parquet(self.base_path),
            "e2e_base",
            location=os.path.join(self.dir, "layout_db"),
        )

    def _suite(self) -> list:
        from truthound_spark.validators.completeness import NullValidator
        from truthound_spark.validators.distribution import RangeValidator

        return [NullValidator(["e_custkey"]), RangeValidator("e_amount", 0.0, 1000.0)]

    def kind(self, i: int) -> str:
        return {PROBE_OP: "probe", DEDUP_OP: "shard"}.get(i, "day")

    def _day(self, i: int) -> int:
        if i >= MAX_DAYS:
            raise IndexError(f"only {MAX_DAYS} days are planned")
        return HISTORY_DAYS + i

    def run(self, i: int) -> tuple[int, Any]:
        from truthound_spark import layout
        from truthound_spark.pipeline import dedup

        if i in self.batches:
            df = self.spark.read.parquet(os.path.join(self.docs_path, f"k={-i}"))
            if i == PROBE_OP:
                out = dedup.incremental_dedup_indexed(df, self.index).collect()
            else:
                out = dedup.dedup_clusters(df).collect()
            dedup.release_dedup_caches()
            return len(self.batches[i].docs), {r[0]: (r[1], r[2]) for r in out}
        day = self._day(i)
        df = inputs.day_frame(self.spark, self.seed, day, inputs.day_is_defective(day))
        published, issues, _ = layout.write_audit_publish_partition(
            df, self.days_path, self._suite(), {"day": day}
        )
        checked, stats = layout.incremental_check(self.spark, self.days_path, self._suite(), {"day": day})
        return inputs.DAY_ROWS, (
            published,
            sorted(issue_key(x) for x in issues),
            sorted(issue_key(x) for x in checked if not x.success),
            stats["row_count"],
        )

    # -- ground truth --------------------------------------------------
    def expected(self, i: int) -> Any:
        if i not in self.batches:
            if inputs.day_is_defective(self._day(i)):
                return (False, [("null_values", "e_custkey", inputs.DAY_NULLS)], [], 0)
            return (True, [], [], inputs.DAY_ROWS)
        s = self.batches[i]
        want = {}
        for doc_id, _ in s.docs:
            if i == PROBE_OP:
                m = s.index_match.get(doc_id)
                want[doc_id] = (m, None if m is None else "near")
            else:
                c = s.cluster_of.get(doc_id, doc_id)
                want[doc_id] = (c, c == doc_id)
        return want

    def gate(self, i: int, answer: Any) -> list[str]:
        want = self.expected(i)
        if i not in self.batches:
            return [] if answer == want else [f"day op {i}: got {answer!r}, want {want!r}"]
        bad = [d for d in want if answer.get(d) != want[d]]
        if bad or len(answer) != len(want):
            eg = [(d, answer.get(d), want[d]) for d in bad[:3]]
            return [f"{self.kind(i)} op {i}: {len(bad)} wrong rows of {len(answer)}, (doc, got, want): {eg}"]
        return []

    def counts(self, i: int, answer: Any) -> dict[str, float]:
        if i == PROBE_OP:
            return {"dedup.index_matches_n": float(sum(1 for m, _ in answer.values() if m is not None))}
        if i == DEDUP_OP:
            sizes: dict[int, int] = {}
            for c, _ in answer.values():
                sizes[c] = sizes.get(c, 0) + 1
            return {"dedup.clusters_n": float(sum(1 for n in sizes.values() if n > 1))}
        return {"layout.rejected_days": 0.0 if answer[0] else 1.0}

    def close(self) -> None:
        from truthound_spark.pipeline import dedup

        dedup.release_dedup_caches()


WORKLOADS = {w.name: w for w in (CheckMix, IngestPublish)}
