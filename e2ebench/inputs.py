"""Seeded inputs with planted defects of exact, known counts.

Everything here is a pure function of the seed: the same seed gives the
same rows, the same defects and the same ground truth. The package under
test only ever sees the generated tables and documents.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SHIP_MODES = ["AIR", "MAIL", "SHIP", "TRUCK", "RAIL", "FOB", "REG AIR"]

# ---------------------------------------------------------------------------
# check_mix: lineitem / orders / customer with exact defect counts
# ---------------------------------------------------------------------------


@dataclass
class TableDefects:
    """0-based row positions of lineitem carrying each defect.

    The sets are disjoint, so every count below is exact."""

    null_partkey: list[int]
    bad_quantity: list[int]
    orphan_orderkey: list[int]
    dup_id: dict[int, int]  # defective row -> row whose l_id it copies

    @property
    def n_dups(self) -> int:
        return len(self.dup_id)


def table_defects(seed: int, n_rows: int) -> TableDefects:
    rng = random.Random(seed * 7919 + 1)
    picked = rng.sample(range(n_rows), 41 + 17 + 29 + 2 * 13)
    nulls, bad, orphans = picked[:41], picked[41:58], picked[58:87]
    dup_src = picked[87:100]
    dup_dst = picked[100:]
    return TableDefects(
        null_partkey=sorted(nulls),
        bad_quantity=sorted(bad),
        orphan_orderkey=sorted(orphans),
        dup_id=dict(zip(dup_dst, dup_src)),
    )


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def write_parquet(table: pa.Table, path: str, files: int = 4) -> None:
    """Write ``table`` as ``files`` parquet files, so a scan has that many
    splits, as a Spark write from ``files`` tasks would."""
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for f in range(files):
        pq.write_table(table.slice(f * step, step), os.path.join(path, f"part-{f:05d}.parquet"))


def lineitem(seed: int, n_rows: int, n_orders: int, d: TableDefects) -> pa.Table:
    rng = _rng(seed, 1)
    l_id = np.arange(1, n_rows + 1, dtype=np.int64)
    for dst, src in d.dup_id.items():
        l_id[dst] = src + 1
    orderkey = rng.integers(1, n_orders + 1, n_rows)
    orphans = np.array(d.orphan_orderkey)
    orderkey[orphans] = n_orders + 1 + orphans
    null_part = np.zeros(n_rows, dtype=bool)
    null_part[d.null_partkey] = True
    qty = rng.integers(1, 51, n_rows).astype(np.float64)
    qty[d.bad_quantity] = 999.0
    ship = np.datetime64("1994-01-01") + rng.integers(0, 2000, n_rows).astype("timedelta64[D]")
    return pa.table(
        {
            "l_id": l_id,
            "l_orderkey": orderkey,
            "l_partkey": pa.array(rng.integers(1, 200_001, n_rows), mask=null_part),
            "l_quantity": qty,
            "l_extendedprice": qty * rng.integers(100, 1000, n_rows),
            "l_discount": rng.integers(0, 11, n_rows) / 100.0,
            "l_shipdate": pa.array(ship, pa.date32()),
            "l_shipmode": pa.array(np.array(SHIP_MODES, dtype=object)[rng.integers(0, len(SHIP_MODES), n_rows)]),
        }
    )


def orders(seed: int, n_orders: int, n_customers: int) -> pa.Table:
    rng = _rng(seed, 2)
    return pa.table(
        {
            "o_orderkey": np.arange(1, n_orders + 1, dtype=np.int64),
            "o_custkey": rng.integers(1, n_customers + 1, n_orders),
            "o_totalprice": rng.integers(0, 500_000, n_orders) / 100.0,
        }
    )


CUSTOMER_NULL_ACCTBAL = 11
CUSTOMER_DUP_KEYS = 3
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def customer(seed: int, n_customers: int) -> pa.Table:
    """Customers with exactly CUSTOMER_NULL_ACCTBAL null balances and
    CUSTOMER_DUP_KEYS rows repeating another row's key."""
    rng = _rng(seed, 3)
    picked = random.Random(seed * 6151 + 3).sample(
        range(n_customers), CUSTOMER_NULL_ACCTBAL + 2 * CUSTOMER_DUP_KEYS
    )
    key = np.arange(1, n_customers + 1, dtype=np.int64)
    n_null, n_dup = CUSTOMER_NULL_ACCTBAL, CUSTOMER_DUP_KEYS
    for dst, src in zip(picked[n_null : n_null + n_dup], picked[n_null + n_dup :]):
        key[dst] = src + 1
    null_bal = np.zeros(n_customers, dtype=bool)
    null_bal[picked[:n_null]] = True
    return pa.table(
        {
            "c_custkey": key,
            "c_name": [f"Customer#{i}" for i in range(n_customers)],
            "c_nationkey": rng.integers(0, 25, n_customers),
            "c_acctbal": pa.array(rng.integers(0, 1_000_000, n_customers) / 100.0, mask=null_bal),
            "c_segment": pa.array(np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, n_customers)]),
        }
    )


# ---------------------------------------------------------------------------
# ingest_publish: one fresh day per operation
# ---------------------------------------------------------------------------

DAY_ROWS = 10_000
DAY_NULLS = 7
#: every DEFECT_EVERY-th day carries DAY_NULLS null customer keys and must
#: be rejected by the write-audit-publish gate
DEFECT_EVERY = 5


def day_is_defective(day: int) -> bool:
    return day % DEFECT_EVERY == DEFECT_EVERY - 1


def write_history(seed: int, path: str, n_days: int) -> None:
    """Days ``0 .. n_days-1`` as a day-partitioned parquet table, one
    directory per day as ``partitionBy("day")`` lays it out."""
    rng = _rng(seed, 4)
    for day in range(n_days):
        table = pa.table(
            {
                "e_id": np.arange(day * DAY_ROWS, (day + 1) * DAY_ROWS, dtype=np.int64),
                "e_custkey": rng.integers(1, 100_001, DAY_ROWS),
                "e_amount": rng.integers(0, 100_000, DAY_ROWS) / 100.0,
            }
        )
        write_parquet(table, os.path.join(path, f"day={day}"), files=1)


def _pick(seed: int, salt: int, n: int) -> F.Column:
    return F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(salt)), F.lit(n))


def day_frame(spark: SparkSession, seed: int, day: int, defective: bool) -> DataFrame:
    """DAY_ROWS rows of ``day``; a defective day has DAY_NULLS null
    customer keys."""
    rng = random.Random(seed * 104_729 + day)
    bad = [day * DAY_ROWS + b for b in rng.sample(range(DAY_ROWS), DAY_NULLS)] if defective else []
    cust = _pick(seed, 31, 100_000) + 1
    if bad:
        cust = F.when(F.col("id").isin(bad), F.lit(None)).otherwise(cust)
    return spark.range(day * DAY_ROWS, (day + 1) * DAY_ROWS).select(
        F.col("id").alias("e_id"),
        cust.cast("long").alias("e_custkey"),
        (_pick(seed, 32, 100_000) / 100.0).alias("e_amount"),
        F.lit(day).alias("day"),
    )


# ---------------------------------------------------------------------------
# ingest_publish: document batches and shards with planted near-duplicates
# ---------------------------------------------------------------------------

WORDS_PER_DOC = 60
VOCAB = [f"w{i}" for i in range(20_000)]
#: one group over the LSH bucket cap (DEFAULT_MAX_BUCKET_SIZE = 512) made of
#: identical copies, so every band bucket of it degrades to star edges,
#: then skewed near-duplicate groups (one word changed per member)
OVER_CAP_GROUP = 520
NEAR_GROUPS = [64, 32, 16, 8, 4, 3, 2, 2]
#: pairs per shard whose second document replaces a contiguous third of
#: the first's words: LSH pairs them almost surely, verification rejects
#: them (3-shingle Jaccard ~0.45 < 0.7), so they are wasted candidates
DECOY_PAIRS = 200
#: documents of the probe batch that are one-word edits of a base document
INDEX_MATCHES = 20
BASE_DOCS = 300
SHARD_ID_STRIDE = 10_000_000


@dataclass
class Shard:
    docs: list[tuple[int, str]]
    #: doc_id -> expected cluster_id (min member id); absent = singleton
    cluster_of: dict[int, int] = field(default_factory=dict)
    #: doc_id -> base doc id it must be matched to by the index probe
    index_match: dict[int, int] = field(default_factory=dict)

    @property
    def n_clusters(self) -> int:
        return len(set(self.cluster_of.values()))


def _doc(rng: random.Random) -> list[str]:
    return [rng.choice(VOCAB) for _ in range(WORDS_PER_DOC)]


def _edit(rng: random.Random, words: list[str]) -> list[str]:
    out = list(words)
    out[rng.randrange(len(out))] = rng.choice(VOCAB)
    return out


def docs_table(docs: list[tuple[int, str]]) -> pa.Table:
    ids, texts = zip(*docs)
    return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)})


def base_corpus(seed: int) -> list[tuple[int, str]]:
    rng = random.Random(seed * 31 + 5)
    return [(i, " ".join(_doc(rng))) for i in range(BASE_DOCS)]


def shard(
    seed: int, k: int, n_docs: int, base: list[tuple[int, str]] | None = None
) -> Shard:
    """Shard ``k``: fresh ids and fresh text, so no stored layout, index or
    cache entry of an earlier shard can match it. A shard holds the planted
    near-duplicate groups; given ``base`` it is a probe batch instead, with
    INDEX_MATCHES one-word edits of distinct base documents."""
    rng = random.Random(seed * 1_000_003 + k)
    nid = (k + 1) * SHARD_ID_STRIDE
    s = Shard(docs=[])
    for size in [] if base else [OVER_CAP_GROUP] + NEAR_GROUPS:
        words = _doc(rng)
        first = nid
        for j in range(size):
            member = words if (j == 0 or size == OVER_CAP_GROUP) else _edit(rng, words)
            s.docs.append((nid, " ".join(member)))
            s.cluster_of[nid] = first
            nid += 1
    for _ in range(0 if base else DECOY_PAIRS):
        words = _doc(rng)
        decoy = list(words)
        start = rng.randrange(WORDS_PER_DOC - WORDS_PER_DOC // 3)
        for j in range(start, start + WORDS_PER_DOC // 3):
            decoy[j] = rng.choice(VOCAB)
        s.docs += [(nid, " ".join(words)), (nid + 1, " ".join(decoy))]
        nid += 2
    for b in rng.sample(range(len(base)), INDEX_MATCHES) if base else []:
        s.docs.append((nid, " ".join(_edit(rng, base[b][1].split()))))
        s.index_match[nid] = base[b][0]
        nid += 1
    while len(s.docs) < n_docs:
        s.docs.append((nid, " ".join(_doc(rng))))
        nid += 1
    rng.shuffle(s.docs)
    return s
