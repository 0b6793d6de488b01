"""Seeded inputs for the perfbench workloads, and a pure-Python model of
the state the reference's table must hold after them.

Everything here is a function of the seed alone: the same seed gives the
same records, the same files and the same model. Nothing here imports
Spark or the package under test, so the model cannot share a defect
with the code it checks.

The CDC stream mirrors what Debezium emits for the reference's ``users``
table: snapshot reads (``op='r'``), creates, updates and a few deletes,
keyed by Zipf-skewed ``user_id``s, with about 5% redeliveries (an exact
copy of an earlier Kafka record, offset included, arriving later) and
about 5% out-of-order deliveries (an older version of a row arriving
after a newer one, at a later offset).
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The change stream's shape. Each value names its source, or says that it
# is an assumption and what it stands for.
# Rows per Kafka batch (one INSERT): the 2,000-row CDC INSERT the
# benchmark's motivating probe timed, just under Debezium's documented
# ``max.batch.size`` default of 2,048 events per connector poll.
BATCH_ROWS = 2_000
# Key skew: YCSB's default Zipfian constant (ZipfianGenerator, 0.99).
ZIPF_S = 0.99
# Share of records delivered twice: about 5%, a design target of the
# benchmark, not a measurement (a consumer restart replays uncommitted
# records).
REDELIVER = 0.05
# Assumption: 5% of changes arrive after a newer change (a retried
# producer send), the same share as redeliveries.
OUT_OF_ORDER = 0.05
# Assumption: 1% of updates are deletes; the reference's MV drops them.
DELETES = 0.01
# A late or redelivered record lands at most one batch after its slot:
# a replay covers at most the one batch whose offsets were not committed.
WINDOW = BATCH_ROWS

BASE_S = 1_704_067_200  # 2024-01-01T00:00:00Z, the stream's clock origin
KAFKA_BASE_S = BASE_S + 86_400  # broker append times start a day later
ACCOUNT_TYPES = ("Bronze", "Silver", "Gold")
_UTC = dt.timezone.utc

# pyarrow twin of cdc.schemas.KAFKA_CDC_RECORD (same names, types and
# nesting), so Spark reads the pre-written batches with that schema.
_USER_ROW = pa.struct([
    pa.field("user_id", pa.int32(), False),
    pa.field("username", pa.string()),
    pa.field("account_type", pa.string()),
    pa.field("updated_at", pa.int64(), False),
    pa.field("created_at", pa.int64(), False),
])
KAFKA_RECORD_ARROW = pa.schema([
    pa.field("event", pa.struct([
        pa.field("before", _USER_ROW),
        pa.field("after", _USER_ROW),
        pa.field("source", pa.struct([
            pa.field("db", pa.string()),
            pa.field("schema", pa.string()),
            pa.field("table", pa.string()),
            pa.field("lsn", pa.int64()),
        ])),
        pa.field("op", pa.string(), False),
        pa.field("ts_ms", pa.int64()),
    ]), False),
    pa.field("kafka_timestamp", pa.timestamp("us", tz="UTC")),
    pa.field("kafka_offset", pa.int64(), False),
    pa.field("kafka_partition", pa.int32(), False),
])


@dataclass(frozen=True)
class Record:
    """One Kafka record of the change stream (flat form)."""

    op: str
    user_id: int
    username: str
    account_type: str
    updated_at_us: int
    created_at_us: int
    offset: int
    kafka_s: int  # broker append time, whole seconds

    def kafka_row(self) -> dict:
        """The record in ``KAFKA_CDC_RECORD`` shape."""
        image = {
            "user_id": self.user_id,
            "username": self.username,
            "account_type": self.account_type,
            "updated_at": self.updated_at_us,
            "created_at": self.created_at_us,
        }
        return {
            "event": {
                "before": image if self.op in ("u", "d") else None,
                "after": None if self.op == "d" else image,
                "source": {"db": "shop", "schema": "public", "table": "users",
                           "lsn": self.updated_at_us},
                "op": self.op,
                "ts_ms": self.updated_at_us // 1000,
            },
            "kafka_timestamp": dt.datetime.fromtimestamp(self.kafka_s, _UTC),
            "kafka_offset": self.offset,
            "kafka_partition": 0,
        }

    def final_row(self) -> tuple | None:
        """The row the reference's materialized view lands in ``users``
        (``toDateTime`` truncates to whole seconds), or None for a delete,
        which the unwrap step drops."""
        if self.op == "d":
            return None
        return (self.user_id, self.username, self.account_type,
                self.updated_at_us // 1_000_000, self.created_at_us // 1_000_000,
                self.kafka_s, self.offset)


def _zipf_keys(rng: np.random.Generator, n_keys: int, n: int, s: float) -> np.ndarray:
    weights = 1.0 / np.arange(1, n_keys + 1) ** s
    ranks = rng.choice(n_keys, size=n, p=weights / weights.sum())
    return rng.permutation(n_keys)[ranks]  # hot ranks land on random ids


def cdc_stream(seed: int, n_keys: int, n_events: int, snapshot_keys: int = 0) -> list[Record]:
    """The change stream in delivery order.

    The first ``snapshot_keys`` records are the snapshot (``op='r'``) of
    keys ``0..snapshot_keys-1``, in order. Then ``n_events`` changes on
    Zipf-drawn keys from ``0..n_keys-1``. Every change takes the next
    second of a logical clock, so each key's versions are distinct
    whole seconds and the latest version is never a tie.
    """
    rng = np.random.default_rng(seed)
    keys = _zipf_keys(rng, n_keys, n_events, ZIPF_S)
    micros = rng.integers(0, 999_000, size=snapshot_keys + n_events)
    kinds = rng.random(n_events)
    types = rng.integers(0, len(ACCOUNT_TYPES), size=snapshot_keys + n_events)

    created: dict[int, int] = {}
    changes: list[tuple] = []  # (op, key, type, updated_us, created_us)
    for i in range(snapshot_keys):
        us = (BASE_S + i) * 1_000_000 + int(micros[i])
        created[i] = us
        changes.append(("r", i, int(types[i]), us, us))
    for j, key in enumerate(keys.tolist()):
        i = snapshot_keys + j
        us = (BASE_S + i) * 1_000_000 + int(micros[i])
        if key not in created:
            created[key] = us
            op = "c"
        else:
            op = "d" if kinds[j] < DELETES else "u"
        changes.append((op, key, int(types[i]), us, created[key]))

    # out-of-order: delay a share of the changes (never the snapshot)
    # by up to WINDOW delivery slots; offsets follow delivery order
    pos = np.arange(len(changes), dtype=np.float64)
    late = np.zeros(len(changes), dtype=bool)
    late[snapshot_keys:] = rng.random(n_events) < OUT_OF_ORDER
    pos[late] += rng.integers(1, WINDOW + 1, size=int(late.sum()))
    order = np.argsort(pos, kind="stable")
    records = [
        Record(op, key, f"user{key}", ACCOUNT_TYPES[t], up, cr, off,
               KAFKA_BASE_S + off)
        for off, (op, key, t, up, cr) in enumerate(changes[i] for i in order)
    ]

    # redelivery: an exact copy of a record (offset included) arrives
    # again up to WINDOW slots later, as after a consumer rebalance
    n = len(records)
    again = np.flatnonzero(rng.random(n) < REDELIVER)
    again = again[again >= snapshot_keys]
    slots = [(float(i), r) for i, r in enumerate(records)]
    slots += [(i + float(rng.integers(1, WINDOW + 1)) + 0.5, records[i])
              for i in again.tolist()]
    slots.sort(key=lambda s: s[0])
    return [r for _, r in slots]


def batches(records: list[Record], size: int) -> list[list[Record]]:
    return [records[i:i + size] for i in range(0, len(records), size)]


def write_kafka_batch(records: list[Record], path: str) -> None:
    """One batch of Kafka records as a parquet file Spark reads with
    ``KAFKA_CDC_RECORD``."""
    table = pa.Table.from_pylist([r.kafka_row() for r in records],
                                 schema=KAFKA_RECORD_ARROW)
    pq.write_table(table, path)


def _dt_text(s: int) -> str:
    return dt.datetime.fromtimestamp(s, _UTC).strftime("%Y-%m-%d %H:%M:%S")


def rows_json(rows) -> str:
    """Rows in the final table's shape (see ``Record.final_row``) as a
    ``FORMAT JSONEachRow`` body."""
    cols = ("user_id", "username", "account_type", "updated_at",
            "created_at", "kafka_time", "kafka_offset")
    lines = []
    for row in rows:
        vals = list(row)
        for i in (3, 4, 5):
            vals[i] = _dt_text(vals[i])
        lines.append(json.dumps(dict(zip(cols, vals))))
    return "\n".join(lines) + "\n"


def json_each_row(records: list[Record]) -> str:
    """The batch as the ``INSERT ... FORMAT JSONEachRow`` body the
    reference's materialized view would have landed (deletes dropped)."""
    return rows_json(r.final_row() for r in records if r.op != "d")


class LatestState:
    """The ReplacingMergeTree(updated_at) ORDER BY user_id contract:
    after any sequence of inserts and merges, ``FINAL`` returns, for each
    key, the row with the highest ``updated_at`` ever inserted. Rows are
    ``(user_id, username, account_type, updated_at_s, created_at_s,
    kafka_time_s, kafka_offset)``."""

    def __init__(self) -> None:
        self.rows: dict[int, tuple] = {}

    def apply(self, record: Record) -> None:
        row = record.final_row()
        if row is None:
            return
        cur = self.rows.get(row[0])
        if cur is None or row[3] > cur[3]:
            self.rows[row[0]] = row

    def apply_all(self, records) -> "LatestState":
        for r in records:
            self.apply(r)
        return self

    def winners(self, records) -> dict[int, tuple]:
        """The rows of ``records`` that the model holds as latest — what
        a reader must still find if those records were committed."""
        out = {}
        for r in records:
            row = r.final_row()
            if row is not None and self.rows.get(row[0]) == row:
                out[row[0]] = row
        return out


# -- analytic tables for the query battery --------------------------------

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PART_ADJ = ("large", "hot", "blue", "old", "cold", "small", "red", "new")
_PART_NOUN = ("ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "de", "es", "fr", "zh")
_WORDS = ("a agg batch big column customer data dup fast filter group hash "
          "join key line merge order part query row scan slow small sort "
          "spark stream table the value vector window").split()
_DAY_US = 86_400 * 1_000_000


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = int(dt.datetime.fromisoformat(base).replace(tzinfo=_UTC).timestamp())
    return pa.array(start * 1_000_000 + offsets_us, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.01:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.04:  # near duplicate: two words swapped out
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(2):
                words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words))
        else:
            idx = rng.integers(0, len(_WORDS), size=int(rng.integers(10, 101)))
            texts.append(" ".join(_WORDS[k] for k in idx))
    langs = rng.choice(len(_LANGS), size=n, p=(0.4, 0.15, 0.15, 0.15, 0.15))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([_LANGS[k] for k in langs]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def sf_tables(seed: int, sf: float = 0.1) -> dict[str, pa.Table]:
    """The analytic tables the registry queries read, with the same
    names, columns and types as the TPC-H-like fixtures in TESTDATA.md and
    their row counts at ``sf``: uniform keys and measures, like them."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users, n_doc, n_vec = int(1_000_000 * sf), int(15_000 * sf), int(50_000 * sf), int(20_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32),
                            "r_name": pa.array(_REGIONS)})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), i32),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array([f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(_PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(np.array(("F", "O", "P"))[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2405, n_ord) * _DAY_US),
        "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(("A", "N", "R"))[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(("F", "O"))[rng.integers(0, 2, n_line)]),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n_line) * _DAY_US),
    })
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * _DAY_US, n_ev))),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(60.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    t["documents"] = _documents(rng, n_doc)
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return t


def write_sf_tables(seed: int, out_dir: str, sf: float = 0.1) -> None:
    """Write ``<out_dir>/<table>.parquet`` for every analytic table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in sf_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
