"""Seeded generator for fixture-shaped input directories.

Writes one single-row-group parquet file per table with the column
names, physical types and value domains of the engine's fixtures
(FIXTURES.md), so every registry callable reads the directory unchanged:

- ``events.parquet`` is a single file (``catalog._events_ts_is_nanos``
  reads its footer) and stores ``ts`` as ``timestamp[us]``, so reads take
  the plain µs path.
- A seeded share of ``event_id``s is re-delivered with a strictly later
  ``ts``: the earliest-wins dedup winner, and with it every oracle over
  deduplicated events, is unique.
- Every column is drawn independently from its domain, as in the
  fixtures; ``documents`` plants near-duplicates (a copy of an earlier
  document plus the token ``dup``) for the dedup keys.

The same ``(seed, sizes)`` always gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "hot", "large", "small", "red", "green", "cold", "shiny"]
PART_NOUN = ["anvil", "bolt", "ring", "widget", "gear", "spring", "valve", "pipe"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMBED_DIM = 64
REDELIVER_SHARE = 0.05  # of event ids, delivered a second time

_DAY_US = 86_400 * 1_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


@dataclass(frozen=True)
class Sizes:
    """Row counts of one generated directory (events before re-delivery)."""

    customer: int
    supplier: int
    part: int
    orders: int
    lineitem: int
    events: int
    documents: int
    embeddings: int

    @classmethod
    def at(cls, sf: float, events_x: float = 1.0) -> Sizes:
        """TPC-H-style sizes at scale factor ``sf``; ``events_x``
        multiplies the events table alone."""
        return cls(
            customer=int(150_000 * sf),
            supplier=max(10, int(10_000 * sf)),
            part=int(200_000 * sf),
            orders=int(1_500_000 * sf),
            lineitem=int(6_000_000 * sf),
            events=int(1_000_000 * sf * events_x),
            documents=max(500, int(50_000 * sf)),
            embeddings=max(500, int(20_000 * sf)),
        )


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    return rng.integers(lo, hi + 1, n) / 100.0


def _days(rng: np.random.Generator, start: dt.datetime, n_days: int, n: int) -> np.ndarray:
    return _us(start) + rng.integers(0, n_days, n) * _DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(
        pa.string()
    )


def generate(out_dir: str, seed: int, sizes: Sizes) -> dict[str, int]:
    """Write every table under ``out_dir``; return rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    tables = build(seed, sizes)
    for name, table in tables.items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=max(1, table.num_rows)
        )
    return {name: t.num_rows for name, t in tables.items()}


def build(seed: int, sizes: Sizes) -> dict[str, pa.Table]:
    """Every table, in memory."""
    # one child stream per table: a table's content does not depend on
    # the sizes of the tables generated before it
    rngs = dict(zip(
        ["customer", "supplier", "part", "orders", "lineitem", "events", "documents",
         "embeddings"],
        np.random.default_rng(seed).spawn(8),
    ))
    tables: dict[str, pa.Table] = {}

    def put(name: str, cols: dict) -> None:
        tables[name] = pa.table(cols)

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r, n = rngs["customer"], sizes.customer
    put("customer", {
        "c_custkey": pa.array(np.arange(n, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(r.integers(0, 25, n).astype("int32")),
        "c_acctbal": pa.array(_cents(r, -99_999, 999_999, n)),
        "c_mktsegment": _pick(r, SEGMENTS, n),
    })

    r, n = rngs["supplier"], sizes.supplier
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(r.integers(0, 25, n).astype("int32")),
        "s_acctbal": pa.array(_cents(r, -99_999, 999_999, n)),
    })

    r, n = rngs["part"], sizes.part
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    put("part", {
        "p_partkey": pa.array(np.arange(n, dtype="int64")),
        "p_name": _pick(r, names, n),
        "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _pick(r, PART_TYPES, n),
        "p_size": pa.array(r.integers(1, 51, n).astype("int32")),
        "p_retailprice": pa.array((90_000 + np.arange(n) % 1000 * 10) / 100.0),
    })

    r, n = rngs["orders"], sizes.orders
    put("orders", {
        "o_orderkey": pa.array(np.arange(n, dtype="int64")),
        "o_custkey": pa.array(r.integers(0, sizes.customer, n)),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n),
        "o_totalprice": pa.array(_cents(r, 100_191, 49_999_318, n)),
        "o_orderdate": _ts(_days(r, dt.datetime(1995, 1, 1), 2404, n)),
        "o_orderpriority": _pick(r, PRIORITIES, n),
    })

    r, n = rngs["lineitem"], sizes.lineitem
    put("lineitem", {
        "l_orderkey": pa.array(r.integers(0, sizes.orders, n)),
        "l_partkey": pa.array(r.integers(0, sizes.part, n)),
        "l_suppkey": pa.array(r.integers(0, sizes.supplier, n)),
        "l_linenumber": pa.array(r.integers(1, 8, n).astype("int32")),
        "l_quantity": pa.array(r.integers(1, 51, n).astype("float64")),
        "l_extendedprice": pa.array(_cents(r, 90_068, 10_499_991, n)),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(r, ["A", "N", "R"], n),
        "l_linestatus": _pick(r, ["F", "O"], n),
        "l_shipdate": _ts(_days(r, dt.datetime(1995, 1, 2), 2499, n)),
    })

    r, n = rngs["events"], sizes.events
    start = _us(dt.datetime(2024, 1, 1))
    ts = np.sort(start + r.integers(0, 30 * _DAY_US, n))
    ids = np.arange(n, dtype="int64")
    users = r.integers(0, max(1, sizes.customer // 10), n)
    types = r.integers(0, len(EVENT_TYPES), n)
    values = r.integers(0, 56_022, n)
    ks = r.integers(0, 100, n)
    # re-deliveries: the same event again, strictly later, at the end
    # of the stream (as a retried producer would append it)
    again = np.sort(r.choice(n, int(n * REDELIVER_SHARE), replace=False))
    delay = r.integers(1, 6 * 3600 * 1_000_000, again.size)
    cat = np.concatenate
    put("events", {
        "event_id": pa.array(cat([ids, ids[again]])),
        "ts": _ts(cat([ts, ts[again] + delay])),
        "user_id": pa.array(cat([users, users[again]])),
        "event_type": pa.DictionaryArray.from_arrays(
            pa.array(cat([types, types[again]]).astype("int32")), pa.array(EVENT_TYPES)
        ).cast(pa.string()),
        "value": pa.array(cat([values, values[again]]) / 100.0),
        "props": pa.array([f'{{"k": {k}}}' for k in cat([ks, ks[again]])]),
    })

    r, n = rngs["documents"], sizes.documents
    lens = r.integers(10, 101, n)
    words = r.integers(0, len(WORDS), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(WORDS[w] for w in words[pos:pos + ln]))
        pos += ln
    # plant near-duplicates: 5% of documents copy an earlier one + " dup"
    for i in np.sort(r.choice(np.arange(1, n), n // 20, replace=False)):
        texts[i] = texts[int(r.integers(0, i))] + " dup"
    put("documents", {
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": _pick(r, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    r, n = rngs["embeddings"], sizes.embeddings
    vecs = np.clip(r.normal(0.0, 0.15, (n, EMBED_DIM)), -0.6, 0.6).astype("float32")
    put("embeddings", {
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMBED_DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(r.integers(0, 10, n).astype("int32")),
    })
    return tables


def describe(seed: int, sizes: Sizes) -> dict:
    """The generator inputs, recorded with every result."""
    return {"seed": seed, **asdict(sizes)}
