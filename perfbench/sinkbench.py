"""In-process, single-threaded timing of the five wire codecs.

Each codec encodes and decodes a fixed row sample through its module's
public functions, with the same row shape the matching ``scan_*_import``
op puts on the wire. The sample comes from a fixed seed, independent of
the benchmark's ``--seed``, so the byte counts repeat exactly.
"""

from __future__ import annotations

import datetime as dt
import time
from decimal import Decimal

from gen import Sizes, build
from tracing import median

_EPOCH = dt.datetime(1970, 1, 1)
SAMPLE_SEED = 0
SAMPLE_ROWS = 1000
MIN_REPEATS = 3
MIN_SECONDS = 0.2


def _rows(table, n: int) -> list[dict]:
    return table.slice(0, n).to_pylist()


def _cents(v: float) -> int:
    return int(Decimal(str(v)) * 100)


def _kafka(tables):
    from etl_ch_destination_spark.sink.kafka import encode_batch, parse_segment

    recs = [
        (
            (r["ts"] - _EPOCH) // dt.timedelta(milliseconds=1),
            str(r["user_id"]).encode(),
            f"{r['event_id']}|{_cents(r['value'])}".encode(),
            [(b"src", r["event_type"].encode())],
        )
        for r in _rows(tables["events"], SAMPLE_ROWS)
    ]

    def encode():
        return b"".join(
            encode_batch(lo, min(ts for ts, *_ in recs[lo:lo + 512]), recs[lo:lo + 512])
            for lo in range(0, len(recs), 512)
        )

    return len(recs), encode, parse_segment


def _order_rows(tables):
    return [
        (
            r["o_orderkey"],
            r["o_orderstatus"],
            Decimal(str(r["o_totalprice"])).quantize(Decimal("0.01")),
            r["o_orderdate"],
            None if r["o_orderkey"] % 7 == 0 else r["o_orderpriority"][:10],
        )
        for r in _rows(tables["orders"], SAMPLE_ROWS)
    ]


def _rowbinary(tables):
    from pyspark.sql.types import (
        DecimalType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from etl_ch_destination_spark.sink.rowbinary import decode_rows, encode_row

    schema = StructType([
        StructField("o_orderkey", LongType(), True),
        StructField("o_orderstatus", StringType(), True),
        StructField("o_totalprice", DecimalType(12, 2), True),
        StructField("o_orderdate", TimestampType(), True),
    ])
    rows = [r[:4] for r in _order_rows(tables)]
    return (
        len(rows),
        lambda: b"".join(encode_row(schema, r) for r in rows),
        lambda payload: decode_rows(schema, payload),
    )


def _avro(tables):
    from pyspark.sql.types import (
        DecimalType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from etl_ch_destination_spark.sink.avro import avro_schema, decode_container, encode_container

    schema = avro_schema(StructType([
        StructField("o_orderkey", LongType(), True),
        StructField("o_orderstatus", StringType(), True),
        StructField("o_totalprice", DecimalType(12, 2), True),
        StructField("o_orderdate", TimestampType(), True),
        StructField("note", StringType(), True),
    ]))
    rows = _order_rows(tables)
    return (
        len(rows),
        lambda: encode_container(schema, rows, codec="deflate", objects_per_block=2048),
        lambda payload: decode_container(payload, schema),
    )


def _protobuf(tables):
    from etl_ch_destination_spark.sink.protobuf import decode_stream, encode_stream, pb_schema

    schema = pb_schema([
        (1, "c_custkey", "int64", False),
        (2, "c_name", "string", False),
        (3, "bal_cents", "sint64", False),
        (4, "c_nationkey", "fixed32", False),
        (5, "segment", "string", True),
        (6, "is_auto", "bool", False),
        (7, "bal", "double", False),
    ])
    rows = [
        (
            r["c_custkey"],
            r["c_name"],
            _cents(r["c_acctbal"]),
            r["c_nationkey"],
            None if r["c_custkey"] % 7 == 0 else r["c_mktsegment"],
            r["c_mktsegment"] == "AUTOMOBILE",
            r["c_acctbal"],
        )
        for r in _rows(tables["customer"], SAMPLE_ROWS)
    ]
    return (
        len(rows),
        lambda: encode_stream(schema, rows),
        lambda payload: decode_stream(schema, payload, len(rows)),
    )


def _native(tables):
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from etl_ch_destination_spark.sink.native import decode_native_block, encode_native_block

    schema = StructType([
        StructField("vec_id", LongType(), True),
        StructField("embedding", ArrayType(FloatType(), False), False),
        StructField("label", IntegerType(), True),
    ])
    rows = [
        (r["vec_id"], r["embedding"], r["label"])
        for r in _rows(tables["embeddings"], SAMPLE_ROWS)
    ]
    return (
        len(rows),
        lambda: encode_native_block(schema, rows),
        lambda payload: decode_native_block(schema, payload),
    )


CODECS = {
    "kafka": _kafka,
    "rowbinary": _rowbinary,
    "avro": _avro,
    "protobuf": _protobuf,
    "native": _native,
}


def _repeat(fn) -> tuple[float, object]:
    """Median wall of ``fn()`` over at least MIN_REPEATS calls and MIN_SECONDS."""
    times, out, t_end = [], None, time.perf_counter() + MIN_SECONDS
    while len(times) < MIN_REPEATS or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return median(times), out


def measure(tracer) -> dict[str, float]:
    """``sink.<codec>.{encode,decode}_us_per_row`` and ``bytes_per_row``."""
    # a sample small enough to build in well under a second
    tables = build(SAMPLE_SEED, Sizes.at(0.001))
    out: dict[str, float] = {}
    for codec, setup in CODECS.items():
        n, encode, decode = setup(tables)
        with tracer.span(f"sink.{codec}"):
            enc_s, payload = _repeat(encode)
            dec_s, back = _repeat(lambda: decode(payload))
        if len(back) != n:
            raise RuntimeError(f"{codec}: decoded {len(back)} rows of {n}")
        out[f"sink.{codec}.encode_us_per_row"] = enc_s / n * 1e6
        out[f"sink.{codec}.decode_us_per_row"] = dec_s / n * 1e6
        out[f"sink.{codec}.bytes_per_row"] = len(payload) / n
    return out

