"""The one LEB128 / zigzag-64 wire primitive behind every sink codec.

Five wire formats in ``sink/`` carry integers as base-128 varints:
ClickHouse RowBinary and Native (unsigned length prefixes), Protocol
Buffers (unsigned varints plus ``sint64`` zigzag), Avro (zigzag
``long``) and Kafka RecordBatch v2 (zigzag ``varint``/``varlong``).
The layout is one decision, so it lives here once.

Both decoders raise ``ValueError`` on a truncated buffer, a varint
longer than ten bytes, or a tenth byte above bit 0 (a value past 64
bits). Encoders emit the minimal encoding and reject values outside
the unsigned / signed 64-bit range.

Most varints on these wires are one byte (small lengths, counts,
deltas, union branches): the encoders serve those from a table and the
decoder returns them before its general loop.
"""

from __future__ import annotations

# Worker-cwd import trap (see sink/rowbinary.py): every codec's worker
# closures call into this module, so ship it by value as well.
try:  # pragma: no cover - exercised by the scan_*/sink_* worker paths
    from pyspark import cloudpickle as _cp

    import etl_ch_destination_spark.sink.wire as _wire_mod

    _cp.register_pickle_by_value(_wire_mod)
except Exception:  # noqa: BLE001  (older pickler without the hook)
    pass

_ONE_BYTE = [bytes([u]) for u in range(0x80)]


def write_uvarint(u: int) -> bytes:
    """Minimal unsigned LEB128 encoding of ``0 <= u < 2**64``."""
    if 0 <= u < 0x80:
        return _ONE_BYTE[u]
    if not 0 <= u < 1 << 64:
        raise ValueError(f"uvarint out of range: {u}")
    out = bytearray()
    while u > 0x7F:
        out.append((u & 0x7F) | 0x80)
        u >>= 7
    out.append(u)
    return bytes(out)


def write_zigzag(n: int) -> bytes:
    """Signed 64-bit ``n`` as zigzag, then unsigned LEB128."""
    u = (n << 1) ^ (n >> 63)
    if 0 <= u < 0x80:  # only in-range n map here
        return _ONE_BYTE[u]
    if not -(1 << 63) <= n < 1 << 63:
        raise ValueError(f"long out of range: {n}")
    return write_uvarint(u)


def read_uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    """Unsigned LEB128 at ``pos``; returns (value, next_pos)."""
    try:
        b = buf[pos]
        if b < 0x80:
            return b, pos + 1
        u = b & 0x7F
        shift = 7
        while True:
            pos += 1
            b = buf[pos]
            if b < 0x80:
                u |= b << shift
                if u >> 64:  # the 10th byte may carry bit 63 only
                    raise ValueError("varint exceeds 64 bits (out of long range)")
                return u, pos + 1
            if shift == 63:
                raise ValueError("varint longer than 10 bytes")
            u |= (b & 0x7F) << shift
            shift += 7
    except IndexError:
        raise ValueError("truncated varint") from None


def read_zigzag(buf: bytes, pos: int) -> tuple[int, int]:
    """Zigzag-64 varint at ``pos``; returns (signed value, next_pos)."""
    u, pos = read_uvarint(buf, pos)
    return (u >> 1) ^ -(u & 1), pos
