"""Minimal Avro binary writer for Debezium envelopes in Confluent framing.

Written from the Avro 1.x binary spec on purpose, independent of the
program's own codec (``cdc_platform_spark.sources.avro``): a codec that
is wrong in both directions would round-trip its own frames, but it
cannot decode these.  Only the types the envelope uses are covered:
long (zig-zag varint), double (8 bytes little endian), string (length
+ UTF-8), two-branch ``["null", T]`` unions, and records (fields in
order).

Writer schema (field order is the wire layout)::

    Envelope: op string, ts_ms long, before [null, Row], after [null, Row],
              source Source
    Row:      id long, event_type [null, string], value [null, double]
    Source:   version, connector, name string, ts_ms long,
              snapshot [null, string], db, schema, table string,
              txId [null, long], lsn [null, long]
    Key:      id long
"""

from __future__ import annotations

import struct

KEY_SCHEMA_ID = 2
VALUE_SCHEMA_ID = 1

_DOUBLE = struct.Struct("<d")
_SCHEMA_ID = struct.Struct(">I")


def _long(n: int, out: bytearray) -> None:
    n = ((n << 1) ^ (n >> 63)) & 0xFFFFFFFFFFFFFFFF
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)


def _string(s: str, out: bytearray) -> None:
    raw = s.encode("utf-8")
    _long(len(raw), out)
    out += raw


def _row(row: tuple[int, str, float] | None, out: bytearray) -> None:
    """``[null, Row]`` union; ``row`` is (id, event_type, value)."""
    if row is None:
        out.append(0)  # branch 0: null (zig-zag 0)
        return
    out.append(2)  # branch 1: Row (zig-zag 1)
    _long(row[0], out)
    out.append(2)
    _string(row[1], out)
    out.append(2)
    out += _DOUBLE.pack(row[2])


def envelope(op: str, ts_ms: int, before, after, tx_id: int, lsn: int) -> bytes:
    out = bytearray()
    _string(op, out)
    _long(ts_ms, out)
    _row(before, out)
    _row(after, out)
    # source block
    _string("2.5.0.Final", out)
    _string("postgresql", out)
    _string("cdc", out)
    _long(ts_ms, out)
    out.append(2)
    _string("false", out)
    _string("app", out)
    _string("public", out)
    _string("users", out)
    out.append(2)
    _long(tx_id, out)
    out.append(2)
    _long(lsn, out)
    return bytes(out)


def key(pk: int) -> bytes:
    out = bytearray()
    _long(pk, out)
    return bytes(out)


def frame(body: bytes, schema_id: int) -> bytes:
    """Confluent wire format: magic 0x00, 4-byte big-endian schema id, body."""
    return b"\x00" + _SCHEMA_ID.pack(schema_id) + body


# Frames no correct decoder may accept, one per failure class: a wrong
# magic byte, a header with no body, and a union branch index (7) that
# the two-branch ``before`` union does not have.
def poison(kind: int, body: bytes) -> bytes:
    if kind == 0:
        return b"\x01" + _SCHEMA_ID.pack(VALUE_SCHEMA_ID) + body
    if kind == 1:
        return frame(b"", VALUE_SCHEMA_ID)
    out = bytearray()
    _string("u", out)
    _long(0, out)
    _long(7, out)
    return frame(bytes(out) + body, VALUE_SCHEMA_ID)
