"""TiDB KV row-value codec: decode pump's raw mutation bytes.

The reference never ships rows as JSON — a pump mutation carries the
TiDB *old row format* value bytes, and the drainer decodes them against
the table's column info:

- insert rows: ``[handle datum][colID datum, value datum]...`` —
  reference drainer/translator/translator.go:40-123
  (``insertRowToDatums``: pk prefix via codec.DecodeOne, remainder via
  tablecodec.DecodeRowToDatumMap, pk-is-handle back-fill with
  ``fixType`` re-interpreting an unsigned handle);
- update rows: ``[colID, value]...`` flat, each column id appearing
  twice — FIRST occurrence is the old image, SECOND the new
  (translator.go:229-350 ``DecodeOldAndNewRow``), with default/zero
  back-fill for columns missing from both when the schema grew
  (``getDefaultOrZeroValue``, translator.go:160-227).

The datum wire format is TiDB's ``util/codec`` (public): a flag byte
then a payload —

====  ==============  ===========================================
flag  name            payload
====  ==============  ===========================================
0     nil             (empty)
1     bytes           memcomparable: 8-byte groups + 0xF7+n markers
2     compact bytes   varint byte-length + raw bytes
3     int             8-byte big-endian, sign bit flipped
4     uint            8-byte big-endian
5     float           8-byte big-endian float64, order-encoded
6     decimal         precision + frac bytes + MySQL decimal2bin
7     duration        comparable int64 nanoseconds
8     varint          Go binary.PutVarint (zigzag LEB128)
9     uvarint         LEB128
10    json            type-code byte + payload; objects/arrays use
                      the MySQL offset-table layout with
                      length-then-bytes key ordering
====  ==============  ===========================================

Record keys ``t{tableID}_r{handle}`` encode/decode too, with a
pure-Catalyst column decode for the hot path.

Spark integration is Arrow-batched ``mapInPandas`` — variable-length
byte parsing is inherently row-iterative, so the Python loop runs once
per Arrow batch on the executor, never row-at-a-time through the
serializer. At 100 TB the decode is a narrow map-only stage (no
shuffle): it scales with executor count and pipelines into whatever
shuffle the downstream operator needs anyway.
"""

from __future__ import annotations

import json as _json
import struct
from dataclasses import dataclass, field
from decimal import Decimal as _Decimal
from typing import Iterator

NIL_FLAG = 0
BYTES_FLAG = 1
COMPACT_BYTES_FLAG = 2
INT_FLAG = 3
UINT_FLAG = 4
FLOAT_FLAG = 5
DECIMAL_FLAG = 6
DURATION_FLAG = 7
VARINT_FLAG = 8
UVARINT_FLAG = 9
JSON_FLAG = 10

# TiDB binary JSON type codes (types/json_binary.go)
_JSON_OBJECT = 0x01
_JSON_ARRAY = 0x03
_JSON_LITERAL = 0x04
_JSON_INT64 = 0x09
_JSON_UINT64 = 0x0A
_JSON_FLOAT64 = 0x0B
_JSON_STRING = 0x0C

_SIGN_MASK = 0x8000000000000000
_U64 = 1 << 64


def _float_to_ordered_u64(value: float) -> int:
    """codec.EncodeFloat's order-preserving transform: positive floats
    get the sign bit set, negatives are fully inverted — u64 order ==
    float order."""
    u = struct.unpack(">Q", struct.pack(">d", float(value)))[0]
    return (~u) & (_U64 - 1) if u & _SIGN_MASK else u | _SIGN_MASK


def _ordered_u64_to_float(u: int) -> float:
    u = u & ~_SIGN_MASK if u & _SIGN_MASK else (~u) & (_U64 - 1)
    return struct.unpack(">d", struct.pack(">Q", u))[0]


def _duration_ns(value) -> int:
    """timedelta/int -> exact integer nanoseconds (total_seconds() is
    a float and drops nanos past ~12 days)."""
    if hasattr(value, "total_seconds"):
        return ((value.days * 86400 + value.seconds) * 10**9
                + value.microseconds * 1000)
    return int(value)


# ---------------------------------------------------------------------------
# scalar codec (Go encoding/binary + tidb util/codec semantics)
# ---------------------------------------------------------------------------

def _encode_uvarint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _decode_uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    result = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 63:
            raise ValueError("uvarint overflows uint64")


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v >= 0 else ((-v) << 1) - 1


def _unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


# memcomparable bytes (EncodeBytes): groups of 8 payload bytes padded
# with zeros, each followed by a marker = 0xF7 + meaningful-byte
# count; a 0xFF marker means "full group, more follows". Byte order
# of the encoding equals lexicographic order of the raw bytes — the
# form index keys use.
_PAD_GROUP = 8
_MARKER_BASE = 0xF7


def encode_comparable_bytes(raw: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(raw) + 1, _PAD_GROUP):
        group = raw[i:i + _PAD_GROUP]
        out += group + b"\x00" * (_PAD_GROUP - len(group))
        out.append(_MARKER_BASE + len(group))
        if len(group) < _PAD_GROUP:
            break
    return bytes(out)


def decode_comparable_bytes(buf: bytes, pos: int) -> tuple[bytes, int]:
    out = bytearray()
    while True:
        if pos + _PAD_GROUP + 1 > len(buf):
            raise ValueError(f"truncated bytes datum at {pos}")
        group = buf[pos:pos + _PAD_GROUP]
        marker = buf[pos + _PAD_GROUP]
        pos += _PAD_GROUP + 1
        n = marker - _MARKER_BASE
        if not 0 <= n <= _PAD_GROUP:
            raise ValueError(f"invalid bytes pad marker {marker:#x}")
        out += group[:n]
        if n < _PAD_GROUP:
            return bytes(out), pos


# MySQL binary decimal (decimal2bin, mirrored by TiDB MyDecimal
# WriteBin): digits in base-10^9 "words" of 4 bytes, partial leading/
# trailing groups in dig2bytes[n] bytes, all bytes inverted for
# negatives, first byte sign-bit XOR — memcomparable for a fixed
# (precision, frac). TiDB's EncodeDecimal prefixes precision + frac.
_DIG2BYTES = (0, 1, 1, 2, 2, 3, 3, 4, 4, 4)


def _decimal_parts(value) -> tuple[bool, str, str]:
    from decimal import Decimal
    # hot loop: skip the str() round-trip when already a Decimal
    d = value if isinstance(value, Decimal) else Decimal(str(value))
    sign, digits, exp = d.as_tuple()
    s = "".join(map(str, digits))
    if exp >= 0:
        return bool(sign), s + "0" * exp, ""
    if -exp >= len(s):
        return bool(sign), "", "0" * (-exp - len(s)) + s
    return bool(sign), s[:exp], s[exp:]


def encode_mysql_decimal(value, precision: int | None = None,
                         frac: int | None = None) -> bytes:
    neg, intp, fracp = _decimal_parts(value)
    intp = intp.lstrip("0")
    if frac is None:
        frac = len(fracp)
    if precision is None:
        precision = max(1, len(intp) + frac)
    if not 0 < precision <= 65 or not 0 <= frac <= 30 or frac > precision:
        raise ValueError(f"invalid decimal shape ({precision},{frac})")
    digits_int = precision - frac
    if len(intp) > digits_int:
        # MySQL/TiDB raise data-out-of-range; silent truncation would
        # corrupt both the value and its index-byte ordering
        raise ValueError(
            f"decimal {value} overflows DECIMAL({precision},{frac})")
    if len(fracp) > frac and fracp[frac:].strip("0"):
        raise ValueError(
            f"decimal {value} loses fraction digits at scale {frac}")
    if not intp and not fracp.strip("0"):
        neg = False      # MyDecimal normalizes -0 to +0 before WriteBin
    intp = intp.rjust(digits_int, "0")
    fracp = fracp.ljust(frac, "0")[:frac]
    words_int, lead = divmod(digits_int, 9)
    words_frac, trail = divmod(frac, 9)
    out = bytearray()
    pos = 0
    if lead:
        out += int(intp[:lead] or "0").to_bytes(_DIG2BYTES[lead], "big")
        pos = lead
    for _ in range(words_int):
        out += int(intp[pos:pos + 9] or "0").to_bytes(4, "big")
        pos += 9
    pos = 0
    for _ in range(words_frac):
        out += int(fracp[pos:pos + 9] or "0").to_bytes(4, "big")
        pos += 9
    if trail:
        out += int(fracp[pos:pos + trail] or "0").to_bytes(
            _DIG2BYTES[trail], "big")
    if neg:
        out = bytearray((~b) & 0xFF for b in out)
    out[0] ^= 0x80
    return bytes([precision, frac]) + bytes(out)


def decode_mysql_decimal(buf: bytes, pos: int):
    from decimal import Decimal
    precision, frac = buf[pos], buf[pos + 1]
    pos += 2
    if not 0 < precision <= 65 or not 0 <= frac <= 30 or frac > precision:
        raise ValueError(
            f"corrupt decimal header ({precision},{frac}) at {pos - 2}")
    digits_int = precision - frac
    words_int, lead = divmod(digits_int, 9)
    words_frac, trail = divmod(frac, 9)
    size = (words_int * 4 + _DIG2BYTES[lead]
            + words_frac * 4 + _DIG2BYTES[trail])
    raw = bytearray(buf[pos:pos + size])
    neg = not (raw[0] & 0x80)
    raw[0] ^= 0x80
    if neg:
        raw = bytearray((~b) & 0xFF for b in raw)
    i = 0
    intp = ""
    if lead:
        n = _DIG2BYTES[lead]
        intp += str(int.from_bytes(raw[i:i + n], "big")).rjust(lead, "0")
        i += n
    for _ in range(words_int):
        intp += str(int.from_bytes(raw[i:i + 4], "big")).rjust(9, "0")
        i += 4
    fracp = ""
    for _ in range(words_frac):
        fracp += str(int.from_bytes(raw[i:i + 4], "big")).rjust(9, "0")
        i += 4
    if trail:
        n = _DIG2BYTES[trail]
        fracp += str(int.from_bytes(raw[i:i + n], "big")).rjust(trail, "0")
        i += n
    text = (intp.lstrip("0") or "0") + ("." + fracp if fracp else "")
    d = Decimal(("-" if neg else "") + text)
    return d, pos + size


def encode_datum(value, kind: str) -> bytes:
    """One datum in EncodeValue (non-comparable) layout: the layout
    the pump's row values use."""
    if value is None:
        return bytes([NIL_FLAG])
    if kind == "long":
        return bytes([VARINT_FLAG]) + _encode_uvarint(_zigzag(int(value)))
    if kind == "ulong":
        return bytes([UVARINT_FLAG]) + _encode_uvarint(int(value) % _U64)
    if kind == "double":
        return bytes([FLOAT_FLAG]) + struct.pack(
            ">Q", _float_to_ordered_u64(value))
    if kind == "string":
        raw = value.encode("utf-8") if isinstance(value, str) else bytes(value)
        return (bytes([COMPACT_BYTES_FLAG])
                + _encode_uvarint(_zigzag(len(raw))) + raw)
    if kind == "bytes":
        raw = value.encode("utf-8") if isinstance(value, str) else bytes(value)
        return bytes([BYTES_FLAG]) + encode_comparable_bytes(raw)
    if kind == "json":
        return bytes([JSON_FLAG]) + encode_json_scalar(value)
    if kind == "decimal":
        return bytes([DECIMAL_FLAG]) + encode_mysql_decimal(value)
    if kind == "duration":
        # EncodeDuration: comparable int64 (sign-bit-flipped big
        # endian) of the duration's nanoseconds
        u = _duration_ns(value) % _U64
        return bytes([DURATION_FLAG]) + struct.pack(">Q", u ^ _SIGN_MASK)
    raise ValueError(f"unsupported datum kind {kind!r}")


def decode_datum(buf: bytes, pos: int):
    """-> (python value, flag, next pos). Mirrors codec.DecodeOne."""
    flag = buf[pos]
    pos += 1
    if flag == NIL_FLAG:
        return None, flag, pos
    if flag == VARINT_FLAG:
        u, pos = _decode_uvarint(buf, pos)
        return _unzigzag(u), flag, pos
    if flag == UVARINT_FLAG:
        u, pos = _decode_uvarint(buf, pos)
        return u, flag, pos
    if flag == INT_FLAG:
        (u,) = struct.unpack_from(">Q", buf, pos)
        return u ^ _SIGN_MASK if u & _SIGN_MASK else u - _U64 + _SIGN_MASK, \
            flag, pos + 8
    if flag == UINT_FLAG:
        (u,) = struct.unpack_from(">Q", buf, pos)
        return u, flag, pos + 8
    if flag == FLOAT_FLAG:
        (u,) = struct.unpack_from(">Q", buf, pos)
        return _ordered_u64_to_float(u), flag, pos + 8
    if flag == COMPACT_BYTES_FLAG:
        z, pos = _decode_uvarint(buf, pos)
        n = _unzigzag(z)
        return buf[pos:pos + n].decode("utf-8"), flag, pos + n
    if flag == BYTES_FLAG:
        raw, pos = decode_comparable_bytes(buf, pos)
        return raw, flag, pos
    if flag == DECIMAL_FLAG:
        d, pos = decode_mysql_decimal(buf, pos)
        return d, flag, pos
    if flag == DURATION_FLAG:
        (u,) = struct.unpack_from(">Q", buf, pos)
        v = u ^ _SIGN_MASK
        return v - _U64 if v >= (1 << 63) else v, flag, pos + 8
    if flag == JSON_FLAG:
        v, pos = decode_json_scalar(buf, pos)
        return v, flag, pos
    raise ValueError(f"unsupported datum flag {flag} at {pos - 1}")


def _json_code_and_payload(value) -> tuple[int, bytes]:
    """-> (type_code, payload bytes WITHOUT the code byte)."""
    if isinstance(value, dict):
        return _JSON_OBJECT, _encode_json_container(value)
    if isinstance(value, (list, tuple)):
        return _JSON_ARRAY, _encode_json_container(value)
    if value is None:
        return _JSON_LITERAL, b"\x00"
    if isinstance(value, bool):
        return _JSON_LITERAL, b"\x01" if value else b"\x02"
    if isinstance(value, int):
        if value >= 1 << 63:
            return _JSON_UINT64, struct.pack("<Q", value)
        return _JSON_INT64, struct.pack("<q", value)
    if isinstance(value, float):
        return _JSON_FLOAT64, struct.pack("<d", value)
    if isinstance(value, str):
        raw = value.encode("utf-8")
        return _JSON_STRING, _encode_uvarint(len(raw)) + raw
    raise ValueError(f"unsupported json scalar {type(value).__name__}")


def _encode_json_container(value) -> bytes:
    """Object/array offset-table layout (json_binary.go, the MySQL
    JSON binary large format): elemCount u32 | totalSize u32 |
    [keyEntry: keyOff u32 + keyLen u16]* | [valueEntry: code byte +
    u32 offset-or-inlined-literal]* | key bytes | non-inlined values.
    Offsets are relative to the container payload start; object keys
    sort MySQL-style (length first, then bytes)."""
    is_obj = isinstance(value, dict)
    if is_obj:
        keys = sorted((k.encode("utf-8") for k in value),
                      key=lambda b: (len(b), b))
        elems = [value[k.decode("utf-8")] for k in keys]
    else:
        keys = []
        elems = list(value)
    n = len(elems)
    header = 8 + (6 * n if is_obj else 0) + 5 * n
    key_blob = b"".join(keys)
    tail = bytearray()
    entries = []
    for elem in elems:
        code, payload = _json_code_and_payload(elem)
        if code == _JSON_LITERAL:
            entries.append((code, payload[0], None))   # inlined in u32
        else:
            entries.append((code, None, payload))
    out = bytearray(struct.pack("<II", n, 0))          # size patched below
    off = header
    for kb in keys:
        out += struct.pack("<IH", off, len(kb))
        off += len(kb)
    val_off = header + len(key_blob)
    for code, inlined, payload in entries:
        if payload is None:
            out += bytes([code]) + struct.pack("<I", inlined)
        else:
            out += bytes([code]) + struct.pack("<I", val_off + len(tail))
            tail += payload
    out += key_blob + tail
    struct.pack_into("<I", out, 4, len(out))
    return bytes(out)


def _decode_json_container(payload: bytes, is_obj: bool):
    n, size = struct.unpack_from("<II", payload, 0)
    if size != len(payload):
        raise ValueError(
            f"corrupt json container: size {size} != {len(payload)}")
    pos = 8
    keys = []
    if is_obj:
        for _ in range(n):
            koff, klen = struct.unpack_from("<IH", payload, pos)
            keys.append(payload[koff:koff + klen].decode("utf-8"))
            pos += 6
    vals = []
    for _ in range(n):
        code = payload[pos]
        (u32,) = struct.unpack_from("<I", payload, pos + 1)
        pos += 5
        if code == _JSON_LITERAL:
            vals.append({0x00: None, 0x01: True, 0x02: False}[u32 & 0xFF])
        else:
            vals.append(_decode_json_at(payload, code, u32))
    return dict(zip(keys, vals)) if is_obj else vals


def _decode_json_at(payload: bytes, code: int, off: int):
    if code == _JSON_OBJECT:
        _, size = struct.unpack_from("<II", payload, off)
        return _decode_json_container(payload[off:off + size], True)
    if code == _JSON_ARRAY:
        _, size = struct.unpack_from("<II", payload, off)
        return _decode_json_container(payload[off:off + size], False)
    if code == _JSON_INT64:
        return struct.unpack_from("<q", payload, off)[0]
    if code == _JSON_UINT64:
        return struct.unpack_from("<Q", payload, off)[0]
    if code == _JSON_FLOAT64:
        return struct.unpack_from("<d", payload, off)[0]
    if code == _JSON_STRING:
        nlen, p = _decode_uvarint(payload, off)
        return payload[p:p + nlen].decode("utf-8")
    raise ValueError(f"unknown json type code {code:#x}")


def encode_json_scalar(value) -> bytes:
    """TiDB binary JSON (json_binary.go): type-code byte + payload.
    Scalars AND containers (the offset-table layout) are supported;
    the name is historical — kept for API stability."""
    code, payload = _json_code_and_payload(value)
    return bytes([code]) + payload


def decode_json_scalar(buf: bytes, pos: int):
    code = buf[pos]
    pos += 1
    if code in (_JSON_OBJECT, _JSON_ARRAY):
        _, size = struct.unpack_from("<II", buf, pos)
        v = _decode_json_container(buf[pos:pos + size],
                                   code == _JSON_OBJECT)
        return v, pos + size
    if code == _JSON_LITERAL:
        lit = buf[pos]
        return {0x00: None, 0x01: True, 0x02: False}[lit], pos + 1
    if code == _JSON_INT64:
        return struct.unpack_from("<q", buf, pos)[0], pos + 8
    if code == _JSON_UINT64:
        return struct.unpack_from("<Q", buf, pos)[0], pos + 8
    if code == _JSON_FLOAT64:
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if code == _JSON_STRING:
        n, pos = _decode_uvarint(buf, pos)
        return buf[pos:pos + n].decode("utf-8"), pos + n
    raise ValueError(f"unknown json type code {code:#x}")


# ---------------------------------------------------------------------------
# row format v2 (TiDB util/rowcodec): version byte 128, schema-
# dependent values. tablecodec.DecodeRowToDatumMap dispatches on the
# first byte (IsNewFormat), which is why the reference — via
# drainer/translator/translator.go:80 and kafka.go:175-177 — decodes
# BOTH formats; TiDB >= 4.0 writes v2 by default.
#
# Layout (little-endian throughout, unlike the big-endian old codec):
#   byte 0   CodecVer = 128
#   byte 1   flags (bit 0 = "large": some colID > 255 or data > 64KiB)
#   u16      numNotNullCols
#   u16      numNullCols
#   colIDs   ascending, not-null section then null section
#            (u8 each when small, u32 each when large)
#   offsets  one per NOT-NULL column: END offset of its value bytes
#            (u16 small / u32 large)
#   data     concatenated value bytes
#
# Values are NOT flag-prefixed — the column's FieldType drives the
# interpretation: ints/durations as 1/2/4/8-byte LE (smallest that
# fits), uints likewise, floats as the order-preserving 8-byte form,
# strings/bytes raw, decimals as the same precision+frac+bin blob the
# old codec uses, JSON as typecode+payload. NULL columns carry no
# value at all (they live in the null-ID section).
# ---------------------------------------------------------------------------

CODEC_VER_V2 = 128


def is_new_format(row: bytes) -> bool:
    """rowcodec.IsNewFormat: old-format rows start with a datum flag
    (<= 10) or are empty; v2 rows start with the version byte 128."""
    return len(row) > 0 and row[0] == CODEC_VER_V2


def _encode_int_v2(v: int) -> bytes:
    if -0x80 <= v <= 0x7F:
        return struct.pack("<b", v)
    if -0x8000 <= v <= 0x7FFF:
        return struct.pack("<h", v)
    if -0x80000000 <= v <= 0x7FFFFFFF:
        return struct.pack("<i", v)
    return struct.pack("<q", v)


def _decode_int_v2(raw: bytes) -> int:
    fmt = {1: "<b", 2: "<h", 4: "<i", 8: "<q"}.get(len(raw))
    if fmt is None:
        raise ValueError(f"invalid v2 int width {len(raw)}")
    return struct.unpack(fmt, raw)[0]


def _encode_uint_v2(v: int) -> bytes:
    if v <= 0xFF:
        return struct.pack("<B", v)
    if v <= 0xFFFF:
        return struct.pack("<H", v)
    if v <= 0xFFFFFFFF:
        return struct.pack("<I", v)
    return struct.pack("<Q", v)


def _decode_uint_v2(raw: bytes) -> int:
    fmt = {1: "<B", 2: "<H", 4: "<I", 8: "<Q"}.get(len(raw))
    if fmt is None:
        raise ValueError(f"invalid v2 uint width {len(raw)}")
    return struct.unpack(fmt, raw)[0]


def _encode_value_v2(value, kind: str) -> bytes:
    if kind == "long":
        return _encode_int_v2(int(value))
    if kind == "ulong":
        return _encode_uint_v2(int(value) % _U64)
    if kind == "double":
        return struct.pack(">Q", _float_to_ordered_u64(value))
    if kind in ("string", "bytes"):
        return value.encode("utf-8") if isinstance(value, str) else bytes(value)
    if kind == "decimal":
        return encode_mysql_decimal(value)
    if kind == "duration":
        return _encode_int_v2(_duration_ns(value))
    if kind == "json":
        return encode_json_scalar(value)
    raise ValueError(f"unsupported v2 kind {kind!r}")


def _decode_value_v2(raw: bytes, kind: str):
    if kind == "long":
        return _decode_int_v2(raw)
    if kind == "ulong":
        return _decode_uint_v2(raw)
    if kind == "double":
        if len(raw) != 8:
            raise ValueError(f"invalid v2 float width {len(raw)}")
        return _ordered_u64_to_float(struct.unpack(">Q", raw)[0])
    if kind == "string":
        return raw.decode("utf-8")
    if kind == "bytes":
        return bytes(raw)
    if kind == "decimal":
        d, pos = decode_mysql_decimal(raw, 0)
        if pos != len(raw):
            raise ValueError("trailing bytes after v2 decimal")
        return d
    if kind == "duration":
        return _decode_int_v2(raw)
    if kind == "json":
        v, pos = decode_json_scalar(raw, 0)
        if pos != len(raw):
            raise ValueError("trailing bytes after v2 json")
        return v
    raise ValueError(f"unsupported v2 kind {kind!r}")


def encode_row_v2(info, values: dict[int, object],
                  force_large: bool = False) -> bytes:
    """rowcodec Encoder.Encode: ``values`` maps col_id -> value
    (None = explicit NULL, which lands in the null-ID section);
    omitted ids are simply absent (schema-grew back-fill territory).
    ``large`` is chosen exactly like the writer: any col id > 255 or
    total value bytes > 0xFFFF."""
    not_null = sorted(cid for cid, v in values.items() if v is not None)
    nulls = sorted(cid for cid, v in values.items() if v is None)
    blobs = []
    for cid in not_null:
        c = info.col(cid)
        blobs.append(_encode_value_v2(values[cid], c.kind if c else "long"))
    total = sum(len(b) for b in blobs)
    large = (force_large or total > 0xFFFF
             or any(cid > 0xFF for cid in values))
    id_fmt, off_fmt = ("<I", "<I") if large else ("<B", "<H")
    out = bytearray([CODEC_VER_V2, 1 if large else 0])
    out += struct.pack("<HH", len(not_null), len(nulls))
    for cid in not_null + nulls:
        out += struct.pack(id_fmt, cid)
    off = 0
    for b in blobs:
        off += len(b)
        out += struct.pack(off_fmt, off)
    for b in blobs:
        out += b
    return bytes(out)


def decode_row_v2(info, row: bytes) -> dict[int, object]:
    """rowcodec row.fromBytes + per-column decode. Unknown column ids
    (not in ``info``) are skipped, like the reference's cols-map
    filter. NULL columns decode to None."""
    if len(row) < 6:
        raise ValueError(f"corrupt v2 row: {len(row)} bytes < header")
    if row[0] != CODEC_VER_V2:
        raise ValueError(f"not a v2 row (version byte {row[0]})")
    large = bool(row[1] & 1)
    n_notnull, n_null = struct.unpack_from("<HH", row, 2)
    pos = 6
    id_w = 4 if large else 1
    off_w, off_fmt = (4, "<I") if large else (2, "<H")
    id_fmt = "<I" if large else "<B"
    header = pos + (n_notnull + n_null) * id_w + n_notnull * off_w
    if len(row) < header:
        raise ValueError(
            f"corrupt v2 row: {len(row)} bytes < declared header {header}")
    notnull_ids = [struct.unpack_from(id_fmt, row, pos + i * id_w)[0]
                   for i in range(n_notnull)]
    pos += n_notnull * id_w
    null_ids = [struct.unpack_from(id_fmt, row, pos + i * id_w)[0]
                for i in range(n_null)]
    pos += n_null * id_w
    ends = [struct.unpack_from(off_fmt, row, pos + i * off_w)[0]
            for i in range(n_notnull)]
    pos += n_notnull * off_w
    data = row[pos:]
    # END offsets must be non-decreasing and span exactly the data
    # section — otherwise corruption masquerades as empty/shifted
    # values (data[10:2] slices to b"" silently)
    if any(a > b for a, b in zip(ends, ends[1:])) \
            or (ends[-1] if ends else 0) != len(data):
        raise ValueError(
            f"corrupt v2 row: offsets {ends} vs data {len(data)}")
    datums: dict[int, object] = {}
    start = 0
    for cid, end in zip(notnull_ids, ends):
        c = info.col(cid)
        if c is not None:
            datums[cid] = _decode_value_v2(data[start:end], c.kind)
        start = end
    for cid in null_ids:
        if info.col(cid) is not None:
            datums[cid] = None
    return datums


def decode_row_to_datum_map(info, row: bytes) -> dict[int, object]:
    """tablecodec.DecodeRowToDatumMap: dispatch old/new format on the
    first byte — the exact branch the reference decode rides."""
    if is_new_format(row):
        return decode_row_v2(info, row)
    datums: dict[int, object] = {}
    pos = 0
    while pos < len(row):
        col_id, _, pos = decode_datum(row, pos)
        value, _, pos = decode_datum(row, pos)
        if info.col(col_id) is not None:
            datums[col_id] = value
    return datums


# ---------------------------------------------------------------------------
# table schema (the slice of model.TableInfo the decoder consumes)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class ColInfo:
    col_id: int
    name: str
    kind: str    # long | ulong | double | string | bytes | decimal | duration
    default: object = None         # getDefaultOrZeroValue source
    not_null: bool = False


@dataclass(frozen=True)
class KVTableInfo:
    """pk_handle_id: the column whose value IS the row handle
    (table.PKIsHandle) — its datum is the row prefix, not a
    [colID, value] pair. Unsigned handles re-interpret the signed
    int64 (fixType, translator.go:117-121).

    common_pk_ids: clustered-index ("common handle") tables instead
    prefix the row with ONE DATUM PER PK COLUMN, in index-column
    order (translator.go:46-77: pkLen = len(commonPKInfo.Columns),
    back-filled into the datum map only when the row body doesn't
    already carry the column). Mutually exclusive with
    pk_handle_id."""
    columns: tuple[ColInfo, ...]
    pk_handle_id: int | None = None
    common_pk_ids: tuple[int, ...] = ()
    _by_id: dict = field(default=None, compare=False, repr=False)

    def __post_init__(self):
        if self.pk_handle_id is not None and self.common_pk_ids:
            raise ValueError(
                "pk_handle_id and common_pk_ids are mutually exclusive "
                "(a table has either an int handle or a common handle)")
        # col() runs once per datum pair per row inside the decode hot
        # loop: an id->ColInfo dict keeps that O(1) per lookup
        object.__setattr__(
            self, "_by_id", {c.col_id: c for c in self.columns})

    def col(self, col_id: int) -> ColInfo | None:
        return self._by_id.get(col_id)

    def default_or_zero(self, c: ColInfo):
        """translator.go getDefaultOrZeroValue: declared default, else
        NULL when nullable, else the type's zero value."""
        if c.default is not None:
            return c.default
        if not c.not_null:
            return None
        if c.kind == "decimal":
            from decimal import Decimal
            return Decimal(0)
        return {"long": 0, "ulong": 0, "double": 0.0, "string": "",
                "bytes": b"", "duration": 0}[c.kind]


# ---------------------------------------------------------------------------
# row-level encode (pump side, used by fixtures) / decode (drainer side)
# ---------------------------------------------------------------------------

def encode_insert_row(info: KVTableInfo, handle: int,
                      values: dict[int, object],
                      row_format: int = 1) -> bytes:
    """``[handle][row body]`` — the pk-is-handle insert layout
    insertRowToDatums consumes. ``values`` maps col_id -> value for
    NON-handle columns; omit a col_id to exercise default back-fill.
    ``row_format=1`` writes the old flat [colID, value] datum pairs;
    ``row_format=2`` writes the rowcodec v2 body (TiDB >= 4.0's
    default) — the decoder dispatches per row, so mixed streams (a
    cluster mid-upgrade) decode correctly."""
    out = bytearray(encode_datum(handle, "long"))
    out += _encode_row_body(info, values, row_format)
    return bytes(out)


def _encode_row_body(info: KVTableInfo, values: dict[int, object],
                     row_format: int) -> bytes:
    if row_format == 2:
        return encode_row_v2(info, values)
    out = bytearray()
    for col_id, value in values.items():
        c = info.col(col_id)
        out += encode_datum(col_id, "long")
        out += encode_datum(value, c.kind if c else "long")
    return bytes(out)


def encode_insert_row_common(info: KVTableInfo, pk_values: tuple,
                             values: dict[int, object],
                             row_format: int = 1) -> bytes:
    """Clustered-index insert layout: one datum per PK column (in
    common_pk_ids order), then the row body."""
    out = bytearray()
    # strict: a short pk tuple would silently shift the decoder into
    # reading row-body bytes as pk datums
    for cid, v in zip(info.common_pk_ids, pk_values, strict=True):
        c = info.col(cid)
        out += encode_datum(v, c.kind if c else "long")
    out += _encode_row_body(info, values, row_format)
    return bytes(out)


def encode_update_row(info: KVTableInfo, old: dict[int, object],
                      new: dict[int, object]) -> bytes:
    """Flat ``[colID, old, ..., colID, new, ...]`` pairs: all old
    images first, then all new — DecodeOldAndNewRow keys off each
    col_id's FIRST vs SECOND occurrence, so any interleaving where
    old precedes new per column is equivalent."""
    out = bytearray()
    for image in (old, new):
        for col_id, value in image.items():
            c = info.col(col_id)
            out += encode_datum(col_id, "long")
            out += encode_datum(value, c.kind if c else "long")
    return bytes(out)


def decode_insert_row(info: KVTableInfo, row: bytes) -> dict[int, object]:
    """insertRowToDatums: pk datum prefix (one datum for int-handle
    tables, len(common_pk_ids) datums for clustered-index tables),
    then the row body in EITHER format via decode_row_to_datum_map,
    then pk back-fill + default back-fill."""
    pk: list = []
    pos = 0
    for _ in range(max(1, len(info.common_pk_ids))):
        v, _, pos = decode_datum(row, pos)
        pk.append(v)
    datums = decode_row_to_datum_map(info, row[pos:])
    if info.common_pk_ids:
        # translator.go:90-103: the row body wins over the pk prefix
        # (new-collation sort-key pks carry only the sort form)
        for cid, v in zip(info.common_pk_ids, pk):
            if cid not in datums:
                c = info.col(cid)
                if c is not None and c.kind == "ulong" and v is not None:
                    v = v % _U64
                datums[cid] = v
    for c in info.columns:
        if c.col_id == info.pk_handle_id:
            # fixType: unsigned pk stored as its signed reinterpretation
            datums[c.col_id] = pk[0] % _U64 if c.kind == "ulong" else pk[0]
        elif c.col_id not in datums:
            datums[c.col_id] = info.default_or_zero(c)
    return datums


def decode_delete_row(info: KVTableInfo, row: bytes) -> dict[int, object]:
    """deleteRowToRow (drainer/translator/kafka.go:171-196,
    mysql.go:88-105): a delete mutation carries the FULL OLD ROW with
    no handle prefix — straight DecodeRowToDatumMap (either format)
    plus default back-fill for columns the old row predates."""
    datums = decode_row_to_datum_map(info, row)
    for c in info.columns:
        if c.col_id not in datums:
            datums[c.col_id] = info.default_or_zero(c)
    return datums


def decode_update_row(info: KVTableInfo, row: bytes
                      ) -> tuple[dict[int, object], dict[int, object]]:
    """DecodeOldAndNewRow: first occurrence -> old, second -> new;
    columns missing from both get default/zero in BOTH images."""
    if not row or row[0] == NIL_FLAG:
        return {}, {}
    old: dict[int, object] = {}
    new: dict[int, object] = {}
    pos, cnt = 0, 0
    want = sum(1 for c in info.columns) * 2
    while pos < len(row):
        col_id, _, pos = decode_datum(row, pos)
        value, _, pos = decode_datum(row, pos)
        c = info.col(col_id)
        if c is None:
            continue
        if col_id in old:
            new[col_id] = value
        else:
            old[col_id] = value
        cnt += 1
        if cnt == want:
            break
    if len(old) != len(new):
        raise ValueError(
            f"row data is corrupted: old has {len(old)} cols, "
            f"new has {len(new)}")
    for c in info.columns:
        if c.col_id not in old:
            v = info.default_or_zero(c)
            old[c.col_id] = v
            new[c.col_id] = v
    return old, new


# ---------------------------------------------------------------------------
# Spark surface: Arrow-batched decode over a binary column
# ---------------------------------------------------------------------------

def _spark_type(kind: str) -> str:
    # decimal surfaces as its exact STRING rendering: precision/frac
    # ride per-datum in the wire format, so no single Spark decimal
    # type fits every row; duration surfaces as BIGINT nanos
    # json surfaces as its compact string form (kafka.go:283-284)
    return {"long": "long", "ulong": "decimal(20,0)",
            "double": "double", "string": "string", "bytes": "binary",
            "decimal": "string", "duration": "long",
            "json": "string"}[kind]


def _surface_value(v, kind: str):
    """Python datum -> Spark surface value (shared by the decode
    streams): ulong -> Decimal(20,0), decimal/json -> string."""
    if v is None:
        return None
    if kind == "ulong":
        return _Decimal(v)
    if kind == "decimal":
        return str(v)
    if kind == "json":
        return _json.dumps(v, separators=(",", ":"), ensure_ascii=False)
    return v


def _one_image_stream(raw, info: KVTableInfo, key_cols, mode: str):
    """Shared mapInPandas wrapper for the single-image decodes
    (``mode`` "insert": handle prefix + body; "delete": body only):
    one typed column per schema column, key_cols carried through, one
    kvcodec_np lockstep batch decode per Arrow batch. The batch decoder
    hands rows it cannot decode in lockstep to the per-row codecs."""
    import pandas as pd

    schema = ", ".join([f"{k} long" for k in key_cols]
                       + [f"{c.name} {_spark_type(c.kind)}"
                          for c in info.columns])

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from . import kvcodec_np
        batch_fn = (kvcodec_np.decode_batch_insert if mode == "insert"
                    else kvcodec_np.decode_batch_delete)
        for pdf in batches:
            cols: dict[str, list] = {k: pdf[k].tolist() for k in key_cols}
            values, _ = batch_fn(info, list(pdf["row_bytes"]))
            for c in info.columns:
                cols[c.name] = values[c.col_id].tolist()
            yield pd.DataFrame(cols)

    return raw.mapInPandas(decode, schema=schema)


def decode_insert_stream(raw, info: KVTableInfo,
                         key_cols: tuple[str, ...] = ("arrival_seq",)):
    """DataFrame with a BINARY ``row_bytes`` column -> one typed column
    per schema column (named c.name), carrying ``key_cols`` through."""
    return _one_image_stream(raw, info, key_cols, "insert")


def decode_delete_stream(raw, info: KVTableInfo,
                         key_cols: tuple[str, ...] = ("arrival_seq",)):
    """Delete-row decode over a BINARY ``row_bytes`` column: full old
    row, no handle prefix (deleteRowToRow)."""
    return _one_image_stream(raw, info, key_cols, "delete")


def decode_update_stream(raw, info: KVTableInfo,
                         key_cols: tuple[str, ...] = ("arrival_seq",)):
    """Update-row decode: emits old_<name> / new_<name> per column.
    A NIL/empty row value gives no row: DecodeOldAndNewRow returns nil
    maps for it and the reference skips the mutation."""
    import pandas as pd

    schema = ", ".join(
        [f"{k} long" for k in key_cols]
        + [f"old_{c.name} {_spark_type(c.kind)}" for c in info.columns]
        + [f"new_{c.name} {_spark_type(c.kind)}" for c in info.columns])

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from . import kvcodec_np
        for pdf in batches:
            keep, old_vals, new_vals = kvcodec_np.decode_batch_update(
                info, list(pdf["row_bytes"]))
            kept = np.nonzero(keep)[0]
            cols = {k: pdf[k].to_numpy()[kept].tolist() for k in key_cols}
            for c in info.columns:
                cols[f"old_{c.name}"] = old_vals[c.col_id][kept].tolist()
                cols[f"new_{c.name}"] = new_vals[c.col_id][kept].tolist()
            yield pd.DataFrame(cols)

    return raw.mapInPandas(decode, schema=schema)


# ---------------------------------------------------------------------------
# TiKV record keys: t{tableID}_r{handle} (tablecodec.EncodeRowKey) —
# both ints as comparable sign-flipped big-endian. The physical table
# id in the key is what partition routing consumes.
# ---------------------------------------------------------------------------

def encode_record_key(table_id: int, handle: int) -> bytes:
    def comp(v: int) -> bytes:
        return struct.pack(">Q", (v % _U64) ^ _SIGN_MASK)
    return b"t" + comp(table_id) + b"_r" + comp(handle)


def decode_record_key(key: bytes) -> tuple[int, int]:
    if len(key) != 19 or key[0:1] != b"t" or key[9:11] != b"_r":
        raise ValueError("not a record key")

    def uncomp(raw: bytes) -> int:
        (u,) = struct.unpack(">Q", raw)
        v = u ^ _SIGN_MASK
        return v - _U64 if v >= (1 << 63) else v
    return uncomp(key[1:9]), uncomp(key[11:19])


def record_key_columns(df, key_col: str = "key"):
    """Pure-Catalyst record-key decode: adds ``table_id`` and
    ``handle`` BIGINT columns from the raw key bytes — no Python in
    the plan (hex -> base-16 conv -> sign-bias subtract), so key
    decoding rides whole-stage codegen at any scale.

    Non-record keys (index keys t..._i..., malformed blobs) decode to
    NULL in both columns — the Catalyst analog of the Python codec's
    ValueError, so garbage can never masquerade as a routable id."""
    from pyspark.sql import functions as F

    valid = ((F.length(F.col(key_col)) == 19)
             & (F.expr(f"substring({key_col}, 1, 1)") == F.expr("X'74'"))
             & (F.expr(f"substring({key_col}, 10, 2)") == F.expr("X'5F72'")))

    def comp_long(start: int):
        # bytes are 1-indexed in substring; conv() yields the unsigned
        # value as a string; DECIMAL(20,0) holds the full u64 before
        # the sign-flip bias is removed
        u = F.conv(F.hex(F.expr(f"substring({key_col}, {start}, 8)")),
                   16, 10).cast("decimal(20,0)")
        bias = F.expr("CAST('9223372036854775808' AS DECIMAL(20,0))")
        return F.when(valid, (u - bias).cast("long"))

    return (df.withColumn("table_id", comp_long(2))
              .withColumn("handle", comp_long(12)))


def _fixture_stream(ch, info: KVTableInfo, batch_fn):
    """mapInPandas wrapper for the fixture generators: one
    kvcodec_np batch encode per Arrow batch of (arrival_seq, pk, val,
    k) rows."""
    import pandas as pd

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = batch_fn(info, pdf["arrival_seq"].to_numpy(),
                           pdf["pk"].to_numpy(), pdf["val"].to_numpy(),
                           pdf["k"])
            yield pd.DataFrame({"arrival_seq": pdf["arrival_seq"],
                                "row_bytes": out})

    return ch.mapInPandas(encode, schema="arrival_seq long, row_bytes binary")


def encode_insert_stream(ch, info: KVTableInfo):
    """Fixture generator: change-stream rows -> pump-format insert row
    bytes (handle = pk). Deterministic column omission/NULLs so decode
    exercises back-fill:

    - arrival_seq % 3 == 0: the row body is encoded in ROW FORMAT V2
      (rowcodec, version byte 128) instead of the old datum pairs —
      the decoder dispatches per row exactly like
      tablecodec.DecodeRowToDatumMap, so the mixed stream models a
      cluster mid-upgrade;
    - arrival_seq % 11 == 0: the string column is OMITTED entirely
      (schema-grew case -> default back-fill);
    - arrival_seq % 13 == 0: val encoded as NULL (NilFlag old-format,
      null-ID section in v2);
    - odd pk: the unsigned column (if any) carries a top-bit-set
      value (2^64 - pk) — uvarint + fixType territory;
    - a decimal column (if any) carries pk * 100.01 exactly (2-frac
      MySQL binary decimal); a duration column carries
      (arrival_seq % 86400) seconds as comparable int64 nanos.

    The per-row statement of these rules is
    ``kvcodec_np._row_insert_fixture``.
    """
    from . import kvcodec_np
    return _fixture_stream(ch, info, kvcodec_np.encode_batch_insert_fixture)


def encode_delete_stream(ch, info: KVTableInfo):
    """Fixture generator for delete rows: the FULL OLD IMAGE with no
    handle prefix (deleteRowToRow input shape). Same deterministic
    rules as the insert fixture so one oracle covers both paths:
    v2 every third row, %11 omits the string column, %13 NULLs val
    (per row: ``kvcodec_np._row_delete_fixture``)."""
    from . import kvcodec_np
    return _fixture_stream(ch, info, kvcodec_np.encode_batch_delete_fixture)


def encode_update_stream(ch, info: KVTableInfo):
    """Fixture generator for update rows: old image = (pk, val-1,
    'old_'+k), new image = (pk, val, k); arrival_seq % 11 == 0 omits
    the string column from BOTH images (default back-fill in both,
    DecodeOldAndNewRow's missing-col branch; per row:
    ``kvcodec_np._row_update_fixture``)."""
    from . import kvcodec_np
    return _fixture_stream(ch, info, kvcodec_np.encode_batch_update_fixture)
