"""qpack: the reference's compact binary serialization, pure Python.

Wire format studied from the reference implementation
(/root/reference/include/qpack/qpack.h:20-67,
/root/reference/src/qpack/qpack.c:45-71 QP_PREPARE_RAW,
:482-530 qp_add_int64, :448-467 qp_add_double, :840-1000 unpack):

====================  =========================================
byte                  meaning
====================  =========================================
0x00-0x3F (0-63)      positive tiny int, value = byte
0x40-0x7B (64-123)    negative tiny int, value = 63 - byte
                      (covers -1 .. -60)
0x7C (124)            hook (unused by the engine)
0x7D-0x7F (125-127)   fixed doubles: value = byte - 126
                      (-1.0, 0.0, 1.0)
0x80-0xE3 (128-227)   raw, length = byte - 128 (0..99), bytes
                      follow
0xE4-0xE7 (228-231)   RAW8/16/32/64: unsigned little-endian
                      length follows, then bytes
0xE8-0xEB (232-235)   INT8/16/32/64: signed little-endian value
0xEC (236)            DOUBLE: 8-byte IEEE-754 little-endian
0xED-0xF2 (237-242)   fixed array of 0..5 items
0xF3-0xF8 (243-248)   fixed map of 0..5 (key, value) pairs
0xF9 / 0xFA / 0xFB    true / false / null
0xFC / 0xFD           array open / map open (unbounded)
0xFE / 0xFF           array close / map close
====================  =========================================

Encoding choices mirror the reference packer: ints take the smallest
lane (tiny covers 0..63 and -60..-1); 0.0/±1.0 collapse to the fixed
double bytes; raws < 100 bytes use the one-byte form; containers with
≤ 5 items use the fixed headers, larger ones the open/close frame.
An open container that never sees its close byte ends at the end of
the buffer (the reference unpacker treats QP_END the same way).

``unpackb`` decodes raws to ``str`` when they are valid UTF-8 and to
``bytes`` otherwise — the same convenience the reference's Python
client applies before handing results to user code.
"""

from __future__ import annotations

import struct
from typing import Any

QP_HOOK = 124
QP_DOUBLE_N1 = 125  # 125..127 → value = byte - 126
QP_RAW8, QP_RAW16, QP_RAW32, QP_RAW64 = 228, 229, 230, 231
QP_INT8, QP_INT16, QP_INT32, QP_INT64 = 232, 233, 234, 235
QP_DOUBLE = 236
QP_ARRAY0 = 237  # ..242
QP_MAP0 = 243  # ..248
QP_TRUE, QP_FALSE, QP_NULL = 249, 250, 251
QP_ARRAY_OPEN, QP_MAP_OPEN = 252, 253
QP_ARRAY_CLOSE, QP_MAP_CLOSE = 254, 255

_INT64_MIN, _INT64_MAX = -(1 << 63), (1 << 63) - 1


class QpackError(ValueError):
    pass


# ------------------------------------------------------------------ pack
# Values dispatch on their exact type (one dict lookup); subclasses
# (an IntEnum, a numpy float64) take the isinstance chain of
# ``_pack_other``. Each fixed-width lane is one precompiled Struct
# that writes the tag byte and the value together.
_TAG_I8 = struct.Struct("<Bb").pack
_TAG_I16 = struct.Struct("<Bh").pack
_TAG_I32 = struct.Struct("<Bi").pack
_TAG_I64 = struct.Struct("<Bq").pack
_TAG_DOUBLE = struct.Struct("<Bd").pack
_ARRAY2 = QP_ARRAY0 + 2
#: a ``[ts, value]`` point pair with an INT32/INT64-lane ts and a
#: double value off the fixed bytes: the array header and both tagged
#: values in one call
_PAIR_I32_D = struct.Struct("<BBiBd").pack
_PAIR_I64_D = struct.Struct("<BBqBd").pack


def _pack_int(out: bytearray, v: int):
    if 0 <= v < 64:
        out.append(v)
    elif -60 <= v < 0:
        out.append(63 - v)
    elif -(1 << 7) <= v < (1 << 7):
        out += _TAG_I8(QP_INT8, v)
    elif -(1 << 15) <= v < (1 << 15):
        out += _TAG_I16(QP_INT16, v)
    elif -(1 << 31) <= v < (1 << 31):
        out += _TAG_I32(QP_INT32, v)
    elif _INT64_MIN <= v <= _INT64_MAX:
        out += _TAG_I64(QP_INT64, v)
    else:
        raise QpackError(f"integer out of int64 range: {v}")


def _pack_float(out: bytearray, v: float):
    if v == 0.0:
        out.append(126)
    elif v == 1.0:
        out.append(127)
    elif v == -1.0:
        out.append(125)
    else:
        out += _TAG_DOUBLE(QP_DOUBLE, v)


def _pack_raw(out: bytearray, b: bytes):
    n = len(b)
    if n < 100:
        out.append(128 + n)
    elif n <= 0xFF:
        out.append(QP_RAW8)
        out.append(n)
    elif n <= 0xFFFF:
        out.append(QP_RAW16)
        out += struct.pack("<H", n)
    elif n <= 0xFFFFFFFF:
        out.append(QP_RAW32)
        out += struct.pack("<I", n)
    else:
        out.append(QP_RAW64)
        out += struct.pack("<Q", n)
    out += b


def _pack_str(out: bytearray, v: str):
    _pack_raw(out, v.encode("utf-8"))


def _pack_bytes(out: bytearray, v):
    _pack_raw(out, bytes(v))


def _pack_none(out: bytearray, _v):
    out.append(QP_NULL)


def _pack_bool(out: bytearray, v: bool):
    out.append(QP_TRUE if v else QP_FALSE)


def _pack_array(out: bytearray, v):
    n = len(v)
    out.append(QP_ARRAY0 + n if n <= 5 else QP_ARRAY_OPEN)
    get = _PACKERS.get
    for item in v:
        if type(item) is list and len(item) == 2:
            ts, val = item
            if type(ts) is int and type(val) is float \
                    and val != 0.0 and val != 1.0 and val != -1.0:
                if (1 << 31) <= ts <= _INT64_MAX:
                    out += _PAIR_I64_D(_ARRAY2, QP_INT64, ts,
                                       QP_DOUBLE, val)
                    continue
                if (1 << 15) <= ts < (1 << 31):
                    out += _PAIR_I32_D(_ARRAY2, QP_INT32, ts,
                                       QP_DOUBLE, val)
                    continue
        get(type(item), _pack_other)(out, item)
    if n > 5:
        out.append(QP_ARRAY_CLOSE)


def _pack_map(out: bytearray, v: dict):
    n = len(v)
    out.append(QP_MAP0 + n if n <= 5 else QP_MAP_OPEN)
    get = _PACKERS.get
    for k, item in v.items():
        get(type(k), _pack_other)(out, k)
        get(type(item), _pack_other)(out, item)
    if n > 5:
        out.append(QP_MAP_CLOSE)


_PACKERS = {
    type(None): _pack_none, bool: _pack_bool, int: _pack_int,
    float: _pack_float, str: _pack_str, bytes: _pack_bytes,
    bytearray: _pack_bytes, memoryview: _pack_bytes,
    list: _pack_array, tuple: _pack_array, dict: _pack_map,
}
_PACKERS_BY_BASE = (
    (int, _pack_int), (float, _pack_float), (str, _pack_str),
    ((bytes, bytearray, memoryview), _pack_bytes),
    ((list, tuple), _pack_array), (dict, _pack_map),
)


def _pack_other(out: bytearray, v: Any):
    for base, pack in _PACKERS_BY_BASE:
        if isinstance(v, base):
            pack(out, v)
            return
    raise QpackError(f"cannot qpack type {type(v).__name__}")


def packb(v: Any) -> bytes:
    out = bytearray()
    _PACKERS.get(type(v), _pack_other)(out, v)
    return bytes(out)


# ---------------------------------------------------------------- unpack
# ``_unpack(buf, pos)`` decodes the value at ``pos`` and returns it
# with the position after it. Reading past the end raises IndexError
# or struct.error, which ``unpackb`` reports as truncated data.
def _lane(fmt: str):
    s = struct.Struct("<" + fmt)
    return s.unpack_from, s.size


#: the length prefix of RAW8..RAW64
_RAW_LENS = {QP_RAW8: _lane("B"), QP_RAW16: _lane("H"),
             QP_RAW32: _lane("I"), QP_RAW64: _lane("Q")}
_LANE_FMTS = {QP_INT8: "b", QP_INT16: "h", QP_INT32: "i",
              QP_INT64: "q", QP_DOUBLE: "d"}
#: the fixed-width int and double lanes
_LANES = {tag: _lane(fmt) for tag, fmt in _LANE_FMTS.items()}
#: a fixed array of two fixed-width values, read tags and all in one
#: call: (first tag << 8 | second tag) -> (unpack_from, total width)
_PAIRS = {(ta << 8) | tb: _lane(f"B{fa}B{fb}")
          for ta, fa in _LANE_FMTS.items()
          for tb, fb in _LANE_FMTS.items()}


def _truncated() -> QpackError:
    return QpackError("truncated qpack data")


def _raw(buf: bytes, pos: int, n: int):
    stop = pos + n
    if stop > len(buf):
        raise _truncated()
    b = buf[pos:stop]
    try:
        return b.decode("utf-8"), stop
    except UnicodeDecodeError:
        return b, stop


def _unpack(buf: bytes, pos: int):
    tp = buf[pos]
    pos += 1
    if tp == _ARRAY2:  # the [ts, value] pair of a select reply
        first = _LANES.get(buf[pos])
        if first is not None:
            pair = _PAIRS.get((buf[pos] << 8) | buf[pos + 1 + first[1]])
            if pair is not None:
                read, width = pair
                _ta, a, _tb, b = read(buf, pos)
                return [a, b], pos + width
    if tp < 64:
        return tp, pos
    if tp < 124:
        return 63 - tp, pos
    if tp == QP_HOOK:
        raise QpackError("hook objects are not supported")
    if tp < 128:  # 125..127
        return float(tp - 126), pos
    if tp < 228:  # fixed raw
        return _raw(buf, pos, tp - 128)
    if tp <= QP_RAW64:
        read, width = _RAW_LENS[tp]
        return _raw(buf, pos + width, read(buf, pos)[0])
    if tp <= QP_DOUBLE:
        read, width = _LANES[tp]
        return read(buf, pos)[0], pos + width
    if tp <= 242:  # fixed array
        items = []
        for _ in range(tp - QP_ARRAY0):
            v, pos = _unpack(buf, pos)
            items.append(v)
        return items, pos
    if tp <= 248:  # fixed map
        m = {}
        for _ in range(tp - QP_MAP0):
            k, pos = _unpack(buf, pos)
            v, pos = _unpack(buf, pos)
            m[k] = v
        return m, pos
    if tp == QP_TRUE:
        return True, pos
    if tp == QP_FALSE:
        return False, pos
    if tp == QP_NULL:
        return None, pos
    end = len(buf)
    if tp == QP_ARRAY_OPEN:
        items = []
        while pos < end and buf[pos] != QP_ARRAY_CLOSE:
            v, pos = _unpack(buf, pos)
            items.append(v)
        return items, min(pos + 1, end)
    if tp == QP_MAP_OPEN:
        m = {}
        while pos < end and buf[pos] != QP_MAP_CLOSE:
            k, pos = _unpack(buf, pos)
            if pos >= end or buf[pos] == QP_MAP_CLOSE:
                raise QpackError("map key without value")
            v, pos = _unpack(buf, pos)
            m[k] = v
        return m, min(pos + 1, end)
    raise QpackError(f"unexpected close tag 0x{tp:02x}")


def unpackb(buf: bytes) -> Any:
    if not buf:
        raise QpackError("empty qpack buffer")
    buf = bytes(buf)
    try:
        v, pos = _unpack(buf, 0)
    except (IndexError, struct.error):
        raise _truncated() from None
    if pos < len(buf):
        raise QpackError(f"trailing bytes after qpack value at {pos}")
    return v
