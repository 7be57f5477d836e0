"""The select reply path: the columnar ``_collect`` (Arrow collect,
one stable sort, lists built from columns) and the qpack codec's fast
paths must give the same bytes as the Row builder and the per-value
codec they replace. Both replaced implementations are kept here as
the references."""

from __future__ import annotations

import enum
import json
import math
import struct
from typing import Any

import pytest

from siridb_server_spark import SiriEngine
from siridb_server_spark.functions.pipeline import COLS
from siridb_server_spark.model import TP_DOUBLE, TP_INT
from siridb_server_spark.plans.parser import Parser
from siridb_server_spark.sources import qpack


# ----------------------------------------- reference: the Row builder
def _row_value(row):
    tp = row["tp"]
    if tp == TP_INT:
        return row["val_int"]
    if tp == TP_DOUBLE:
        v = row["val_dbl"]
        return float(v) if v is not None else math.nan
    return row["val_str"]


def _row_reply(df, seeds=None) -> dict:
    rows = df.select(*COLS).collect()
    rows.sort(key=lambda r: (r["ts"], r["seq"]))
    out: dict = {s: [] for s in seeds} if seeds else {}
    for r in rows:
        out.setdefault(r["series"], []).append([r["ts"], _row_value(r)])
    return out


# ------------------------------- reference: the per-value qpack codec
def _ref_pack(out: bytearray, v: Any):
    if v is None:
        out.append(0xFB)
    elif v is True:
        out.append(0xF9)
    elif v is False:
        out.append(0xFA)
    elif isinstance(v, int):
        if not -(1 << 63) <= v < (1 << 63):
            raise qpack.QpackError("int64")
        if 0 <= v < 64:
            out.append(v)
        elif -60 <= v < 0:
            out.append(63 - v)
        else:
            for tag, fmt, bits in ((232, "<b", 7), (233, "<h", 15),
                                   (234, "<i", 31), (235, "<q", 63)):
                if -(1 << bits) <= v < (1 << bits):
                    out.append(tag)
                    out += struct.pack(fmt, v)
                    break
    elif isinstance(v, float):
        if v == 0.0:
            out.append(126)
        elif v == 1.0:
            out.append(127)
        elif v == -1.0:
            out.append(125)
        else:
            out.append(236)
            out += struct.pack("<d", v)
    elif isinstance(v, (str, bytes, bytearray, memoryview)):
        b = v.encode("utf-8") if isinstance(v, str) else bytes(v)
        n = len(b)
        if n < 100:
            out.append(128 + n)
        else:
            for tag, fmt, top in ((228, "<B", 0xFF), (229, "<H", 0xFFFF),
                                  (230, "<I", 0xFFFFFFFF)):
                if n <= top:
                    out.append(tag)
                    out += struct.pack(fmt, n)
                    break
        out += b
    elif isinstance(v, (list, tuple, dict)):
        items = ([x for kv in v.items() for x in kv]
                 if isinstance(v, dict) else v)
        base, opener, closer = ((243, 253, 255) if isinstance(v, dict)
                                else (237, 252, 254))
        out.append(base + len(v) if len(v) <= 5 else opener)
        for item in items:
            _ref_pack(out, item)
        if len(v) > 5:
            out.append(closer)
    else:
        raise qpack.QpackError(type(v).__name__)


def _ref_packb(v) -> bytes:
    out = bytearray()
    _ref_pack(out, v)
    return bytes(out)


def _ref_unpack(buf: bytes, pos: list):
    def take(n):
        if pos[0] + n > len(buf):
            raise qpack.QpackError("truncated")
        pos[0] += n
        return buf[pos[0] - n:pos[0]]

    def raw(n):
        b = take(n)
        try:
            return b.decode("utf-8")
        except UnicodeDecodeError:
            return bytes(b)

    tp = take(1)[0]
    if tp < 64:
        return tp
    if tp < 124:
        return 63 - tp
    if tp == 124:
        raise qpack.QpackError("hook")
    if tp < 128:
        return float(tp - 126)
    if tp < 228:
        return raw(tp - 128)
    lanes = {228: "<B", 229: "<H", 230: "<I", 231: "<Q"}
    if tp in lanes:
        fmt = lanes[tp]
        return raw(struct.unpack(fmt, take(struct.calcsize(fmt)))[0])
    lanes = {232: "<b", 233: "<h", 234: "<i", 235: "<q", 236: "<d"}
    if tp in lanes:
        fmt = lanes[tp]
        return struct.unpack(fmt, take(struct.calcsize(fmt)))[0]
    if tp <= 242:
        return [_ref_unpack(buf, pos) for _ in range(tp - 237)]
    if tp <= 248:
        return {_ref_unpack(buf, pos): _ref_unpack(buf, pos)
                for _ in range(tp - 243)}
    if tp in (249, 250, 251):
        return {249: True, 250: False, 251: None}[tp]
    if tp in (252, 253):
        close = tp + 2
        items = []
        while pos[0] < len(buf) and buf[pos[0]] != close:
            items.append(_ref_unpack(buf, pos))
            if tp == 253 and (pos[0] >= len(buf) or buf[pos[0]] == close):
                raise qpack.QpackError("map key without value")
            if tp == 253:
                items.append(_ref_unpack(buf, pos))
        if pos[0] < len(buf):
            pos[0] += 1
        return (items if tp == 252
                else dict(zip(items[::2], items[1::2])))
    raise qpack.QpackError("close tag")


def _ref_unpackb(buf: bytes):
    if not buf:
        raise qpack.QpackError("empty")
    pos = [0]
    v = _ref_unpack(bytes(buf), pos)
    if pos[0] < len(buf):
        raise qpack.QpackError("trailing")
    return v


# ------------------------------------------------- reply exactness
BIG = 2**53 + 1


@pytest.fixture(scope="module")
def reply_eng(spark):
    eng = SiriEngine(spark, precision="ms")
    eng.insert({
        # beyond 2**53 (exact only off the float64 path), a duplicate
        # ts whose seq orders it, and INT32/INT64-lane timestamps
        "big": [[10, BIG], [10, -BIG], [5, 2**63 - 1],
                [1_700_000_000_000, -(2**63)], [70_000, 3]],
        "dbl": [[1, math.nan], [2, math.inf], [3, -0.0], [3, -math.inf],
                [4, 0.0], [5, 1.0], [6, -1.0], [1_700_000_000_001, 2.5]],
        "日本": [[1, ""], [2, "ünï"], [2, "x" * 120]],
        "late": [[500, 7.5], [600, 8.5]],
        "zz": [[7, 1], [8, 2]],
    })
    return eng


REPLY_QUERIES = [
    "select * from /.*/",                       # every tp in one table
    "select * from 'dbl'",                      # one tp: whole column
    "select * from 'big'",
    "select * from 'late', 'zz' after 400",     # a seed with no points
    "select * from 'big', 'dbl' merge as 'm'",  # int+double merge
    "select * from 'big', 'dbl'",               # two tps, no merge
    # two prefixed pipelines
    "select count(5) prefix 'a-', sum(5) prefix 'b-' from 'big', 'zz'",
    "select max(1000) prefix 'x-', min(1000) prefix 'y-' from /.*/ "
    "where type != string",
    "select * from 'zz' merge as 'zz'",
]


@pytest.mark.parametrize("q", REPLY_QUERIES)
def test_columnar_reply_matches_the_row_builder(reply_eng, q):
    """Same keys in the same order, same qpack bytes, same JSON text.
    ``query()`` seeds every result series; the seed lists cut short
    here put series that are not seeds in the result, which come
    after the seeds in order of their first (ts, seq, collect
    position)."""
    stmt = Parser(q, reply_eng.precision).parse().stmt
    df, seeds = reply_eng._select_plan(stmt)
    for some in (seeds, None, seeds[::-2]):
        got = reply_eng._collect(df, some)
        want = _row_reply(df, some)
        assert list(got) == list(want)
        assert qpack.packb(got) == qpack.packb(want)
        assert json.dumps(got) == json.dumps(want)


def test_reply_cases_are_covered(reply_eng):
    """The queries above reach what they claim: a seed without points,
    result series that are not seeds, and a mixed-tp table."""
    def plan(q):
        stmt = Parser(q, reply_eng.precision).parse().stmt
        return reply_eng._select_plan(stmt)

    df, seeds = plan("select * from 'late', 'zz' after 400")
    assert reply_eng._collect(df, seeds)["zz"] == []
    df, seeds = plan(REPLY_QUERIES[6])
    assert set(reply_eng._collect(df, seeds[::-2])) - set(seeds[::-2])
    # first-row ties on ts order the series that are not seeds
    firsts = [pts[0][0] for pts in reply_eng._collect(df).values()]
    assert len(set(firsts)) < len(firsts)
    df, seeds = plan("select * from /.*/")
    assert {r["tp"] for r in df.select("tp").distinct().toLocalIterator()} \
        == {0, 1, 2}
    got = reply_eng._collect(df, seeds)
    assert got["big"][:2] == [[5, 2**63 - 1], [10, BIG]]
    assert [str(v) for _t, v in got["dbl"][:4]] == \
        ["nan", "inf", "-0.0", "-inf"]


def test_query_select_path_builds_no_row(reply_eng, spark, tmp_path,
                                         monkeypatch, spark_selects):
    """``query()`` answers a rollup select, a points select and a
    ``select *`` without ``DataFrame.collect`` (which builds Rows).
    Pinned to the Spark path: the driver-side executor would answer
    these small selects without Spark at all."""
    from pyspark.sql.classic.dataframe import DataFrame

    eng = SiriEngine.open(spark, str(tmp_path / "db"), precision="s")
    eng.insert({"a": [[100, 1.5], [700, 2.5], [1300, 4.0]],
                "b": [[50, 3], [650, 4]]})
    eng.enable_rollup(600)
    want = {q: eng.query(q) for q in (
        "select sum(600) from /.*/", "select mean(10) from 'a'",
        "select * from /.*/")}
    served = []
    orig = SiriEngine._rollup_pipeline

    def spy(self, *a, **kw):
        out = orig(self, *a, **kw)
        served.append(out is not None)
        return out

    def no_rows(self, *a, **kw):
        raise AssertionError("DataFrame.collect on the select path")

    monkeypatch.setattr(SiriEngine, "_rollup_pipeline", spy)
    monkeypatch.setattr(DataFrame, "collect", no_rows)
    for q, ans in want.items():
        assert eng.query(q) == ans
    assert served[0] is True  # the sum came from the rollup
    assert want["select * from /.*/"] == {
        "a": [[100, 1.5], [700, 2.5], [1300, 4.0]],
        "b": [[50, 3], [650, 4]]}


# ---------------------------------------------------- codec corpus
class _Tiny(enum.IntEnum):
    ONE = 1


def _edges():
    out = []
    for e in (63, 64, -60, -61, 2**7, -(2**7), 2**15, -(2**15),
              2**31, -(2**31), 2**63 - 1, -(2**63)):
        out += [e - 1, e, e + 1]
    ints = [v for v in out if -(2**63) <= v < 2**63]
    floats = [0.0, -0.0, 1.0, -1.0, math.nan, math.inf, -math.inf, 2.5,
              1e300, 5e-324]
    raws = []
    for n in (0, 99, 100, 255, 256, 65535, 65536):
        raws += ["x" * n, b"\xff" * n if n else b"\xff"]
    raws += ["日ü", b"\xc3", b"ab\x80"]
    containers = [list(range(5)), list(range(6)), tuple(range(6)), [],
                  {str(i): i for i in range(5)},
                  {str(i): i for i in range(6)}, {}]
    pairs = [[t, v] for t in (5, -61, 1000, 2**20, 2**40, -(2**40))
             for v in (2.5, 0.0, 1.0, -1.0, math.nan, 7, "s", None)]
    return (ints + floats + raws + containers + pairs
            + [True, False, None, _Tiny.ONE, bytearray(b"ab"),
               memoryview(b"cd"), {"s": pairs, 1: [pairs, {}]}])


def _edge_id(v):
    # A memoryview's repr carries its address, which changes every run.
    if isinstance(v, memoryview):
        return f"memoryview({bytes(v)!r})"
    return repr(v)


@pytest.mark.parametrize("v", _edges(), ids=_edge_id)
def test_codec_matches_the_per_value_codec(v):
    b = qpack.packb(v)
    assert b == _ref_packb(v)
    assert repr(qpack.unpackb(b)) == repr(_ref_unpackb(b))


def _lane_bytes():
    """Buffers ``packb`` never writes but a client may send: every
    fixed-width lane pair, non-minimal lanes, wide raw prefixes."""
    lanes = {232: struct.pack("<b", -5), 233: struct.pack("<h", 300),
             234: struct.pack("<i", -70000), 235: struct.pack("<q", 7),
             236: struct.pack("<d", -0.0)}
    out = [bytes([239, ta]) + va + bytes([tb]) + vb
           for ta, va in lanes.items() for tb, vb in lanes.items()]
    out += [bytes([238, 235]) + lanes[235],
            bytes([252, 239, 235]) + lanes[235] + b"\x05\xfe",
            bytes([229, 2, 0]) + b"ab", bytes([231]) + struct.pack("<Q", 1)
            + b"\xff", bytes([253, 0x81, 0x61, 0x7e, 255]),
            b"\xfc\x01\x02", b"\xfd\x81a\x01"]
    return out


@pytest.mark.parametrize("buf", _lane_bytes(), ids=bytes.hex)
def test_unpack_matches_the_per_value_codec(buf):
    assert repr(qpack.unpackb(buf)) == repr(_ref_unpackb(buf))


@pytest.mark.parametrize("bad", [
    b"\xef\xeb\x00\x00", b"\xef\xeb" + bytes(8) + b"\xec\x00",
    b"\xef\xea\x00\x00\x00\x00", b"\xe5\x05\x00ab", b"\xe9\x00",
    b"\xfc\xef\xeb\x00", b"\x7c", b"\xff", b"\xef\x01",
    b"\xfd\x81a\xff", b"\xf4\x81a",
])
def test_malformed_buffers_raise_like_the_per_value_codec(bad):
    with pytest.raises(qpack.QpackError):
        _ref_unpackb(bad)
    with pytest.raises(qpack.QpackError):
        qpack.unpackb(bad)


def test_pack_refuses_what_the_per_value_codec_refuses():
    for bad in (2**63, -(2**63) - 1, {1.5j: 1}, object()):
        with pytest.raises(qpack.QpackError):
            _ref_packb(bad)
        with pytest.raises(qpack.QpackError):
            qpack.packb(bad)
