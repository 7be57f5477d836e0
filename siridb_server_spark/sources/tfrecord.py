"""TFRecord source/sink — the training-data container format, parsed
and produced from scratch (no tensorflow in this environment).

Format (public, TensorFlow docs "TFRecord format details"): each
record is

    uint64 length (little-endian)
    uint32 masked_crc32c(length_bytes)
    byte   data[length]
    uint32 masked_crc32c(data)

with ``masked = ((crc >> 15 | crc << 17) + 0xa282ead8) mod 2^32``
over CRC-32C (Castagnoli, reflected poly 0x82F63B78). Record
payloads here are ``tf.train.Example`` protos, decoded with a
minimal protobuf wire-format reader (varints + length-delimited
fields; Example{features=1} → Features{map<string,Feature>=1} →
Feature{bytes_list=1|float_list=2|int64_list=3}).

Scale shape (same as the webdataset pair in curation.py/files.py):
export is ONE hash shuffle on a deterministic shard id, each shard
streams to its own file with canonical bytes (manifest carries
sha256 — re-running the export on any partitioning is
byte-identical); read is a ``binaryFile`` scan + Arrow mapInPandas,
one shard per input row, no shuffle. 100 TB is just more shards.

Length CRCs are always verified (8 bytes, negligible); per-record
DATA CRCs default OFF on the read path — the pure-Python table loop
costs ~1 µs/byte, which is audit-run territory, not scan territory
(production readers use hardware CRC32C instructions). Pass
``verify_data=True`` to audit a corpus.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .shards import read_shard_files

# ------------------------------------------------------------- crc32c
_CRC_TABLE = None


def _crc_table():
    global _CRC_TABLE
    if _CRC_TABLE is None:
        poly = 0x82F63B78
        tbl = []
        for i in range(256):
            c = i
            for _ in range(8):
                c = (c >> 1) ^ (poly if c & 1 else 0)
            tbl.append(c)
        _CRC_TABLE = tbl
    return _CRC_TABLE


def crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli), table-driven."""
    tbl = _crc_table()
    c = 0xFFFFFFFF
    for b in data:
        c = tbl[(c ^ b) & 0xFF] ^ (c >> 8)
    return c ^ 0xFFFFFFFF


def masked_crc(data: bytes) -> int:
    c = crc32c(data)
    return ((c >> 15 | c << 17) + 0xA282EAD8) & 0xFFFFFFFF


# ------------------------------------------------------ proto wire fmt
def _put_varint(out: bytearray, v: int) -> None:
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _get_varint(buf: bytes, pos: int) -> tuple:
    v = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint overflow")


def _ld(out: bytearray, field: int, payload: bytes) -> None:
    _put_varint(out, field << 3 | 2)        # wire type 2
    _put_varint(out, len(payload))
    out.extend(payload)


def encode_example(features: dict) -> bytes:
    """tf.train.Example bytes from {name: value}. Value mapping:
    ``bytes``/``str`` → BytesList, ``int``/list[int] → Int64List
    (varint, zigzag-free — int64s are two's-complement 10-byte
    varints when negative, the proto3 rule), ``float``/list[float]
    → FloatList (packed float32). Encoded in sorted-name order so
    the bytes are canonical."""
    feats = bytearray()
    for name in sorted(features):
        val = features[name]
        fe = bytearray()                    # Feature
        if isinstance(val, (bytes, str)):
            bl = bytearray()
            _ld(bl, 1, val.encode("utf-8")
                if isinstance(val, str) else val)
            _ld(fe, 1, bytes(bl))           # bytes_list = 1
        elif isinstance(val, float) or (
                isinstance(val, list) and val
                and isinstance(val[0], float)):
            vals = [val] if isinstance(val, float) else val
            fl = bytearray()
            packed = struct.pack(f"<{len(vals)}f", *vals)
            _ld(fl, 1, packed)              # packed float value = 1
            _ld(fe, 2, bytes(fl))           # float_list = 2
        else:
            vals = [val] if isinstance(val, int) else list(val)
            il = bytearray()
            pk = bytearray()
            for v in vals:
                _put_varint(pk, v & 0xFFFFFFFFFFFFFFFF)
            _ld(il, 1, bytes(pk))           # packed int64 value = 1
            _ld(fe, 3, bytes(il))           # int64_list = 3
        entry = bytearray()                 # map entry message
        _ld(entry, 1, name.encode("utf-8"))
        _ld(entry, 2, bytes(fe))
        feats_entry = bytearray()
        _ld(feats_entry, 1, bytes(entry))   # Features.feature = 1
        feats.extend(feats_entry)
    ex = bytearray()
    _ld(ex, 1, bytes(feats))                # Example.features = 1
    return bytes(ex)


def _fields(buf: bytes):
    """Iterate (field_number, wire_type, value) over one message."""
    pos = 0
    n = len(buf)
    while pos < n:
        tag, pos = _get_varint(buf, pos)
        field, wt = tag >> 3, tag & 7
        if wt == 2:
            ln, pos = _get_varint(buf, pos)
            yield field, wt, buf[pos:pos + ln]
            pos += ln
        elif wt == 0:
            v, pos = _get_varint(buf, pos)
            yield field, wt, v
        elif wt == 5:
            yield field, wt, buf[pos:pos + 4]
            pos += 4
        elif wt == 1:
            yield field, wt, buf[pos:pos + 8]
            pos += 8
        else:
            raise ValueError(f"unsupported wire type {wt}")


def _to_i64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def parse_example(data: bytes) -> dict:
    """{name: (kind, values)} from tf.train.Example bytes; kind in
    bytes/float/int64, values a list. Handles packed AND unpacked
    repeated scalars (both are legal on the wire)."""
    out = {}
    for f1, _, features in _fields(data):
        if f1 != 1:
            continue
        for f2, _, entry in _fields(features):
            if f2 != 1:
                continue
            name, feature = None, b""
            for fe, _, v in _fields(entry):
                if fe == 1:
                    name = v.decode("utf-8")
                elif fe == 2:
                    feature = v
            if name is None:
                continue
            for kind_f, _, lst in _fields(feature):
                vals = []
                if kind_f == 1:             # BytesList
                    vals = [v for f, _, v in _fields(lst) if f == 1]
                    out[name] = ("bytes", vals)
                elif kind_f == 2:           # FloatList
                    for f, wt, v in _fields(lst):
                        if f != 1:
                            continue
                        if wt == 2:         # packed
                            vals.extend(struct.unpack(
                                f"<{len(v) // 4}f", v))
                        else:               # unpacked fixed32
                            vals.append(struct.unpack("<f", v)[0])
                    out[name] = ("float", vals)
                elif kind_f == 3:           # Int64List
                    for f, wt, v in _fields(lst):
                        if f != 1:
                            continue
                        if wt == 2:         # packed varints
                            pos = 0
                            while pos < len(v):
                                x, pos = _get_varint(v, pos)
                                vals.append(_to_i64(x))
                        else:
                            vals.append(_to_i64(v))
                    out[name] = ("int64", vals)
    return out


# ------------------------------------------------------------ framing
def pack_records(records) -> bytes:
    """One TFRecord file's bytes from an iterable of payloads."""
    out = bytearray()
    for rec in records:
        ln = struct.pack("<Q", len(rec))
        out.extend(ln)
        out.extend(struct.pack("<I", masked_crc(ln)))
        out.extend(rec)
        out.extend(struct.pack("<I", masked_crc(rec)))
    return bytes(out)


def unpack_records(blob: bytes, verify_data: bool = False) -> list:
    """Record payloads from one TFRecord file's bytes. Length CRCs
    are always checked (corrupt framing must not mis-slice every
    later record); data CRCs only with ``verify_data``."""
    out = []
    pos = 0
    n = len(blob)
    while pos < n:
        if n - pos < 12:
            raise ValueError("truncated record header")
        ln = struct.unpack_from("<Q", blob, pos)[0]
        lcrc = struct.unpack_from("<I", blob, pos + 8)[0]
        if masked_crc(blob[pos:pos + 8]) != lcrc:
            raise ValueError(f"length crc mismatch at {pos}")
        pos += 12
        if n - pos < ln + 4:
            raise ValueError("truncated record data")
        data = blob[pos:pos + ln]
        dcrc = struct.unpack_from("<I", blob, pos + ln)[0]
        if verify_data and masked_crc(data) != dcrc:
            raise ValueError(f"data crc mismatch at {pos}")
        out.append(data)
        pos += ln + 4
    return out


# ----------------------------------------------------------- export
def export_tfrecord_documents(df: DataFrame, path: str,
                              n_shards: int = 32,
                              text_col: str = "text",
                              id_col: str = "doc_id") -> DataFrame:
    """Write the corpus as ``shard-NNNNN.tfrecord`` files of
    tf.train.Example records (int64 ``doc_id``, bytes ``text`` and
    ``source``) — deterministic (md5 key, id) order inside each
    shard and canonical proto bytes, so re-running the export on any
    partitioning is byte-identical; the returned manifest proves it
    with each shard's sha256. One hash shuffle on the shard id
    (applyInPandas groups whole shards), then every shard streams to
    its own file. Returns (shard, n_docs, n_bytes, sha256)."""
    import hashlib
    import os

    import pandas as pd

    os.makedirs(path, exist_ok=True)
    from .shards import clean_stale_shards, shard_key

    clean_stale_shards(path, "shard-*.tfrecord")
    key = shard_key(id_col)
    rows = (df.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("text"),
        F.coalesce(F.col("source"), F.lit("")).alias("source"))
        .withColumn("_skey", key)
        .withColumn("shard", F.pmod(F.col("_skey"),
                                    F.lit(n_shards)).cast("int")))
    schema = T.StructType([
        T.StructField("shard", T.IntegerType()),
        T.StructField("n_docs", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha256", T.StringType()),
    ])

    def write_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame(columns=schema.fieldNames())
        pdf = pdf.sort_values(["_skey", "doc_id"])
        shard = int(pdf["shard"].iloc[0])
        recs = (encode_example({
            "doc_id": int(d), "text": str(t), "source": str(s)})
            for d, t, s in zip(pdf["doc_id"], pdf["text"],
                               pdf["source"]))
        blob = pack_records(recs)
        fn = os.path.join(path, f"shard-{shard:05d}.tfrecord")
        tmp = fn + ".tmp"
        with open(tmp, "wb") as fh:
            fh.write(blob)
        os.replace(tmp, fn)
        return pd.DataFrame([{
            "shard": shard, "n_docs": len(pdf),
            "n_bytes": len(blob),
            "sha256": hashlib.sha256(blob).hexdigest()}])

    return (rows.groupBy("shard")
            .applyInPandas(write_shard, schema=schema))


def read_tfrecord_documents(spark: SparkSession, path: str,
                            verify_data: bool = False) -> DataFrame:
    """Documents frame back from ``shard-*.tfrecord`` files: a
    binaryFile scan feeds an Arrow mapInPandas that unframes and
    proto-decodes each shard — one shard per input row, no shuffle.
    Output: (doc_id, text, source, shard)."""
    import re

    import pandas as pd

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("shard", T.IntegerType()),
    ])
    bf = read_shard_files(spark, path, "shard-*.tfrecord")

    def decode(batches):
        for pdf in batches:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                m = re.search(r"shard-(\d+)\.tfrecord$", p)
                shard = int(m.group(1)) if m else -1
                for rec in unpack_records(bytes(content),
                                          verify_data=verify_data):
                    feats = parse_example(rec)
                    rows.append((
                        feats["doc_id"][1][0],
                        feats["text"][1][0].decode("utf-8"),
                        feats["source"][1][0].decode("utf-8"),
                        shard))
            yield pd.DataFrame(
                rows, columns=["doc_id", "text", "source", "shard"])

    return bf.mapInPandas(decode, schema=schema)


def export_tfrecord_embeddings(df: DataFrame, path: str,
                               n_shards: int = 16) -> DataFrame:
    """Embeddings as Examples (int64 ``vec_id``/``label``, FloatList
    ``embedding``) — float32 in, float32 on the wire, float32 back:
    the round-trip is bit-exact. Same deterministic-shard manifest
    contract as the documents exporter."""
    import hashlib
    import os

    import pandas as pd

    from .shards import clean_stale_shards, shard_key

    os.makedirs(path, exist_ok=True)
    clean_stale_shards(path, "shard-*.tfrecord")
    key = shard_key("vec_id")
    rows = (df.select("vec_id", "embedding",
                      F.coalesce(F.col("label"), F.lit(-1))
                      .cast("long").alias("label"))
            .withColumn("_skey", key)
            .withColumn("shard", F.pmod(F.col("_skey"),
                                        F.lit(n_shards)).cast("int")))
    schema = T.StructType([
        T.StructField("shard", T.IntegerType()),
        T.StructField("n_vecs", T.LongType()),
        T.StructField("sha256", T.StringType()),
    ])

    def write_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame(columns=schema.fieldNames())
        pdf = pdf.sort_values(["_skey", "vec_id"])
        shard = int(pdf["shard"].iloc[0])
        recs = (encode_example({
            "vec_id": int(v), "label": int(lb),
            "embedding": [float(x) for x in e]})
            for v, lb, e in zip(pdf["vec_id"], pdf["label"],
                                pdf["embedding"]))
        blob = pack_records(recs)
        fn = os.path.join(path, f"shard-{shard:05d}.tfrecord")
        tmp = fn + ".tmp"
        with open(tmp, "wb") as fh:
            fh.write(blob)
        os.replace(tmp, fn)
        return pd.DataFrame([{
            "shard": shard, "n_vecs": len(pdf),
            "sha256": hashlib.sha256(blob).hexdigest()}])

    return (rows.groupBy("shard")
            .applyInPandas(write_shard, schema=schema))


def read_tfrecord_embeddings(spark: SparkSession, path: str,
                             verify_data: bool = False) -> DataFrame:
    """(vec_id, embedding array<float>, label) back from embedding
    shards — bit-exact float32 round-trip."""
    import re

    import pandas as pd

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.LongType()),
        T.StructField("shard", T.IntegerType()),
    ])
    bf = read_shard_files(spark, path, "shard-*.tfrecord")

    def decode(batches):
        for pdf in batches:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                m = re.search(r"shard-(\d+)\.tfrecord$", p)
                shard = int(m.group(1)) if m else -1
                for rec in unpack_records(bytes(content),
                                          verify_data=verify_data):
                    feats = parse_example(rec)
                    rows.append((
                        feats["vec_id"][1][0],
                        list(feats["embedding"][1]),
                        feats["label"][1][0], shard))
            yield pd.DataFrame(
                rows,
                columns=["vec_id", "embedding", "label", "shard"])

    return bf.mapInPandas(decode, schema=schema)
