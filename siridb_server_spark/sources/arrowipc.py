"""Arrow IPC (Feather v2) source/sink — the zero-copy, mmap-able
columnar container modern training loaders read directly (HF
datasets' on-disk cache, Arrow Flight payloads, polars/duckdb
scans). Format is the public Apache Arrow Columnar IPC
specification; unlike ``tfrecord.py``'s from-scratch framing, the
spec's REFERENCE implementation is the pyarrow library baked into
this environment, so encoding goes through ``pyarrow.ipc``
directly.

Scale shape (same as the tfrecord/webdataset pairs): export is ONE
hash shuffle on a deterministic shard id (md5 of the id — the same
rule every exporter here uses), each shard streams to its own
``shard-NNNNN.arrow`` file as a single record batch in (md5 key,
id) order, so re-running the export on ANY partitioning is
byte-identical — the returned manifest proves it with per-shard
sha256. Read is a ``binaryFile`` scan + Arrow ``mapInPandas``, one
shard per input row, no shuffle. 100 TB is just more shards.

Reference parity note: SiriDB ships points between servers as qpack
blobs (src/siri/net/promise.c, qpack.c); this engine's external
containers are parquet (native), tfrecord, webdataset tar and Arrow
IPC — the training-loader formats the corpus actually leaves the
cluster in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MANIFEST = T.StructType([
    T.StructField("shard", T.IntegerType()),
    T.StructField("n_rows", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("sha256", T.StringType()),
])


from .shards import clean_stale_shards, read_shard_files, \
    shard_key as _shard_key


def _write_shard_file(path, shard, table) -> dict:
    """One IPC file = one record batch, dot-temp + rename (readers
    never see half a shard)."""
    import hashlib
    import os

    import pyarrow as pa

    sink = pa.BufferOutputStream()
    with pa.ipc.new_file(sink, table.schema) as writer:
        writer.write_table(table)
    blob = sink.getvalue().to_pybytes()
    fn = os.path.join(path, f"shard-{shard:05d}.arrow")
    tmp = fn + ".tmp"
    with open(tmp, "wb") as fh:
        fh.write(blob)
    os.replace(tmp, fn)
    return {"shard": shard, "n_rows": table.num_rows,
            "n_bytes": len(blob),
            "sha256": hashlib.sha256(blob).hexdigest()}


def export_arrow_documents(df: DataFrame, path: str,
                           n_shards: int = 32,
                           text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Write the corpus as ``shard-NNNNN.arrow`` IPC files
    (int64 ``doc_id``, string ``text``/``source``), deterministic
    (md5 key, id) order per shard, canonical single-batch encoding.
    Returns the manifest (shard, n_rows, n_bytes, sha256)."""
    import os

    import pandas as pd
    import pyarrow as pa

    os.makedirs(path, exist_ok=True)
    clean_stale_shards(path, "shard-*.arrow")
    rows = (df.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("text"),
        F.coalesce(F.col("source"), F.lit("")).alias("source"))
        .withColumn("_skey", _shard_key("doc_id"))
        .withColumn("shard", F.pmod(F.col("_skey"),
                                    F.lit(n_shards)).cast("int")))
    schema = pa.schema([("doc_id", pa.int64()),
                        ("text", pa.string()),
                        ("source", pa.string())])

    def write_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame(columns=_MANIFEST.fieldNames())
        pdf = pdf.sort_values(["_skey", "doc_id"])
        table = pa.Table.from_pydict(
            {"doc_id": pdf["doc_id"].astype("int64"),
             "text": pdf["text"].astype(str),
             "source": pdf["source"].astype(str)}, schema=schema)
        return pd.DataFrame([_write_shard_file(
            path, int(pdf["shard"].iloc[0]), table)])

    return (rows.groupBy("shard")
            .applyInPandas(write_shard, schema=_MANIFEST))


def read_arrow_documents(spark: SparkSession,
                         path: str) -> DataFrame:
    """Documents frame back from ``shard-*.arrow`` files: a
    binaryFile scan feeds an Arrow ``mapInPandas`` that opens each
    shard with ``pa.ipc.open_file`` — one shard per input row, no
    shuffle. Output: (doc_id, text, source, shard)."""
    import re

    import pandas as pd
    import pyarrow as pa

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("shard", T.IntegerType()),
    ])
    bf = read_shard_files(spark, path, "shard-*.arrow")

    def decode(batches):
        for pdf in batches:
            for p, content in zip(pdf["path"], pdf["content"]):
                m = re.search(r"shard-(\d+)\.arrow$", p)
                shard = int(m.group(1)) if m else -1
                tbl = pa.ipc.open_file(
                    pa.BufferReader(bytes(content))).read_all()
                out = tbl.to_pandas()
                out["shard"] = shard
                yield out[["doc_id", "text", "source", "shard"]]

    return bf.mapInPandas(decode, schema=schema)


def export_arrow_embeddings(df: DataFrame, path: str,
                            n_shards: int = 16) -> DataFrame:
    """Embeddings as IPC shards (int64 ``vec_id``,
    list<float32> ``embedding``, int32 ``label``) — the ANN-index
    interchange copy. Same determinism contract as the documents
    exporter."""
    import os

    import pandas as pd
    import pyarrow as pa

    os.makedirs(path, exist_ok=True)
    clean_stale_shards(path, "shard-*.arrow")
    # NULL labels coalesce to -1, the established exporter contract
    # (export_tfrecord_embeddings does the same) — astype(int32) on
    # a NaN would otherwise kill the task
    rows = (df.select("vec_id", "embedding",
                      F.coalesce(F.col("label"), F.lit(-1))
                      .alias("label"))
            .withColumn("_skey", _shard_key("vec_id"))
            .withColumn("shard", F.pmod(F.col("_skey"),
                                        F.lit(n_shards))
                        .cast("int")))
    schema = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])

    def write_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame(columns=_MANIFEST.fieldNames())
        pdf = pdf.sort_values(["_skey", "vec_id"])
        table = pa.Table.from_pydict(
            {"vec_id": pdf["vec_id"].astype("int64"),
             "embedding": [
                 [float(x) for x in v] for v in pdf["embedding"]],
             "label": pdf["label"].astype("int32")}, schema=schema)
        return pd.DataFrame([_write_shard_file(
            path, int(pdf["shard"].iloc[0]), table)])

    return (rows.groupBy("shard")
            .applyInPandas(write_shard, schema=_MANIFEST))


def read_arrow_embeddings(spark: SparkSession,
                          path: str) -> DataFrame:
    """(vec_id, embedding array<float>, label) back from
    ``shard-*.arrow`` files — binaryFile + mapInPandas, no
    shuffle."""
    import pandas as pd
    import pyarrow as pa

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ])
    bf = (spark.read.format("binaryFile")
          .load(path + "/shard-*.arrow")
          .select("content"))

    def decode(batches):
        for pdf in batches:
            for content in pdf["content"]:
                tbl = pa.ipc.open_file(
                    pa.BufferReader(bytes(content))).read_all()
                out = tbl.to_pandas()
                out["embedding"] = [
                    [float(x) for x in v]
                    for v in out["embedding"]]
                yield out[["vec_id", "embedding", "label"]]

    return bf.mapInPandas(decode, schema=schema)
