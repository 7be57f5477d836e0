"""File-format adapters: CSV / JSON-lines → the engine's points
model, and JSON-lines → the documents shape the LLM-pipeline
operators consume.

The reference ingests exclusively through its own insert protocol
(src/siri/db/insert.c); an analytics engine on Spark should also eat
the formats data actually arrives in. All readers are declarative
``spark.read`` plans — schemas are EXPLICIT (never inferSchema, which
is a full extra pass over the data at scale), so Catalyst prunes
columns and the scan parallelizes across native file splits.

Wide/long conventions:
- long CSV/JSONL points: one record per point,
  columns/keys (series, ts, value). Value typing follows the insert
  path: integral → int series, fractional → float, quoted → string.
- wide CSV: one ts column + one column PER SERIES (the export shape
  of most metric stores); unpivoted via stack() — row-local, no
  shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..model import TP_DOUBLE, TP_INT, TP_STRING
from .shards import read_shard_files

_LONG_CSV_SCHEMA = T.StructType([
    T.StructField("series", T.StringType(), False),
    T.StructField("ts", T.LongType(), False),
    T.StructField("value", T.StringType(), True),
])


def _to_points(df: DataFrame, tp: int, seq=None) -> DataFrame:
    """(series, ts, value:str) → points rows of one declared type.
    seq defaults to a per-file-order sequence for duplicate-ts
    tie-breaks (monotonically_increasing_id is partition-local
    monotone, which matches the reference's insert-order semantics
    per batch)."""
    val = F.col("value")
    if seq is None:
        seq = F.monotonically_increasing_id()
    # malformed records surface as NULL series/ts under Spark's
    # PERMISSIVE parse mode; the points model declares both non-null,
    # so drop them here instead of poisoning every downstream groupBy
    df = df.where(F.col("series").isNotNull()
                  & F.col("ts").isNotNull())
    # a missing value, or one that doesn't cast to the declared type
    # ('abc' under a numeric tp), would slip through as a NULL-valued
    # typed point — a shape the engine/reference never produces.
    # try_cast throughout: ANSI mode makes a plain cast THROW on the
    # malformed row instead of letting the filter drop it
    kind = {TP_INT: "long", TP_DOUBLE: "double",
            TP_STRING: "string"}[tp]
    df = df.where(val.try_cast(kind).isNotNull())
    return df.select(
        "series",
        F.col("ts").cast("long").alias("ts"),
        seq.alias("seq"),
        (val.try_cast("long") if tp == TP_INT
         else F.lit(None).cast("long")).alias("val_int"),
        (val.try_cast("double") if tp == TP_DOUBLE
         else F.lit(None).cast("double")).alias("val_dbl"),
        (val if tp == TP_STRING
         else F.lit(None).cast("string")).alias("val_str"),
        F.lit(tp).alias("tp"),
    )


def read_points_csv(spark: SparkSession, path: str,
                    tp: int = TP_DOUBLE,
                    header: bool = True) -> DataFrame:
    """Long CSV (series,ts,value) → points. One native split per
    HDFS block; no schema inference pass."""
    df = spark.read.schema(_LONG_CSV_SCHEMA) \
        .option("header", str(header).lower()).csv(path)
    return _to_points(df, tp)


def read_points_jsonl(spark: SparkSession, path: str,
                      tp: int = TP_DOUBLE) -> DataFrame:
    """JSON-lines {"series":..,"ts":..,"value":..} → points."""
    df = spark.read.schema(_LONG_CSV_SCHEMA).json(path)
    return _to_points(df, tp)


def stream_points_jsonl(spark: SparkSession, path: str,
                        tp: int = TP_DOUBLE) -> DataFrame:
    """Streaming twin of :func:`read_points_jsonl`: a file-source
    stream over a directory of JSON-lines — drop files in, micro-
    batches flow out (feed to ``streaming.ingest.start_ingest`` or a
    rollup). ``seq`` derives from a hash of the full record
    (monotonically_increasing_id is not available in streaming), so
    duplicate-ts ties break deterministically by content rather than
    by arrival order — documented divergence from the batch reader."""
    df = spark.readStream.schema(_LONG_CSV_SCHEMA).json(path)
    return _to_points(df, tp,
                      seq=F.xxhash64("series", "ts", "value"))


def read_points_wide_csv(spark: SparkSession, path: str,
                         ts_col: str = "ts",
                         tp: int = TP_DOUBLE) -> DataFrame:
    """Wide CSV: a ts column plus one column per series → points via
    stack() unpivot (row-local Generate — no shuffle, no Python).
    The header row is read once (driver, 1 row) to learn the series
    columns; the data scan itself uses an explicit schema."""
    head = spark.read.option("header", "true").csv(path).schema
    series_cols = [f.name for f in head if f.name != ts_col]
    schema = T.StructType(
        [T.StructField(ts_col, T.LongType(), False)]
        + [T.StructField(c, T.StringType(), True)
           for c in series_cols])
    df = spark.read.schema(schema).option("header", "true").csv(path)
    pairs = ", ".join(
        f"'{c.replace(chr(39), chr(39) * 2)}', `{c}`"
        for c in series_cols)
    long = df.selectExpr(
        f"{ts_col} as ts",
        f"stack({len(series_cols)}, {pairs}) as (series, value)"
    ).where(F.col("value").isNotNull())
    return _to_points(long.select("series", "ts", "value"), tp)


DOCUMENTS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
    T.StructField("source", T.StringType(), True),
])


def read_documents_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """JSON-lines corpus → the documents shape every text/dedup
    operator consumes (doc_id, text, lang, source, n_chars).
    Missing doc_id falls back to a UNIQUE synthetic id (text hash
    mixed with the row's monotonic id): ids must never collide —
    id-less duplicate texts are exactly what the dedup operators
    exist to find, so conflating them up front would hide the
    duplicates. The trade: synthetic ids are stable only while the
    input file layout is (a re-read after re-partitioning renumbers;
    corpora needing stable identity should carry doc_id)."""
    df = spark.read.schema(DOCUMENTS_SCHEMA).json(path)
    return df.select(
        F.coalesce(F.col("doc_id"),
                   F.xxhash64("text",
                              F.monotonically_increasing_id()))
        .alias("doc_id"),
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        "lang", "source",
        F.length(F.coalesce(F.col("text"), F.lit("")))
        .alias("n_chars"))


def read_webdataset(spark: SparkSession, path: str) -> DataFrame:
    """Documents frame from webdataset-style tar shards (the read
    side of ``operators/curation.py::export_webdataset``): a
    binaryFile scan over ``shard-*.tar`` feeds an Arrow mapInPandas
    that untars each shard — one tar per input row, embarrassingly
    parallel, no shuffle. Member names ``{doc_id}.txt`` become
    (doc_id, text, shard) rows in archive order (the exporter's
    deterministic (md5 key, id) order), so export → read is an
    exact round-trip."""
    import io
    import re
    import tarfile

    import pandas as pd

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("shard", T.IntegerType()),
    ])
    bf = read_shard_files(spark, path, "shard-*.tar")

    def untar(batches):
        for pdf in batches:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                m = re.search(r"shard-(\d+)\.tar$", p)
                shard = int(m.group(1)) if m else -1
                with tarfile.open(fileobj=io.BytesIO(bytes(content)),
                                  mode="r") as tar:
                    for member in tar.getmembers():
                        # real webdataset shards may carry string
                        # keys / other extensions — skip anything
                        # that isn't a numeric-keyed .txt member
                        # rather than failing the whole task
                        km = re.fullmatch(r"(\d+)\.txt", member.name)
                        if km is None:
                            continue
                        body = tar.extractfile(member).read()
                        rows.append((
                            int(km.group(1)),
                            body.decode("utf-8"), shard))
            yield pd.DataFrame(rows,
                               columns=["doc_id", "text", "shard"])

    return bf.mapInPandas(untar, schema=schema)
