"""Adapters from the driver's TPC-H-ish testdata to the engine's
points model (TESTDATA.md; mapping rationale in FIXTURES.md §6).

events(event_id, ts, user_id, event_type, value, props) → points:
series = event_type|user_id, ts = epoch NANOSECONDS, seq = event_id
(deterministic duplicate-ts tie-break), val = value.

The events parquet's ts logical type has varied across testdata
generations — TIMESTAMP(NANOS) (readable only via
spark.sql.legacy.parquet.nanosAsLong → raw int64 ns) and
timestamp[us] (read as TIMESTAMP_NTZ). ``epoch_ns`` normalizes
either to the engine's model: ns-precision integer epochs,
interpreted as UTC, identical to DuckDB's ``epoch_ns(ts)`` so the
correctness oracle sees the same int64 values.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


#: lazy-plan memo keyed by (applicationId, sf_dir, name). Each
#: ``spark.read.parquet`` costs ~0.15 s of DRIVER work (file listing +
#: footer schema read over Py4J) — per-query plan-build overhead that
#: at cluster scale is the repeated-listing cost guide §6 caches away.
#: The memo holds the LAZY DataFrame only: no rows, no results —
#: every action still computes from the parquet files. Keyed by
#: applicationId so a restarted session never sees a stale plan.
_LOAD_MEMO: dict = {}

#: parquet bytes per emulated native split of documents/embeddings
_SPLIT_BYTES = 128 * 1024


def _listing_fingerprint(path: str):
    """(names, sizes, mtimes) of a parquet file-or-directory — the
    same invalidation key similarity._read_meta_rows uses, so a
    regenerated sf_dir within one application never serves a stale
    cached plan/file listing."""
    try:
        if os.path.isdir(path):
            return tuple(sorted(
                (f, st.st_size, st.st_mtime_ns)
                for f in os.listdir(path)
                for st in [os.stat(os.path.join(path, f))]))
        st = os.stat(path)
        return (st.st_size, st.st_mtime_ns)
    except OSError:
        return None


def table_bytes(sf_dir: str, name: str) -> int | None:
    """On-disk bytes of a testdata table (file or directory) — the
    FREE size estimate callers hand to ``localdf.fan_out_keyed``
    (its optimizer-stats fallback costs ~0.1 s of driver time per
    call; an os.stat is microseconds). None when unreadable."""
    path = f"{sf_dir}/{name}.parquet"
    try:
        if os.path.isdir(path):
            return sum(os.path.getsize(os.path.join(path, f))
                       for f in os.listdir(path))
        return os.path.getsize(path)
    except OSError:
        return None


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, name,
           _listing_fingerprint(f"{sf_dir}/{name}.parquet"))
    hit = _LOAD_MEMO.get(key)
    if hit is not None:
        return hit
    # If events.parquet carries TIMESTAMP(NANOS), read it as raw int64
    # ns (no-op for micros/millis tables, which stay TimestampType)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Naive timestamps are interpreted as UTC on both engines (DuckDB
    # epoch_ns has no timezone; pin Spark's NTZ→TIMESTAMP cast to match)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # Split correction for the map-heavy corpora ONLY: the testdata
    # files are single-row-group parquet, so a scan yields ONE task no
    # matter how many cores exist. Production-scale inputs arrive as
    # thousands of native splits; emulate that for documents/
    # embeddings, whose operators (simhash, minhash, text features,
    # ANN) do row-local heavy lifting with no early shuffle to spread
    # the work. The relational/points tables are left alone — their
    # first groupBy/join shuffle already redistributes, and a forced
    # repartition would be a pure extra shuffle at any scale.
    if name in ("documents", "embeddings"):
        try:
            sz = os.path.getsize(f"{sf_dir}/{name}.parquet")
        except OSError:
            sz = 0
        cores = spark.sparkContext.defaultParallelism
        # One split per ~128 KB of parquet, capped at the core
        # count. The r13 interleaved 2x2 sweep (split size x AQE
        # floor) settled a mid-round detour: a 32 KB calibration
        # sped the CPU-heavy gram/signature operators up (raw gram
        # explode 2.30 s at 4 splits vs 0.64 s at 32) but taxed the
        # ~30 LIGHT consumers of the same tables 1.5-3x each
        # (text_trigram_lm 1.60->3.26 s, sim_semdedup 1.54->3.70,
        # corpus_integrity 0.54->1.70 — consistent across
        # interleaved rounds, not load noise). The loader therefore
        # keeps the FEW-split shape the light majority wants, and
        # the handful of measured-heavy operators fan out at their
        # own entry via localdf.fan_out (no-op at production split
        # counts).
        target = min(cores, sz // _SPLIT_BYTES)
        if target > 1:
            df = df.repartition(target)
    if len(_LOAD_MEMO) > 64:  # bound: 10 tables × a few sf dirs
        _LOAD_MEMO.clear()
    _LOAD_MEMO[key] = df
    return df


def epoch_ns(df: DataFrame, col: str = "ts"):
    """Epoch-nanosecond BIGINT column from ``col``, whichever logical
    type the parquet generation used (see module docstring). Matches
    DuckDB's ``epoch_ns(ts)`` value-for-value."""
    dtype = dict(df.dtypes).get(col, "")
    c = F.col(col)
    if dtype.startswith("timestamp") or dtype == "date":
        # timestamp[us] → TIMESTAMP_NTZ (or DATE); session tz is
        # pinned to UTC in load(), so the cast reads naive values
        # as UTC
        return F.unix_micros(c.cast("timestamp")) * F.lit(1000)
    # TIMESTAMP(NANOS) read as int64 ns: DuckDB reads the same file at
    # microsecond resolution, so truncate sub-µs for oracle parity
    lc = c.cast("long")
    return lc - lc % 1000


def events_points(spark: SparkSession, sf_dir: str,
                  as_int: bool = False) -> DataFrame:
    """Long-format points DataFrame from the events table.

    ``as_int=True`` maps values to an integer series
    (floor(value*100)) to exercise the engine's int64 code paths
    (typed sums, overflow guards, type preservation)."""
    ev = load(spark, sf_dir, "events")
    series = F.concat_ws(
        "|", F.col("event_type"), F.col("user_id").cast("string"))
    base = [
        series.alias("series"),
        epoch_ns(ev).alias("ts"),
        F.col("event_id").cast("long").alias("seq"),
    ]
    if as_int:
        val = [
            F.floor(F.col("value") * 100).cast("long").alias("val_int"),
            F.lit(None).cast("double").alias("val_dbl"),
            F.lit(None).cast("string").alias("val_str"),
            F.lit(0).alias("tp"),
        ]
    else:
        val = [
            F.lit(None).cast("long").alias("val_int"),
            F.col("value").alias("val_dbl"),
            F.lit(None).cast("string").alias("val_str"),
            F.lit(1).alias("tp"),
        ]
    return ev.select(*base, *val)


#: the same mapping as a DuckDB CTE — the prefix of every oracle query
EVENTS_PTS_SQL = (
    "WITH pts AS (SELECT event_type || '|' || CAST(user_id AS VARCHAR)"
    " AS series, epoch_ns(ts) AS ts, event_id AS seq, value AS val"
    " FROM events)"
)

EVENTS_PTS_INT_SQL = (
    "WITH pts AS (SELECT event_type || '|' || CAST(user_id AS VARCHAR)"
    " AS series, epoch_ns(ts) AS ts, event_id AS seq,"
    " CAST(floor(value * 100) AS BIGINT) AS val FROM events)"
)
