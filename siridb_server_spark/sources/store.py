"""Persistent points storage: shard-equivalent partitioned parquet.

Reference storage model: time-bucketed shard files, shard id =
ts/duration*duration, per-series compressed blocks with a
(start_ts, end_ts) index (src/siri/db/shards.c:273-340,
series.h:149-157). Spark-first re-expression:

    <path>/kind=num|log/sid=<bucket>/part-*.parquet

- ``sid`` (the shard id) is a physical partition column → time-range
  queries prune whole directories (the analogue of shard skipping,
  series.c:927-938); within a file, parquet row-group min/max stats on
  ``ts``/``series`` replace the reference's per-series block index —
  both come free from the format.
- numeric vs string series live in separate ``kind`` partitions with
  independent durations (duration_num/duration_log), mirroring the
  reference's number/log shard split.
- compression: parquet dictionary/delta encodings + zstd replace the
  custom int-zip/double-xor codecs (points.c:459-889).
- out-of-order and duplicate-ts points append as-is (the reference
  marks such shards HAS_OVERLAP and re-sorts on read, shard.h:12;
  here sorting happens in the query's window/agg operators anyway).
- ``optimize()`` = the background shard-rewrite job (optimize.c:33-55):
  rewrites small fragmented appends into one compact file per
  partition.
- every read declares the layout (:data:`STORE_SCHEMA` for points,
  the schema ``build_rollup`` records in the rollup meta for its
  partials): Spark infers no schema, so a read launches no job of its
  own — inference would read a footer in a job per read.
- the series catalog (``_catalog/`` base + ``_catalog_delta/``
  deltas) is read, folded and written with pyarrow on the driver,
  through one fold (:func:`merge_stats`); Spark computes only the
  per-point aggregate (``_batch_stats``) of a large batch or a
  rebuild. Catalog size is bounded by driver memory, like the
  engine's snapshot of it.

At 100 TB: the same layout holds — sid partitions bound scan width,
appends are per-micro-batch files, OPTIMIZE compacts, and retention
drops whole sid directories without touching data files.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.memo import cols, memoized
from ..functions.pipeline import ROLLUP_PARTIAL_COLS, \
    point_partials_cols, rollup_partials
from ..model import POINTS_SCHEMA, TP_STRING

#: the store's file layout: the ``POINTS_SCHEMA`` columns in each
#: parquet file, plus the ``kind``/``sid`` partition directories
#: above it. Every points read declares it (:meth:`PointsStore._read`)
#: and so does the ``format("siridb")`` source.
STORE_SCHEMA = T.StructType(
    list(POINTS_SCHEMA.fields)
    + [T.StructField("kind", T.StringType(), False),
       T.StructField("sid", T.LongType(), False)])

#: target points per shard (ref src/siri/db/shard.c:36)
OPTIMAL_POINTS_PER_SHARD = 2000

#: appends whose landed parquet bytes fit under this fold their
#: catalog delta from the landed files with pyarrow on the driver —
#: one fewer Spark job per micro-batch (the common streaming-ingest
#: shape). Larger appends aggregate the landed files distributed
#: (``_batch_stats``); both sides write the same delta file.
ARROW_STATS_MAX_BYTES = 64 * 1024 * 1024

#: an ``optimize`` whose fragmented shards' files total up to this
#: many bytes rewrites them in-process with pyarrow, one shard at a
#: time (zero Spark jobs); beyond it, one distributed Spark write
LOCAL_OPTIMIZE_MAX_BYTES = 64 * 1024 * 1024


class CompactLockBusy(RuntimeError):
    """Another live process holds the store's compact lock: the
    operation that needed it did not run (a later one may)."""


#: the columns of every points parquet file, in layout order
_POINT_COLS = POINTS_SCHEMA.names


@memoized
def _read_cols() -> list:
    return [*cols(*_POINT_COLS), F.col("sid").alias("_sid")]


def _pa_points_schema():
    """The points file schema as pyarrow types — what the driver-side
    writers cast to, so their files match :data:`STORE_SCHEMA`."""
    return pa.schema([
        ("series", pa.string()), ("ts", pa.int64()),
        ("seq", pa.int64()), ("val_int", pa.int64()),
        ("val_dbl", pa.float64()), ("val_str", pa.string()),
        ("tp", pa.int32())])


def _fold_stats_table(tbl) -> dict:
    """Fold a pyarrow points table into the catalog-stats dict
    ``{name: (length, start, end, tp, (f_seq, f_int, f_dbl, f_str),
    (l_seq, l_int, l_dbl, l_str))}`` — the driver-side twin of the
    Spark ``_batch_stats`` aggregation (first/last = argmin/argmax
    over (ts, seq)).

    Vectorized group-boundary fold: dictionary-encode the series
    column, lexsort (series, ts, seq), and read every per-group stat
    off the sorted arrays — firsts/lasts are the boundary rows,
    lengths are boundary diffs, tp is a ``maximum.reduceat``. The
    only Python-loop work is building the G-entry output dict, and
    the typed first/last values are materialized for just the 2·G
    boundary rows (``take`` keeps pyarrow's null-vs-NaN distinction,
    which pandas would destroy). Replaces a pandas object-sort +
    per-series ``.loc`` loop that cost ~0.9 s per 100k-point append
    (the round-6 ingest regression)."""
    import numpy as np

    n = tbl.num_rows
    if n == 0:
        return {}
    dce = tbl.column("series").combine_chunks().dictionary_encode()
    codes = dce.indices.to_numpy()
    names = dce.dictionary.to_pylist()
    ts = tbl.column("ts").combine_chunks().to_numpy()
    seq = tbl.column("seq").combine_chunks().to_numpy()
    tp = tbl.column("tp").combine_chunks().to_numpy()
    order = np.lexsort((seq, ts, codes))
    codes_s = codes[order]
    starts = np.flatnonzero(
        np.r_[True, codes_s[1:] != codes_s[:-1]])
    stops = np.r_[starts[1:], n]
    first_idx = order[starts]
    last_idx = order[stops - 1]
    lengths = stops - starts
    tp_max = np.maximum.reduceat(tp[order], starts)
    f_take = pa.array(first_idx)
    l_take = pa.array(last_idx)

    def _vals(idx_arr):
        return [tbl.column(c).take(idx_arr).to_pylist()
                for c in ("val_int", "val_dbl", "val_str")]

    f_int, f_dbl, f_str = _vals(f_take)
    l_int, l_dbl, l_str = _vals(l_take)
    grp_names = [names[codes_s[s]] for s in starts]
    folded = {}
    for i, name in enumerate(grp_names):
        fi, li = first_idx[i], last_idx[i]
        folded[name] = (
            int(lengths[i]), int(ts[fi]), int(ts[li]),
            int(tp_max[i]),
            (int(seq[fi]), f_int[i], f_dbl[i], f_str[i]),
            (int(seq[li]), l_int[i], l_dbl[i], l_str[i]))
    return folded


def merge_stats(out: dict, stats) -> dict:
    """Fold ``(name, stats)`` pairs into the catalog-stats dict ``out``
    in place and return it — THE catalog fold, shared by the snapshot
    reload (:meth:`PointsStore.read_catalog_local`), catalog
    compaction, the from_points aggregate, the engine's write-through
    of its own inserts and the Arrow datasource writer's per-task
    partials.
    Exact and associative: lengths sum, start takes the min, end and
    tp the max, and the first/last value blocks are the argmin/argmax
    over (ts, seq) across partials."""
    for name, row in stats:
        cur = out.get(name)
        if cur is None:
            out[name] = row
            continue
        fst = row[4] if (row[1], row[4][0]) < (cur[1], cur[4][0]) \
            else cur[4]
        lst = row[5] if (row[2], row[5][0]) > (cur[2], cur[5][0]) \
            else cur[5]
        out[name] = (cur[0] + row[0], min(cur[1], row[1]),
                     max(cur[2], row[2]), max(cur[3], row[3]),
                     fst, lst)
    return out


#: catalog file schema, columns in :func:`catalog_stats` order
_CATALOG_SCHEMA = pa.schema([
    ("name", pa.string()), ("length", pa.int64()),
    ("start", pa.int64()), ("end", pa.int64()), ("tp", pa.int32()),
    ("f_seq", pa.int64()), ("f_int", pa.int64()),
    ("f_dbl", pa.float64()), ("f_str", pa.string()),
    ("l_seq", pa.int64()), ("l_int", pa.int64()),
    ("l_dbl", pa.float64()), ("l_str", pa.string())])

#: catalog file columns, in :func:`catalog_stats` order
CATALOG_COLS = _CATALOG_SCHEMA.names


def catalog_stats(d: dict):
    """``(name, stats)`` pairs, ready for :func:`merge_stats`, of a
    column dict in the catalog layout (:data:`CATALOG_COLS`): a
    catalog file, or a collected ``PointsStore._batch_stats``
    aggregate."""
    return ((name, (d["length"][i], d["start"][i], d["end"][i],
                    d["tp"][i],
                    (d["f_seq"][i], d["f_int"][i], d["f_dbl"][i],
                     d["f_str"][i]),
                    (d["l_seq"][i], d["l_int"][i], d["l_dbl"][i],
                     d["l_str"][i])))
            for i, name in enumerate(d["name"]))


def _catalog_table(folded: dict):
    """The catalog-file table of a :func:`merge_stats` dict, one row
    per name — the inverse of :func:`catalog_stats`."""
    flat = [(n, *st[:4], *st[4], *st[5])
            for n, st in sorted(folded.items())]
    cols = list(zip(*flat)) or [()] * len(CATALOG_COLS)
    return pa.Table.from_pydict(
        {c: list(v) for c, v in zip(CATALOG_COLS, cols)},
        schema=_CATALOG_SCHEMA)


def _write_catalog_file(dirpath: str, prefix: str, table) -> str:
    """Write ``table`` as ``<dirpath>/<prefix>-<uuid>.parquet`` under
    a dot-prefixed name and rename it into place, so a concurrent
    catalog reader never sees a partial file. Returns the path."""
    os.makedirs(dirpath, exist_ok=True)
    name = f"{prefix}-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(dirpath, f".{name}")
    pq.write_table(table, tmp)
    dest = os.path.join(dirpath, name)
    os.rename(tmp, dest)
    return dest


def write_arrow_delta(path: str, folded: dict) -> list:
    """Append one catalog delta commit: ``folded`` (a
    :func:`merge_stats` dict) as one flat ``delta-<uuid>.parquet``
    under ``<path>/_catalog_delta/``. Shared by every appender — the
    engine's driver and Spark appends and the Arrow datasource
    writer. Returns the written file paths (none for an empty
    fold)."""
    if not folded:
        return []
    return [_write_catalog_file(os.path.join(path, "_catalog_delta"),
                                "delta", _catalog_table(folded))]


#: ref src/siri/db/points.c:18
TOLERANCE_INTERVAL_DETECT = 10


def interval_from_points(ts_sorted) -> int:
    """Exact port of siridb_points_get_interval
    (points.c:1747-1787): the median of the first ≤63 consecutive
    ts deltas; 0 (undetected) when fewer than 8 points or when the
    Q1/Q3 spread exceeds 10% of the median (irregular sampling)."""
    if len(ts_sorted) < 8:
        return 0
    n = min(len(ts_sorted) - 1, 63)
    arr = sorted(ts_sorted[i + 1] - ts_sorted[i] for i in range(n))
    a_i = n // 4
    b_i = n // 2
    c = arr[(b_i << 1) - a_i]
    a, b = arr[a_i], arr[b_i]
    x = b // (100 // TOLERANCE_INTERVAL_DETECT)
    return 0 if (a + x < b or c - x > b) else b


def duration_from_interval(interval: int, factor: int,
                           duration_num: int = 0,
                           duration_log: int = 0) -> int:
    """Auto shard-duration from the median insert interval — exact
    port of siridb_shard_duration_from_interval
    (src/siri/db/shard.c:136-167)."""
    n = interval * OPTIMAL_POINTS_PER_SHARD
    if n == duration_num:
        return duration_num
    if n == duration_log:
        return duration_log
    week = 3600 * 24 * 7 * factor
    x = n // week
    if x:
        return (x + 1) * week
    day = 3600 * 24 * factor
    x = n // day
    if x:
        return (x + 1) * day
    hour = 3600 * factor
    x = n // hour
    return (x + 1) * hour


class PointsStore:
    def __init__(self, path: str, duration_num: int, duration_log: int):
        self.path = path
        self.duration_num = duration_num
        self.duration_log = duration_log
        #: (spark, rollup generation, its scan, valid shards, their
        #: partials frame): what read_rollup reuses while the
        #: generation and the valid set stand
        self._rollup_frame = None

    # ------------------------------------------------------------- write
    def _with_partitions(self, df: DataFrame) -> DataFrame:
        dur = F.when(F.col("tp") == TP_STRING,
                     F.lit(self.duration_log)) \
            .otherwise(F.lit(self.duration_num))
        return df.withColumn(
            "kind", F.when(F.col("tp") == TP_STRING, "log")
            .otherwise("num")) \
            .withColumn("sid", (F.col("ts") - F.col("ts") % dur)
                        .cast("long"))

    def append_df(self, df: DataFrame):
        # conform to the file layout first, as append_local and the
        # sink do: reads declare STORE_SCHEMA, so a caller's wider
        # lane (tp as long) or extra column must not land as-is
        df = df.select(*[F.col(f.name).cast(f.dataType)
                         for f in POINTS_SCHEMA.fields])
        # crash-consistency protocol for the maintained catalog: the
        # pending marker is set BEFORE points land and cleared only
        # AFTER the catalog swap. An interrupt anywhere between
        # (killed micro-batch, process crash) leaves the marker, and
        # the next repair_catalog() sees it and rebuilds — the catalog
        # can lag but can never silently under-count. (On Delta the
        # same guarantee comes from writing both in one transaction.)
        spark = df.sparkSession
        with self._pending():
            # cluster the batch by its output partitions before the
            # write (guide §6: output file sizing): without this a
            # single-split source writes EVERY (kind, sid) dir from
            # one task (serialized encoding), and a many-split
            # source writes splits×dirs tiny files. REBALANCE is
            # AQE-aware — small batches coalesce to few tasks, a
            # skewed shard splits — with a plain hash repartition
            # fallback for AQE-off sessions.
            batch = self._with_partitions(df)
            # DataFrame.hint never raises for unsupported hints (an
            # unresolved hint is dropped at analysis with a warning),
            # so an AQE-off session must be detected explicitly for
            # the plain hash-repartition fallback to ever run
            aqe_on = str(spark.conf.get(
                "spark.sql.adaptive.enabled", "true")).lower()
            # (r14 note: a fan_out_keyed(batch, "kind", "sid") pass
            # was tried here and removed — sid is a TIME bucket, so
            # a small batch holds only a handful of distinct
            # (kind, sid) dirs and a keyed repartition cannot beat
            # REBALANCE's clustering by more than that dir count,
            # while its size-estimate gate re-ran the optimizer on
            # the whole upstream batch plan per append (~0.1 s of
            # driver time). Interleaved A/B measured the hint-only
            # shape equal-or-faster.)
            if aqe_on == "true":
                batch = batch.hint("rebalance", "kind", "sid")
            else:
                batch = batch.repartition("kind", "sid")
            landed = self._append_via_stage(
                batch, self.path, ["kind", "sid"],
                compression="zstd")
            if landed:
                # compute the catalog stats from the columnar bytes
                # JUST WRITTEN (restricted to this append's files)
                # instead of executing the batch plan a second time —
                # the upstream pipeline may be arbitrarily expensive,
                # the read-back is a pruned scan of what it produced.
                # Small appends (streaming micro-batches) fold the
                # stats driver-side with pyarrow — no second Spark
                # job at all; big ones aggregate distributed. Either
                # way the result is one delta file.
                if sum(os.path.getsize(f) for f in landed) \
                        > ARROW_STATS_MAX_BYTES:
                    agg = self._batch_stats(
                        self._read(spark, *landed)).toArrow()
                    folded = dict(catalog_stats(agg.to_pydict()))
                else:
                    folded = _fold_stats_table(pa.concat_tables(
                        pq.read_table(f, columns=_POINT_COLS)
                        for f in landed))
                write_arrow_delta(self.path, folded)
                if self._n_delta_appends() > self.DELTA_COMPACT_AT:
                    self._compact_catalog(spark)
        if not os.path.exists(self._durations_path):
            # the durations define the sid layout; persist them with
            # the first data so every later opener agrees
            self.persist_durations()

    def _append_via_stage(self, df: DataFrame, target: str,
                          partition_cols: list,
                          compression: str | None = None):
        """Append by staging to a per-append sibling dir and renaming
        the files into place. A direct ``mode("append")`` is NOT safe
        under concurrent appenders: Hadoop's FileOutputCommitter
        shares one ``_temporary/0`` under the target, so one job's
        commit/cleanup deletes the other's staging mid-flight
        (observed as FileNotFoundException in the concurrency test).
        Staging dirs are unique per append and the moved part files
        carry per-job uuids, so concurrent appends are pure disjoint
        file additions; a crash mid-move leaves a partial set of
        visible files, which the caller's pending marker already
        covers (one-time catalog rebuild). Returns the list of moved
        (now-visible) file paths."""
        # dot-prefixed: invisible to Spark's file listing, so a
        # crash-leftover stage can never pollute reads
        stage = os.path.join(target, f".append-{uuid.uuid4().hex}")
        w = df.write.partitionBy(*partition_cols).mode("overwrite")
        if compression:
            w = w.option("compression", compression)
        w.parquet(stage)
        moved = []
        try:
            for root, dirs, files in os.walk(stage):
                dirs[:] = [d for d in dirs if not d.startswith(".")]
                rel = os.path.relpath(root, stage)
                for f in files:
                    if not f.endswith(".parquet"):
                        continue
                    dest = target if rel == "." \
                        else os.path.join(target, rel)
                    os.makedirs(dest, exist_ok=True)
                    os.rename(os.path.join(root, f),
                              os.path.join(dest, f))
                    moved.append(os.path.join(dest, f))
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        return moved

    # -------------------------------------------------------------- read
    def _read(self, spark: SparkSession, *paths: str,
              schema: T.StructType = STORE_SCHEMA) -> DataFrame:
        """The store's one parquet reader: ``paths`` (files or
        directories under the store) read with a DECLARED ``schema``.
        Without one, Spark infers the schema by reading a footer in a
        job of its own — a job floor of 50-100 ms before every read.
        Points paths resolve ``kind``/``sid`` from their directory
        names below the store root."""
        return (spark.read.schema(schema)
                .option("basePath", self.path).parquet(*paths))

    def read(self, spark: SparkSession) -> DataFrame:
        """Canonical points frame + the ``sid`` partition column (the
        engine adds sid predicates from time ranges → directory-level
        pruning shows up as PartitionFilters in the scan)."""
        self._repair_rewrites()
        if not self._exists():
            return spark.createDataFrame([], POINTS_SCHEMA)
        return self._read(spark, self.path).select(*_read_cols())

    def _exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            e.startswith("kind=") for e in os.listdir(self.path))

    # ------------------------------------------------------------ catalog
    # Incrementally-maintained series catalog: per-series length,
    # start, end, tp and typed first/last values, merged per ingest
    # batch. The reference keeps the same stats live on each series
    # struct (series.h:54-72, updated on every insert); a derived
    # groupBy over the points table would be a full 100 TB scan per
    # `list series`/skip-points query, while this merge costs
    # O(|batch|) per batch. The side table lives under `_catalog` —
    # Spark's scan ignores underscore-prefixed paths, so it's
    # invisible to points reads.
    @property
    def _catalog_path(self) -> str:
        return os.path.join(self.path, "_catalog")

    # Shard durations are PART OF THE LAYOUT (sid = ts - ts % dur):
    # reopening a store with different durations would silently split
    # shards and break sid pruning, so they persist alongside the
    # data and win over the opener's defaults.
    @property
    def _durations_path(self) -> str:
        return os.path.join(self.path, "_durations.json")

    def persist_durations(self):
        import json

        os.makedirs(self.path, exist_ok=True)
        tmp = f"{self._durations_path}.{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump({"duration_num": int(self.duration_num),
                       "duration_log": int(self.duration_log)}, fh)
        os.replace(tmp, self._durations_path)

    def load_durations(self) -> tuple | None:
        import json

        try:
            with open(self._durations_path) as fh:
                d = json.load(fh)
            return int(d["duration_num"]), int(d["duration_log"])
        except (OSError, ValueError, KeyError):
            return None

    # Pending markers are PER-APPENDER (uuid-named, pid-stamped): a
    # shared single marker would let appender A's clear remove
    # appender B's crash protection mid-append. An appender clears
    # only its own token; readers treat a marker as a crash signal
    # only when its writing process is gone (on a distributed FS the
    # pid check becomes a lease timestamp — same protocol). Live
    # markers mean an append is IN FLIGHT, which is not a crash: its
    # catalog delta lands when it finishes.
    _PENDING_PREFIX = "_catalog.pending-"

    #: PROCESS-WIDE registry of marker/lock paths with an append in
    #: flight — class-level so every store instance and the Arrow
    #: datasource writer agree: a same-pid marker NOT in here is an
    #: abandoned append (exception mid-append), i.e. stale
    _process_active: set = set()

    def _set_pending(self) -> str:
        os.makedirs(self.path, exist_ok=True)
        tok = os.path.join(
            self.path, f"{self._PENDING_PREFIX}{uuid.uuid4().hex}")
        with open(tok, "w") as fh:
            fh.write(str(os.getpid()))
        PointsStore._process_active.add(tok)
        return tok

    def _clear_pending(self, tok: str):
        PointsStore._process_active.discard(tok)
        try:
            os.remove(tok)
        except FileNotFoundError:
            pass

    @contextlib.contextmanager
    def _pending(self):
        """Pending-marker scope: cleared on success; on an exception
        the token is ABANDONED (dropped from the active set but left
        on disk) so it reads as stale and the next repair_catalog()
        repairs — without this, a failed append in a long-lived
        process would pin a 'live' marker over an under-counted
        catalog forever."""
        tok = self._set_pending()
        try:
            yield tok
        except BaseException:
            PointsStore._process_active.discard(tok)
            raise
        self._clear_pending(tok)

    def _pending_markers(self) -> list:
        if not os.path.isdir(self.path):
            return []
        return [os.path.join(self.path, e)
                for e in os.listdir(self.path)
                if e.startswith(self._PENDING_PREFIX)]

    def _marker_alive(self, path: str) -> bool:
        try:
            with open(path) as fh:
                pid = int(fh.read().strip() or "0")
        except (OSError, ValueError):
            return False  # unreadable/corrupt marker: treat as stale
        if pid <= 0:
            return False
        if pid == os.getpid():
            # our own process: alive only while the append is actually
            # in flight on this store instance
            return path in PointsStore._process_active
        try:
            os.kill(pid, 0)  # signal 0: existence probe only
        except ProcessLookupError:
            return False
        except PermissionError:
            return True  # exists, owned by another user
        return True

    def _stale_markers(self) -> list:
        return [m for m in self._pending_markers()
                if not self._marker_alive(m)]

    @staticmethod
    def _batch_stats(df: DataFrame) -> DataFrame:
        # start/end are the first/last TIMESTAMPS; the f_*/l_* block
        # carries the typed first/last VALUES + their seq tiebreak
        # (insert order on duplicate ts) so the engine's skip-points
        # fast path answers first()/last() without touching points —
        # the reference reads these from the series struct + one
        # block (listener.c:5447-5586); here they ride the catalog
        first = F.min_by(
            F.struct(F.col("seq").alias("f_seq"),
                     F.col("val_int").alias("f_int"),
                     F.col("val_dbl").alias("f_dbl"),
                     F.col("val_str").alias("f_str")),
            F.struct("ts", "seq"))
        last = F.max_by(
            F.struct(F.col("seq").alias("l_seq"),
                     F.col("val_int").alias("l_int"),
                     F.col("val_dbl").alias("l_dbl"),
                     F.col("val_str").alias("l_str")),
            F.struct("ts", "seq"))
        return (df.groupBy(F.col("series").alias("name")).agg(
            F.count(F.lit(1)).alias("length"),
            F.min("ts").alias("start"),
            F.max("ts").alias("end"),
            F.max("tp").alias("tp"),
            first.alias("_f"), last.alias("_l"))
            .select("name", "length", "start", "end", "tp",
                    "_f.f_seq", "_f.f_int", "_f.f_dbl", "_f.f_str",
                    "_l.l_seq", "_l.l_int", "_l.l_dbl", "_l.l_str"))

    # The catalog is LSM-shaped: an ingest batch APPENDS one small
    # delta file — O(batch) work, no read-merge of the base — reads
    # fold base ∪ deltas (associative: sum/min/max), and once deltas
    # pile up a compaction folds them into one new base file. This is
    # the reference's split between live in-memory series stats and
    # the periodically-flushed database file (series.h:54-72 / db.c).
    # Every fold is :func:`merge_stats` over pyarrow reads on the
    # driver.
    @property
    def _delta_path(self) -> str:
        return os.path.join(self.path, "_catalog_delta")

    #: compact when this many delta files accumulate
    DELTA_COMPACT_AT = 16

    def _n_delta_appends(self) -> int:
        """Number of delta files — one per append commit."""
        return len(self._delta_files())

    def append_local(self, spark: SparkSession, rows: list):
        """Driver-local ingest: write the rows straight to their
        shard partitions with pyarrow and fold the catalog delta
        in-memory — ZERO Spark jobs. This is the reference's own
        ingest shape (points buffer → native shard file append,
        src/siri/db/insert.c + shards.c): a protocol insert's rows
        are already driver-resident, so a distributed write job buys
        nothing but ~1 s of scheduling. Same crash protocol as the
        Spark path: per-appender pending marker, dot-prefixed temp +
        rename per file.

        Returns what the append did to the catalog, so a caller that
        holds a driver snapshot can fold the batch in instead of
        reloading: ``{"stats": {name: stats}, "delta": frozenset of
        the delta files written, "compaction": the
        :meth:`_compact_catalog` result or None}``."""
        groups: dict = {}
        for r in rows:
            kind = "log" if r[6] == TP_STRING else "num"
            dur = self.duration_log if r[6] == TP_STRING \
                else self.duration_num
            ts = r[1]
            # Spark's % is trunc-mod (remainder keeps ts's sign),
            # Python's is floor-mod — match Spark so negative
            # timestamps land in the same sid the distributed
            # writer would pick
            rem = ts % dur if ts >= 0 else -((-ts) % dur)
            groups.setdefault((kind, ts - rem), []).append(r)
        schema = _pa_points_schema()
        out = {"stats": {}, "delta": frozenset(), "compaction": None}
        with self._pending():
            commit = uuid.uuid4().hex
            tables = []
            for i, ((kind, sid), grp) in enumerate(
                    sorted(groups.items())):
                tbl = pa.table(
                    {name: [r[j] for r in grp]
                     for j, name in enumerate(_POINT_COLS)},
                    schema=schema)
                tgt = os.path.join(self.path, f"kind={kind}",
                                   f"sid={sid}")
                os.makedirs(tgt, exist_ok=True)
                base = f"local-{commit}-{i:05d}.parquet"
                tmp = os.path.join(tgt, f".{base}")
                pq.write_table(tbl, tmp, compression="zstd")
                os.rename(tmp, os.path.join(tgt, base))
                tables.append(tbl)
            if tables:
                out["stats"] = _fold_stats_table(
                    pa.concat_tables(tables))
                out["delta"] = frozenset(write_arrow_delta(
                    self.path, out["stats"]))
                if self._n_delta_appends() > self.DELTA_COMPACT_AT:
                    out["compaction"] = self._compact_catalog(spark)
        if not os.path.exists(self._durations_path):
            self.persist_durations()
        return out

    @property
    def _compact_lock_path(self) -> str:
        return os.path.join(self.path, "_catalog.compact.lock")

    def _acquire_compact_lock(self) -> bool:
        """O_EXCL pid-stamped lock serializing compactions. Two
        concurrent compactions would fold the same delta files into
        the base twice (double-counted lengths); the loser of the
        create simply skips — its deltas get folded by a later
        compaction. A lock left by a dead process is broken here."""
        path = self._compact_lock_path
        for _ in range(2):
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                with os.fdopen(fd, "w") as fh:
                    fh.write(str(os.getpid()))
                PointsStore._process_active.add(path)
                return True
            except FileExistsError:
                if self._marker_alive(path):
                    return False
                try:  # stale lock from a crashed compactor
                    os.remove(path)
                except FileNotFoundError:
                    pass
        return False

    def _release_compact_lock(self):
        PointsStore._process_active.discard(self._compact_lock_path)
        try:
            os.remove(self._compact_lock_path)
        except FileNotFoundError:
            pass

    @staticmethod
    def _parquet_files(top: str) -> list:
        """Parquet files in the flat directory ``top`` as absolute
        paths, skipping dot-prefixed in-flight temp files."""
        if not os.path.isdir(top):
            return []
        return [os.path.join(top, f) for f in os.listdir(top)
                if f.endswith(".parquet") and not f.startswith(".")]

    def _delta_files(self) -> list:
        """Current delta parquet files, as absolute paths."""
        return self._parquet_files(self._delta_path)

    def _base_files(self) -> list:
        """Current base catalog parquet files, as absolute paths."""
        return self._parquet_files(self._catalog_path)

    def catalog_files(self) -> frozenset | None:
        """The base and delta files the catalog consists of right now
        — the key a driver snapshot is valid for. None when a crashed
        append left a stale pending marker: the catalog then needs
        :meth:`repair_catalog` before any driver fold of it can be
        trusted."""
        if self._stale_markers():
            return None
        return frozenset(self._base_files() + self._delta_files())

    def _compact_catalog(self, spark: SparkSession):
        """Fold the delta files into the base. The logical catalog is
        unchanged, only its files are: returns ``(folded_from,
        left)`` — the file set the compaction read and the file set
        it left — so a driver snapshot of ``folded_from`` can be
        re-keyed to ``left``. None when there was nothing to fold,
        another compactor held the lock, or a concurrent appender's
        delta landed meanwhile (no clean re-key exists then)."""
        if not self._acquire_compact_lock():
            return None  # another compactor is live; ours fold later
        try:
            # Snapshot the delta FILE LIST first and fold exactly
            # those files; afterwards delete exactly those files. An
            # rmtree of the whole delta dir would race a concurrent
            # appender whose just-renamed delta landed after our read
            # — silently dropping its stats with no marker left.
            files = self._delta_files()
            if not files:
                return None
            base = self._base_files()
            folded = self._fold_files(base + files)
            if folded is None:
                return None  # a racing rewrite removed a listed file
            self._write_base(_catalog_table(folded))
            for f in files:
                with contextlib.suppress(FileNotFoundError):
                    os.remove(f)
            if self._delta_files():
                return None  # a concurrent append's delta landed
            return (frozenset(base + files),
                    frozenset(self._base_files()))
        finally:
            self._release_compact_lock()

    def _write_base(self, table):
        """Replace the base catalog with ``table``: write it as one
        new ``base-<uuid>.parquet`` (dot-temp + rename), then remove
        every other file under ``_catalog/``. Base writers are
        serialized (compaction lock) or run on a quiesced store;
        crash consistency comes from the caller's pending marker."""
        keep = _write_catalog_file(self._catalog_path, "base", table)
        for entry in os.listdir(self._catalog_path):
            p = os.path.join(self._catalog_path, entry)
            if p != keep:
                os.remove(p)

    # --------------------------------------------- crash-safe rewrites
    # Shard rewrites (delete_series/optimize) stage the new partition
    # under `_rewrite/` — underscore-prefixed, so Spark partition
    # discovery never sees a half-written replacement — and commit by
    # rmtree(old) + rename(staged). A staged dir is committable iff
    # its _SUCCESS marker exists; _repair_rewrites() finishes (or
    # discards) whatever a crash left behind, in either crash window.
    @property
    def _rewrite_root(self) -> str:
        return os.path.join(self.path, "_rewrite")

    def _rewrite_tmp(self, kind: str, sid: int) -> str:
        return os.path.join(self._rewrite_root, f"kind={kind}",
                            f"sid={sid}")

    def _repair_rewrites(self):
        root = self._rewrite_root
        if not os.path.isdir(root):
            return
        for kdir in os.listdir(root):
            kpath = os.path.join(root, kdir)
            if not os.path.isdir(kpath):
                continue
            for entry in os.listdir(kpath):
                tmp = os.path.join(kpath, entry)
                target = os.path.join(self.path, kdir, entry)
                committed = os.path.exists(
                    os.path.join(tmp, "_SUCCESS"))
                if committed and not os.path.exists(target):
                    # crash fell between rmtree(target) and rename:
                    # finish the swap — the staged dir is complete
                    os.makedirs(os.path.dirname(target), exist_ok=True)
                    os.rename(tmp, target)
                else:
                    # either the staged write never completed or the
                    # old partition is still in place — discard
                    shutil.rmtree(tmp)
        shutil.rmtree(root, ignore_errors=True)

    def _swap_partition(self, tmp: str, target: str):
        # the staged write is complete (caller just wrote it); stamp
        # the marker in case the committer was configured not to
        marker = os.path.join(tmp, "_SUCCESS")
        if not os.path.exists(marker):
            with open(marker, "w"):
                pass
        shutil.rmtree(target)
        os.rename(tmp, target)

    def read_catalog_local(self, files=None) -> dict | None:
        """Driver-side catalog snapshot WITHOUT a Spark job: fold the
        base + delta parquet files (``files``, default the current
        :meth:`catalog_files`) with pyarrow into the
        :func:`merge_stats` dict; no files fold to ``{}``. This is the
        engine's only catalog for ``query()`` (the reference answers
        list/count/skip-points selects from in-memory series structs;
        Spark's job floor is ~0.2 s). Returns None when a crashed
        append needs :meth:`repair_catalog` first (stale pending
        marker) or when a racing compaction removed a listed file
        (list again)."""
        if files is None:
            files = self.catalog_files()
            if files is None:
                return None
        return self._fold_files(files)

    @staticmethod
    def _fold_files(files) -> dict | None:
        """:func:`merge_stats` fold of the catalog parquet ``files``,
        read with pyarrow. None when a racing compaction removed one."""
        out: dict = {}
        for f in files:
            try:
                pf = pq.ParquetFile(f)
            except FileNotFoundError:
                return None  # racing compaction removed the file
            with pf:
                d = pf.read(columns=CATALOG_COLS).to_pydict()
            merge_stats(out, catalog_stats(d))
        return out

    def shard_stats_local(self) -> list | None:
        """Per-shard (kind, sid, points, start, end) from parquet
        FOOTERS only — pyarrow metadata, zero data pages read, no
        Spark job. The reference keeps exactly these stats on its
        in-memory shard structs (shard.h); parquet row-group
        statistics make them free here. None (→ the engine aggregates
        the points instead) when a racing rewrite removed a shard file
        or a file lacks ts statistics."""
        out = []
        for kind, sid, p in self._sid_dirs():
            n, mn, mx = 0, None, None
            try:
                names = os.listdir(p)
            except FileNotFoundError:
                return None  # racing rewrite swapped the shard dir
            for f in names:
                # dot-prefixed: an in-flight append's temp file
                if not f.endswith(".parquet") or f.startswith("."):
                    continue
                try:
                    md = pq.ParquetFile(os.path.join(p, f)).metadata
                except FileNotFoundError:
                    return None  # racing rewrite removed the file
                n += md.num_rows
                ts_idx = None
                for i in range(md.num_columns):
                    if md.schema.column(i).name == "ts":
                        ts_idx = i
                        break
                if ts_idx is None:
                    return None
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(ts_idx).statistics
                    if st is None or not st.has_min_max:
                        return None
                    mn = st.min if mn is None else min(mn, st.min)
                    mx = st.max if mx is None else max(mx, st.max)
            if n:
                out.append({"kind": kind, "sid": sid, "points": n,
                            "start": mn, "end": mx})
        return out

    def repair_catalog(self, spark: SparkSession):
        """Make the catalog files trustworthy for a driver fold: the
        one-time rebuild after a crashed append (stale pending
        marker). A no-op otherwise."""
        stale = self._stale_markers()
        if stale:
            # an append CRASHED between points and catalog (its
            # process is gone, or this process abandoned the token):
            # repair once from the points table. Markers of LIVE
            # appenders are left alone — their deltas land when they
            # finish; rebuilding under them would double-count.
            self.rebuild_catalog(spark)
            for m in stale:
                self._clear_pending(m)

    def rebuild_catalog(self, spark: SparkSession):
        """Full recompute — the rare maintenance path (after expire,
        which changes per-series start/length at shard granularity):
        the distributed per-series aggregate of the points, written as
        the base. Supersedes any pending deltas, so they are cleared.
        Assumes a quiesced store (no concurrent appenders), like the
        reference's optimize/backup passes."""
        shutil.rmtree(self._delta_path, ignore_errors=True)
        if not self._exists():
            shutil.rmtree(self._catalog_path, ignore_errors=True)
            return
        self._write_base(
            self._batch_stats(self._read(spark, self.path)).toArrow())

    # ------------------------------------------------------- maintenance
    def _sid_dirs(self):
        for kind in ("num", "log"):
            kdir = os.path.join(self.path, f"kind={kind}")
            if not os.path.isdir(kdir):
                continue
            for entry in os.listdir(kdir):
                if entry.startswith("sid="):
                    yield kind, int(entry[4:]), os.path.join(kdir, entry)

    def expire(self, spark: SparkSession, cutoff_sid: int,
               tp_str: bool) -> bool:
        """Retention: drop whole shard partitions older than the
        cutoff (ref db.c:865-878 — expiration is shard-granular).
        Returns whether any shard was dropped."""
        want = "log" if tp_str else "num"
        return self.drop_shards(spark, {
            (kind, sid) for kind, sid, _ in self._sid_dirs()
            if kind == want and sid < cutoff_sid})

    def drop_shards(self, spark: SparkSession, keys) -> bool:
        """Drop the shard partitions of ``keys`` ((kind, sid) pairs)
        and rebuild the catalog — directory removal only, no data
        rewrite. Returns whether any shard was dropped (only then did
        the catalog change)."""
        doomed = [p for kind, sid, p in self._sid_dirs()
                  if (kind, sid) in keys]
        if not doomed:
            return False
        # pending marker: a crash mid-loop leaves the catalog stale,
        # and the next repair_catalog() rebuilds it from the points
        with self._pending():
            for p in doomed:
                shutil.rmtree(p)
            self.rebuild_catalog(spark)
        return True

    def delete_series(self, spark: SparkSession, names: list):
        """Anti-join rewrite (drop series). At 100 TB this is a Delta
        DELETE / partition-scoped rewrite; on plain parquet we rewrite
        the partitions that contain the series.

        A store whose shard files total at most
        LOCAL_OPTIMIZE_MAX_BYTES finds and rewrites the hit shards on
        the driver with pyarrow (:meth:`_delete_local`, no Spark job);
        a larger one finds them in one distinct-collect job and
        rewrites each with a Spark write. Either way each rewrite is
        staged under ``_rewrite_tmp(kind, sid)`` and swapped in."""
        self._repair_rewrites()
        if not self._exists() or not names:
            return
        shards = list(self._sid_dirs())
        local = sum(os.path.getsize(f) for _k, _s, p in shards
                    for f in self._parquet_files(p)) \
            <= LOCAL_OPTIMIZE_MAX_BYTES
        if local:
            doomed = pa.array(names, pa.string())
            hit = [(kind, sid, p) for kind, sid, p in shards
                   if self._holds_any(p, doomed)]
        else:
            df = self._read(spark, self.path)
            hit_sids = {(r["kind"], r["sid"]) for r in df.where(
                F.col("series").isin(names))
                .select("kind", "sid").distinct().collect()}
            hit = [(kind, sid, p) for kind, sid, p in shards
                   if (kind, sid) in hit_sids]
        if not hit:
            return
        self.repair_catalog(spark)
        cat = self._fold_files(self._base_files() + self._delta_files())
        if cat is None:
            raise RuntimeError(
                "drop series: a catalog file was removed while it was "
                "read (concurrent compaction); retry")
        with self._pending():
            for kind, sid, p in hit:
                tmp = self._rewrite_tmp(kind, sid)
                if local:
                    self._delete_local(p, tmp, doomed)
                else:
                    # one file per shard, as the pyarrow side and
                    # optimize leave it
                    self._read(spark, p).where(
                        ~F.col("series").isin(names)) \
                        .select(*_POINT_COLS).coalesce(1) \
                        .write.mode("overwrite") \
                        .option("compression", "zstd").parquet(tmp)
                self._swap_partition(tmp, p)
            shutil.rmtree(self._rewrite_root, ignore_errors=True)
            # cat is the folded base ∪ deltas; writing it as the new
            # base supersedes the delta files
            dropped = set(names)
            self._write_base(_catalog_table(
                {n: st for n, st in cat.items() if n not in dropped}))
            shutil.rmtree(self._delta_path, ignore_errors=True)

    def _holds_any(self, part: str, doomed) -> bool:
        """Whether the shard at ``part`` holds a row of a ``doomed``
        series (reads its ``series`` column only)."""
        files = self._parquet_files(part)
        return bool(files) and bool(pc.any(pc.is_in(
            pq.read_table(files, columns=["series"])["series"],
            value_set=doomed)).as_py())

    def _delete_local(self, part: str, tmp: str, doomed):
        """The in-process half of :meth:`delete_series`: the shard's
        files less the rows of the ``doomed`` series, in read order,
        staged as one file under ``tmp``."""
        tbl = pq.read_table(self._parquet_files(part),
                            columns=_POINT_COLS,
                            schema=_pa_points_schema())
        tbl = tbl.filter(pc.invert(pc.is_in(tbl["series"],
                                            value_set=doomed)))
        os.makedirs(tmp, exist_ok=True)
        pq.write_table(
            tbl, os.path.join(tmp, f"part-{uuid.uuid4().hex}.parquet"),
            compression="zstd")

    # ---------------------------------------------------------- rollup
    @property
    def _rollup_root(self) -> str:
        return os.path.join(self.path, "_rollup")

    @property
    def _rollup_meta_path(self) -> str:
        return os.path.join(self._rollup_root, "meta.json")

    def _rollup_data_path(self, gen: str) -> str:
        return os.path.join(self._rollup_root, f"data-{gen}")

    def rollup_info(self) -> dict | None:
        """{"bucket": b, "coverage": {"kind:sid": [files...]}} or
        None when no rollup is built."""
        import json

        try:
            with open(self._rollup_meta_path) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return None

    def _rollup_listing(self) -> dict:
        """Current {"kind:sid": sorted point-file names}."""
        out = {}
        for kind, sid, p in self._sid_dirs():
            files = sorted(f for f in os.listdir(p)
                           if f.endswith(".parquet"))
            out[f"{kind}:{sid}"] = files
        return out

    def build_rollup(self, spark: SparkSession, bucket: int) -> dict:
        """Build/refresh the rollup at the given bucket width (same
        unit as ts). Serialized behind the compact lock so the file
        listing and the aggregation read see the same shards; appends
        landing DURING the build simply show up as coverage
        mismatches and are read as points until the next build.
        Returns the coverage meta; raises :class:`CompactLockBusy`
        when another process holds the lock."""
        import json

        if bucket <= 0:
            raise ValueError("rollup bucket must be positive")
        covered_kinds = [
            k for k, dur in (("num", self.duration_num),
                             ("log", self.duration_log))
            if dur % bucket == 0]
        if not covered_kinds:
            raise ValueError(
                f"rollup bucket {bucket} divides neither shard "
                f"duration ({self.duration_num} num / "
                f"{self.duration_log} log)")
        if not self._acquire_compact_lock():
            raise CompactLockBusy("rollup build: compact lock busy")
        try:
            listing = {
                key: files for key, files in
                self._rollup_listing().items()
                if key.split(":", 1)[0] in covered_kinds}
            paths = []
            for key, files in listing.items():
                kind, sid = key.split(":", 1)
                d = os.path.join(self.path, f"kind={kind}",
                                 f"sid={sid}")
                paths.extend(os.path.join(d, f) for f in files)
            os.makedirs(self._rollup_root, exist_ok=True)
            gen = uuid.uuid4().hex
            tmp = os.path.join(self._rollup_root, f".build-{gen}")
            schema = None
            if paths:
                partials = rollup_partials(self._read(spark, *paths),
                                           bucket, ["kind", "sid"])
                partials.write.mode("overwrite") \
                    .option("compression", "zstd").parquet(tmp)
                schema = partials.schema.jsonValue()
            else:
                os.makedirs(tmp, exist_ok=True)
            # the Columns a select of this rollup's stale shards
            # projects its points with (memoized: a no-op after the
            # first build of the bucket in this process)
            point_partials_cols(bucket)
            # commit protocol: land the new generation dir, point the
            # meta at it atomically, THEN drop older generations — a
            # crash at any step leaves a consistent (meta, data) pair
            os.replace(tmp, self._rollup_data_path(gen))
            # v3: the meta records the partials schema, which
            # read_rollup declares instead of inferring it; older
            # metas are refused by read_rollup (points fallback until
            # the next build/maintain rebuilds them)
            meta = {"bucket": int(bucket), "gen": gen, "v": 3,
                    "schema": schema, "coverage": listing}
            mtmp = self._rollup_meta_path + f".{uuid.uuid4().hex}"
            with open(mtmp, "w") as fh:
                json.dump(meta, fh)
            os.replace(mtmp, self._rollup_meta_path)
            self._rollup_frame = None
            for entry in os.listdir(self._rollup_root):
                if (entry.startswith("data-") and entry != f"data-{gen}") \
                        or entry.startswith(".build-"):
                    shutil.rmtree(
                        os.path.join(self._rollup_root, entry),
                        ignore_errors=True)
            return meta
        finally:
            self._release_compact_lock()

    def read_rollup(self, spark: SparkSession):
        """{"bucket", "partials", "stale", "valid"}: ``partials`` holds
        ONLY the ``valid`` shards, whose current files exactly match
        the build-time coverage, projected to ``ROLLUP_PARTIAL_COLS``;
        ``stale`` lists "kind:sid" shards (changed, new, or
        never-covered) the caller must aggregate live from points.
        The partials frame is reused across reads
        (:meth:`_rollup_partials`)."""
        meta = self.rollup_info()
        if meta is None or "gen" not in meta \
                or meta.get("v") != 3:
            return None
        current = self._rollup_listing()
        # negative timestamps (possible only via the raw append API —
        # insert and streaming ingest reject them) would relabel
        # differently through the two-level bucket composition:
        # refuse to serve, the engine falls back to points wholesale.
        # They can only live in shards with sid <= 0, so the probe
        # is one footer read of those shards (usually none).
        for key in current:
            if int(key.split(":", 1)[1]) < 0:
                return None
        if any(int(k.split(":", 1)[1]) == 0 for k in current):
            stats = self.shard_stats_local()
            if stats is None:
                return None
            for s in stats:
                if s["sid"] == 0 and s["start"] is not None \
                        and s["start"] < 0:
                    return None
        cov = meta["coverage"]
        valid = [k for k, files in current.items()
                 if cov.get(k) == files]
        stale = [k for k in current if k not in set(valid)]
        data = self._rollup_data_path(meta["gen"])
        if os.path.isdir(data) and any(
                f.endswith(".parquet") for f in os.listdir(data)):
            df = self._rollup_partials(spark, meta, tuple(valid))
        elif valid:
            # the generation the meta names is unreadable (crash or
            # concurrent swap window): covered shards MUST NOT be
            # silently dropped — demote every one of them to stale
            # so the engine aggregates them live from points
            stale = list(current)
            valid = []
            df = None
        else:
            df = None
        return {"bucket": meta["bucket"], "partials": df,
                "stale": stale, "valid": valid}

    def _rollup_partials(self, spark: SparkSession, meta: dict,
                         valid: tuple) -> DataFrame:
        """The partials of the ``valid`` shards. The generation's scan
        is built once per (session, generation) — its data directory
        never changes after the build, and a new build is a new
        generation — and the filtered frame once per valid set."""
        gen = meta["gen"]
        hit = self._rollup_frame
        if hit is None or hit[0] is not spark or hit[1] != gen:
            scan = self._read(spark, self._rollup_data_path(gen),
                              schema=T.StructType.fromJson(meta["schema"]))
            hit = (spark, gen, scan, None, None)
        if hit[3] == valid:
            return hit[4]
        df = hit[2]
        if not valid:
            df = df.limit(0)
        else:
            # valid keys are "num:<sid>"/"log:<sid>": no quoting
            df = df.where("concat_ws(':', kind, cast(sid as string)) "
                          f"IN ({', '.join(repr(v) for v in valid)})")
        df = df.select(*cols(*ROLLUP_PARTIAL_COLS))
        self._rollup_frame = (spark, gen, hit[2], valid, df)
        return df

    def read_points_of(self, spark: SparkSession, keys: list):
        """Points frame restricted to the given "kind:sid" shards
        (the live-fallback side of a rollup read)."""
        paths = []
        for key in keys:
            kind, sid = key.split(":", 1)
            d = os.path.join(self.path, f"kind={kind}", f"sid={sid}")
            if os.path.isdir(d):
                paths.append(d)
        if not paths:
            return None
        return self._read(spark, *paths).select(*cols(*_POINT_COLS))

    def optimize(self, spark: SparkSession):
        """Compaction (ref src/siri/optimize.c:33-55): rewrite every
        partition holding more than one file into one file, laid out
        in (series, ts, seq) order.

        Fragmented partitions whose files total at most
        LOCAL_OPTIMIZE_MAX_BYTES are rewritten in-process with
        pyarrow (:meth:`_rewrite_local`, no Spark job: the shards an
        ingest cycle fragments are small, and a Spark write's job
        floor cost more than the rewrite itself). Larger ones are
        rewritten by ONE Spark write: hash-partitioned by (kind, sid),
        so each partition's rows meet in one task and land as one
        file under ``_rewrite_tmp(kind, sid)``. Either way each staged
        partition is then swapped in (a crash before its swap discards
        it, see :meth:`_repair_rewrites`).

        The (series, ts, seq) order matches the reference's optimize
        pass, which likewise re-sorts shards that accumulated
        out-of-order appends (HAS_OVERLAP, shard.h:12). Beyond parity,
        sorting tightens parquet column-chunk min/max stats: a
        per-series read of a compacted shard skips row groups whose
        series range can't match, the format-native analogue of the
        reference's per-series block index."""
        self._repair_rewrites()
        frag = [(kind, sid, p) for kind, sid, p in self._sid_dirs()
                if sum(f.endswith(".parquet") for f in os.listdir(p)) > 1]
        if frag:
            size = sum(os.path.getsize(f) for _k, _s, p in frag
                       for f in self._parquet_files(p))
            if size <= LOCAL_OPTIMIZE_MAX_BYTES:
                self._rewrite_local(frag)
            else:
                # the partitioned writer needs its input ordered by
                # the partition columns; leading with them keeps the
                # sort one
                (self._read(spark, *(p for _k, _s, p in frag))
                 .repartition("kind", "sid")
                 .sortWithinPartitions("kind", "sid", "series", "ts", "seq")
                 .write.partitionBy("kind", "sid").mode("overwrite")
                 .option("compression", "zstd")
                 .parquet(self._rewrite_root))
            for kind, sid, p in frag:
                tmp = self._rewrite_tmp(kind, sid)
                if os.path.isdir(tmp):  # absent: the shard held no rows
                    self._swap_partition(tmp, p)
        shutil.rmtree(self._rewrite_root, ignore_errors=True)

    def _rewrite_local(self, frag: list):
        """The in-process half of :meth:`optimize`: each fragmented
        shard's files are read with pyarrow, ordered by (series, ts,
        seq) and staged as one file under ``_rewrite_tmp(kind, sid)``,
        exactly where the Spark write stages it; the caller swaps.
        At most one shard is held in memory."""
        schema = _pa_points_schema()
        for kind, sid, p in frag:
            tbl = pq.read_table(self._parquet_files(p),
                                columns=_POINT_COLS, schema=schema)
            if not tbl.num_rows:
                continue  # as the Spark write: no rows, nothing staged
            tbl = tbl.sort_by([("series", "ascending"),
                               ("ts", "ascending"),
                               ("seq", "ascending")])
            tmp = self._rewrite_tmp(kind, sid)
            os.makedirs(tmp, exist_ok=True)
            pq.write_table(
                tbl, os.path.join(tmp, f"part-{uuid.uuid4().hex}.parquet"),
                compression="zstd")

    def stats(self) -> dict:
        out = {"partitions": 0, "files": 0, "bytes": 0}
        for _kind, _sid, p in self._sid_dirs():
            out["partitions"] += 1
            for f in os.listdir(p):
                if f.endswith(".parquet"):
                    out["files"] += 1
                    out["bytes"] += os.path.getsize(os.path.join(p, f))
        return out

    # ---------------------------------------------------------- backup
    def snapshot(self, dest: str) -> str:
        """Consistent point-in-time backup: copy the store directory
        (points partitions + catalog + deltas) to ``dest``. Refuses
        to run while an append is in flight (pending marker set) —
        the reference's backup_mode likewise quiesces the database
        before its file copy (src/siri/db/db.c backup handling).
        Parquet files are immutable once written, so a quiesced copy
        is consistent by construction; at 100 TB the same layout
        snapshots via the object store's native copy/manifest instead
        of a local copytree. Returns ``dest``."""
        if self._pending_markers():
            raise RuntimeError(
                "snapshot refused: an append is in progress "
                "(pending marker present)")
        if os.path.exists(dest):
            raise FileExistsError(dest)
        if self._exists() or os.path.isdir(self.path):
            shutil.copytree(self.path, dest)
        else:
            os.makedirs(dest, exist_ok=True)
        return dest

    @classmethod
    def restore(cls, snapshot_path: str, dest: str,
                duration_num: int, duration_log: int) -> "PointsStore":
        """Materialize a snapshot as a live store at ``dest`` and
        open it. The copy is verbatim; the store's own crash-repair
        (pending-marker rebuild) covers a snapshot taken from an
        older layout."""
        if os.path.exists(dest):
            raise FileExistsError(dest)
        shutil.copytree(snapshot_path, dest)
        return cls(dest, duration_num, duration_log)


# ---------------------------------------------------------------------
# Bucketed rollups: a maintain-time materialized aggregate layer.
#
# The classic TSDB scale feature the reference lacks (it re-aggregates
# points per query): per-(kind, shard) partial aggregates at a fixed
# bucket width, built under the compact lock, served by the engine for
# count/sum/mean/min/max selects whose bucket is a multiple of the
# rollup bucket. Query-time work becomes O(|series| x |buckets|)
# instead of O(|points|).
#
# Safety model (no append-path changes, drop-safe by construction):
# - the rollup is keyed by (kind, sid) and records EXACTLY which
#   point files each shard's partials were computed from;
# - at read time a shard whose current file set differs (new append,
#   compaction rewrite, drop rewrite, retention) is EXCLUDED from the
#   rollup and the engine computes that shard's partials live from
#   points — results stay exact while the rollup lags;
# - the rollup bucket must divide the shard duration of a kind for
#   that kind to be covered (buckets then never span shards), else
#   the kind is simply never covered (permanent live fallback).
