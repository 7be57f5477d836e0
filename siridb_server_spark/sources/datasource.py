"""``spark.read.format("siridb")``: a PySpark Python DataSource over
the points store layout (see ``store.py``).

Why a custom source when ``spark.read.parquet`` already works: the
DataSource owns PARTITION PLANNING, so shard skipping becomes a
first-class part of the scan instead of engine-side sid predicates —
``df.filter("ts >= X")`` reaches :meth:`SiriDBShardReader.pushFilters`
and whole ``sid=...`` directories are dropped before a single task is
scheduled (the analogue of the reference's shard skipping,
src/siri/db/series.c:927-938). The same class exposes a streaming
reader: ``spark.readStream.format("siridb")`` tails newly-appended
shard files (the reference's on-ingest fan-out to live query clients).

Scale shape: one InputPartition per parquet file → a 100 TB store
fans out to as many tasks as it has files, pruned first by directory;
each task streams Arrow record batches straight from its file
(row-group ts/series stats prune within the file via the pushed
bounds), so nothing ever funnels through the driver but the file
listing — which at object-store scale is the same listing every
format-native scan performs.

Filters are used for PRUNING but always returned as unhandled, so
Spark re-applies them row-level: directory pruning is shard-granular
(a kept shard can still hold rows outside the ts bound) and
correctness never depends on the pruning math.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Iterable, Iterator, List, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from .store import (
    STORE_SCHEMA,
    _POINT_COLS,
    PointsStore,
    _fold_stats_table,
    _pa_points_schema,
    merge_stats,
    write_arrow_delta,
)


@dataclass
class ShardFilePartition(InputPartition):
    kind: str
    sid: int
    file: str
    ts_lo: int | None = None  # inclusive row-group pruning bound
    ts_hi: int | None = None  # inclusive


def _shard_files(path: str):
    """Yield (kind, sid, file_path, ctime_ns) for every committed
    shard parquet file. Underscore/dot-prefixed entries (catalog,
    rewrite staging, markers) are invisible, same as Spark's own
    partition discovery.

    ctime (inode change time), NOT mtime: commit makes files visible
    via os.rename, which PRESERVES the staged file's mtime but
    updates ctime at rename time — so ctime orders files by when
    they became VISIBLE, which is what the streaming watermark needs
    (a staged-early/renamed-late file must not sort before an
    already-watermarked one). Files deleted between listdir and stat
    (a racing compaction) are skipped, not fatal."""
    for kind in ("num", "log"):
        kdir = os.path.join(path, f"kind={kind}")
        if not os.path.isdir(kdir):
            continue
        for entry in sorted(os.listdir(kdir)):
            if not entry.startswith("sid="):
                continue
            sdir = os.path.join(kdir, entry)
            if not os.path.isdir(sdir):
                continue
            sid = int(entry[4:])
            try:
                names = sorted(os.listdir(sdir))
            except FileNotFoundError:
                continue
            for f in names:
                if f.startswith(("_", ".")) or not f.endswith(
                        ".parquet"):
                    continue
                fp = os.path.join(sdir, f)
                try:
                    yield kind, sid, fp, os.stat(fp).st_ctime_ns
                except FileNotFoundError:
                    continue


class _Bounds:
    """ts/kind bounds extracted from pushed filters + options."""

    def __init__(self, options):
        self.ts_lo = self._opt_int(options, "ts_min")
        self.ts_hi = self._opt_int(options, "ts_max")
        self.kind = options.get("kind")
        # sid bounds stay SEPARATE from ts bounds: sid is constant
        # per directory so they prune exactly, but folding them into
        # ts would make the row-group ts filter drop rows a sid
        # predicate keeps (shard 0 holds pre-epoch rows)
        self.sid_lo: int | None = None
        self.sid_hi: int | None = None
        self.dur = {
            "num": self._opt_int(options, "duration_num"),
            "log": self._opt_int(options, "duration_log"),
        }

    @staticmethod
    def _opt_int(options, key):
        v = options.get(key)
        return None if v is None else int(v)

    def _tighten(self, lo=None, hi=None):
        if lo is not None:
            self.ts_lo = lo if self.ts_lo is None else max(self.ts_lo, lo)
        if hi is not None:
            self.ts_hi = hi if self.ts_hi is None else min(self.ts_hi, hi)

    def _sid(self, lo=None, hi=None):
        if lo is not None:
            self.sid_lo = (lo if self.sid_lo is None
                           else max(self.sid_lo, lo))
        if hi is not None:
            self.sid_hi = (hi if self.sid_hi is None
                           else min(self.sid_hi, hi))

    def absorb(self, filters: List[Filter]):
        for f in filters:
            col = f.attribute[0] if len(f.attribute) == 1 else None
            if col == "ts":
                if isinstance(f, GreaterThan):
                    self._tighten(lo=int(f.value) + 1)
                elif isinstance(f, GreaterThanOrEqual):
                    self._tighten(lo=int(f.value))
                elif isinstance(f, LessThan):
                    self._tighten(hi=int(f.value) - 1)
                elif isinstance(f, LessThanOrEqual):
                    self._tighten(hi=int(f.value))
                elif isinstance(f, EqualTo):
                    self._tighten(lo=int(f.value), hi=int(f.value))
            elif col == "kind" and isinstance(f, EqualTo):
                self.kind = str(f.value)
            elif col == "sid":
                # sid predicates map 1:1 onto directory names
                if isinstance(f, GreaterThan):
                    self._sid(lo=int(f.value) + 1)
                elif isinstance(f, GreaterThanOrEqual):
                    self._sid(lo=int(f.value))
                elif isinstance(f, LessThan):
                    self._sid(hi=int(f.value) - 1)
                elif isinstance(f, LessThanOrEqual):
                    self._sid(hi=int(f.value))
                elif isinstance(f, EqualTo):
                    self._sid(lo=int(f.value), hi=int(f.value))

    def keep(self, kind: str, sid: int) -> bool:
        """Directory-level shard skip. The store's sid is TRUNC-mod
        aligned (``ts - ts % dur``), so a shard's rows lie in:
        sid > 0 → [sid, sid+dur); sid == 0 → (-dur, dur);
        sid < 0 → (sid-dur, sid]. Epoch timestamps are normally
        non-negative (the reference's are uint64), but pre-epoch
        rows must prune CONSERVATIVELY, never wrongly. Without a
        known duration only the bounds that need no width apply."""
        if self.kind is not None and kind != self.kind:
            return False
        if self.sid_lo is not None and sid < self.sid_lo:
            return False
        if self.sid_hi is not None and sid > self.sid_hi:
            return False
        dur = self.dur.get(kind)
        lo, hi = self.ts_lo, self.ts_hi
        if sid > 0:
            if hi is not None and sid > hi:
                return False
            if lo is not None and dur and sid + dur <= lo:
                return False
        elif sid == 0:
            if hi is not None and dur and hi <= -dur:
                return False
            if lo is not None and dur and lo >= dur:
                return False
        else:
            if lo is not None and sid < lo:
                return False
            if hi is not None and dur and sid - dur >= hi:
                return False
        return True


def _read_file_batches(part: ShardFilePartition) -> Iterator:
    """Arrow record batches for one shard file, with the partition
    columns appended and pushed ts bounds applied at row-group level
    (parquet stats prune inside the file, mirroring the reference's
    per-series (start, end) block index)."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    dataset = pads.dataset(part.file, format="parquet")
    expr = None
    if part.ts_lo is not None:
        expr = pads.field("ts") >= part.ts_lo
    if part.ts_hi is not None:
        e = pads.field("ts") <= part.ts_hi
        expr = e if expr is None else expr & e
    scanner = dataset.scanner(columns=_POINT_COLS, filter=expr)
    for batch in scanner.to_batches():
        n = batch.num_rows
        if n == 0:
            continue
        arrays = list(batch.columns) + [
            pa.array([part.kind] * n, pa.string()),
            pa.array([part.sid] * n, pa.int64()),
        ]
        yield pa.RecordBatch.from_arrays(
            arrays, names=_POINT_COLS + ["kind", "sid"])


class SiriDBShardReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError(
                "siridb source requires a path: .load('<store dir>')")
        self.bounds = _Bounds(options)

    def pushFilters(self, filters: List[Filter]) -> Iterable[Filter]:
        self.bounds.absorb(filters)
        # every filter is returned unhandled: pruning here is
        # shard/row-group-granular, Spark re-applies exact row-level
        return filters

    def partitions(self) -> Sequence[InputPartition]:
        parts = [
            ShardFilePartition(kind, sid, fp,
                               self.bounds.ts_lo, self.bounds.ts_hi)
            for kind, sid, fp, _mt in _shard_files(self.path)
            if self.bounds.keep(kind, sid)
        ]
        # an empty seq is an error in the API; emit one no-op split
        return parts or [ShardFilePartition("num", 0, "")]

    def read(self, partition: ShardFilePartition) -> Iterator:
        if not partition.file:
            return iter(())
        return _read_file_batches(partition)


class SiriDBStreamReader(DataSourceStreamReader):
    """Micro-batch tail of the store: each batch covers the shard
    files that appeared since the last offset. Offsets are
    (ctime-ns watermark, files-at-watermark) — bounded state, no
    ever-growing seen-set; ctime tracks when a file became visible
    (rename preserves mtime, see ``_shard_files``).

    Appends only: ``optimize()``/``expire()`` REWRITE shard files
    with fresh inodes containing old data, which a tail would
    re-emit — run compaction on a store you are tailing only between
    streaming runs (the reference likewise pauses optimize during
    shard-touching operations, src/siri/optimize.c)."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError(
                "siridb stream requires a path: .load('<store dir>')")
        self.bounds = _Bounds(options)

    def initialOffset(self) -> dict:
        return {"w": 0, "at": []}

    def latestOffset(self) -> dict:
        w, at = 0, []
        for _k, _s, fp, mt in _shard_files(self.path):
            if mt > w:
                w, at = mt, [fp]
            elif mt == w:
                at.append(fp)
        return {"w": w, "at": sorted(at)}

    def partitions(self, start: dict, end: dict
                   ) -> Sequence[InputPartition]:
        s_w, s_at = start.get("w", 0), set(start.get("at", ()))
        e_w, e_at = end.get("w", 0), set(end.get("at", ()))
        parts = []
        for kind, sid, fp, mt in _shard_files(self.path):
            if not self.bounds.keep(kind, sid):
                continue
            after_start = mt > s_w or (mt == s_w and fp not in s_at)
            upto_end = mt < e_w or (mt == e_w and fp in e_at)
            if after_start and upto_end:
                parts.append(ShardFilePartition(
                    kind, sid, fp,
                    self.bounds.ts_lo, self.bounds.ts_hi))
        return parts or [ShardFilePartition("num", 0, "")]

    def read(self, partition: ShardFilePartition) -> Iterator:
        if not partition.file:
            return iter(())
        return _read_file_batches(partition)

    def commit(self, end: dict):
        pass


@dataclass
class _WriteResult(WriterCommitMessage):
    #: [(kind, sid, staged_file)] written by this task
    files: list
    #: [(name, stats)] partial catalog stats of the task's rows
    #: (``store._fold_stats_table`` items, for ``store.merge_stats``)
    stats: list


class SiriDBArrowWriter(DataSourceArrowWriter):
    """``df.write.format("siridb").mode("append")``: the points-store
    append as a first-class Spark sink.

    Protocol (mirrors ``PointsStore.append_df``'s crash-consistency):
    each task writes its rows into per-(kind, sid) parquet files under
    the underscore-staged ``_writer_stage/`` (invisible to readers)
    and reports the file list + per-series partial stats
    (``store._fold_stats_table``, exact for int64 and NaN values) in
    its commit message; ``commit`` — which only runs if every task
    succeeded — sets the store's pending marker
    (``PointsStore._pending``), renames the staged files into their
    shard partitions, folds the per-task stats with
    ``store.merge_stats`` into ONE catalog delta file
    (``store.write_arrow_delta``, the engine's own delta commit) and
    clears the marker. ``abort`` discards the staging directory;
    nothing ever became visible. A crash inside commit leaves the
    marker set, and the next ``repair_catalog`` rebuilds — lagging is
    possible, silent under-counting is not."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError(
                "siridb sink requires a path: .save('<store dir>')")
        dn, dl = options.get("duration_num"), options.get(
            "duration_log")
        if not dn or not dl:
            raise ValueError(
                "siridb sink requires duration_num and duration_log "
                "options (shard durations in the store's ts unit)")
        self.dur_num, self.dur_log = int(dn), int(dl)
        # per-writer staging dir: concurrent writes to the same store
        # must not rmtree each other's staged files on commit/abort
        import uuid

        self.stage = os.path.join(self.path, "_writer_stage",
                                  uuid.uuid4().hex)

    def write(self, iterator) -> _WriteResult:
        import uuid

        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = [b for b in iterator if b.num_rows]
        if not batches:
            return _WriteResult([], [])
        tbl = pa.Table.from_batches(batches)
        missing = [c for c in _POINT_COLS if c not in tbl.column_names]
        if missing:
            raise ValueError(f"siridb sink: missing columns {missing}")
        # normalize to the store's physical types — readers declare
        # int32 tp / int64 ts, and a permissive upstream (hand-built
        # batches, JSON inference) may carry wider lanes
        tbl = tbl.select(_POINT_COLS).cast(_pa_points_schema())
        ts = tbl.column("ts").to_numpy(zero_copy_only=False)
        tp = tbl.column("tp").to_numpy(zero_copy_only=False)
        is_log = tp == 2  # TP_STRING
        dur = np.where(is_log, self.dur_log, self.dur_num)
        # TRUNC-mod, matching Spark's % in PointsStore._with_partitions
        # (numpy % is floor-mod — they differ on pre-epoch negative ts,
        # and a sid mismatch would split one shard across directories
        # and break the reader's sid-vs-ts pruning assumption)
        rem = np.where(ts >= 0, ts % dur, -((-ts) % dur))
        sid = ts - rem
        task_dir = os.path.join(self.stage, uuid.uuid4().hex)
        os.makedirs(task_dir, exist_ok=True)
        files = []
        for k_flag in (False, True):
            kmask = is_log == k_flag
            for s in np.unique(sid[kmask]) if kmask.any() else ():
                mask = kmask & (sid == s)
                sub = tbl.filter(pa.array(mask))
                fp = os.path.join(
                    task_dir, f"part-{uuid.uuid4().hex}.parquet")
                pq.write_table(sub, fp, compression="zstd")
                files.append(("log" if k_flag else "num",
                              int(s), fp))
        stats = list(_fold_stats_table(tbl).items())
        return _WriteResult(files, stats)

    # ------------------------------------------------------ driver side
    def commit(self, messages):
        store = PointsStore(self.path, self.dur_num, self.dur_log)
        # the store's per-appender marker: LIVE to same-process
        # readers while the commit runs, left on disk as the crash
        # signal if it raises
        with store._pending():
            self._commit_inner(messages)
        self._drop_stage()
        if not os.path.exists(store._durations_path):
            # persist the sid layout like PointsStore.append_df does
            store.persist_durations()

    def _commit_inner(self, messages):
        for msg in messages:
            if msg is None:
                continue
            for kind, sid, staged in msg.files:
                target = os.path.join(
                    self.path, f"kind={kind}", f"sid={sid}")
                os.makedirs(target, exist_ok=True)
                os.rename(staged, os.path.join(
                    target, os.path.basename(staged)))
        # fold the per-task partials and append ONE delta commit
        write_arrow_delta(self.path, merge_stats({}, (
            item for msg in messages if msg is not None
            for item in msg.stats)))

    def abort(self, messages):
        # nothing became visible; drop the staging area
        self._drop_stage()

    def _drop_stage(self):
        import contextlib
        import shutil

        shutil.rmtree(self.stage, ignore_errors=True)
        # drop the shared parent too once no sibling writer is staged
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(self.stage))


class SiriDBStreamArrowWriter(SiriDBArrowWriter,
                              DataSourceStreamArrowWriter):
    """``writeStream.format("siridb")``: streaming ingest into the
    store, one crash-consistent append per micro-batch. Re-uses the
    batch writer's stage/commit protocol; a per-batch commit marker
    (``_stream_commits/<epoch>``) makes a batch replayed AFTER a
    completed commit a no-op, so the common restart path (Spark
    acknowledged late, commit finished) does not double-append.

    Honest bound: the marker lands after the rename+delta step, so a
    crash INSIDE commit replays that one batch at-least-once (the
    pending marker still forces a catalog rebuild, so stats stay
    consistent with whatever data landed). Making the window zero
    needs an atomic multi-file transaction — on Delta this whole
    protocol is one transactional MERGE."""

    def _marker(self, batch_id: int) -> str:
        return os.path.join(self.path, "_stream_commits",
                            str(batch_id))

    def commit(self, messages, batchId: int):  # noqa: N803
        import shutil

        if os.path.exists(self._marker(batchId)):
            shutil.rmtree(self.stage, ignore_errors=True)
            return
        super().commit(messages)
        os.makedirs(os.path.dirname(self._marker(batchId)),
                    exist_ok=True)
        with open(self._marker(batchId), "w"):
            pass

    def abort(self, messages, batchId: int):  # noqa: N803
        super().abort(messages)


class SiriDBDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "siridb"

    def schema(self):
        return STORE_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return SiriDBShardReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return SiriDBStreamReader(self.options)

    def writer(self, schema, overwrite: bool):
        if overwrite:
            raise ValueError(
                "siridb sink is append-only (the store's shard "
                "layout has no overwrite semantics); use "
                ".mode('append')")
        return SiriDBArrowWriter(self.options)

    def streamWriter(self, schema, overwrite: bool):  # noqa: N802
        return SiriDBStreamArrowWriter(self.options)


def register(spark) -> None:
    """Idempotent ``spark.dataSource.register`` of the format.

    Also enables ``spark.sql.python.filterPushdown.enabled`` (a
    runtime SQL conf, default false): Spark refuses to plan a Python
    source whose reader implements ``pushFilters`` while the conf is
    off, and shard skipping is the point of this source."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SiriDBDataSource)
