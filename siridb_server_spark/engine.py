"""SiriEngine — the query/ingest façade.

Spark-first lifecycle (SURVEY.md §3.4): ``query(q)`` → recursive-descent
parse with time-expression constant folding (`now` captured once, ref
src/siri/db/query.c:592-594) → logical spec (selection predicate,
where-predicate, time range, pipeline list, merge spec) → DataFrame
expression chain (Catalyst handles pushdown/partial aggregation) →
collect → ``{series: [[ts, val], ...]}``.

Ingest mirrors src/siri/db/insert.c semantics (auto-create series with
inferred type on first insert, reject wrong-typed points, keep
duplicate timestamps, accept out-of-order arrival); the pool/replica
machinery of the reference is irrelevant — Spark owns distribution.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
import threading
import time as _time
import uuid
from zoneinfo import ZoneInfo

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import access as ACL
from . import help as HELP
from .errors import InsertError, QueryError
from .functions import pipeline as P
from .functions.memo import cols
from .functions.pipeline import COLS, StageResult, TypeSet
from .localdf import arrow_df
from .model import (
    TP_DOUBLE,
    TP_INT,
    TP_STRING,
    TP_NAMES,
    coerce_value,
    infer_tp,
    point_row,
    reply_map,
)
from .operators.selection import compile_match
from .operators.where import compile_where
from .plans import arrowpath as AP
from .plans import nodes as N
from .plans import timeexpr as TE
from .plans.parser import Parser
from .sources.store import CompactLockBusy, PointsStore, catalog_stats, \
    merge_stats

#: defaults mirror include/siri/db/db.h:16-17
DEFAULT_SELECT_POINTS_LIMIT = 1_000_000
DEFAULT_LIST_LIMIT = 10_000
#: shard durations (siridb defaults: 1w number, 3d log)
DEFAULT_DURATION_NUM_S = 604800
DEFAULT_DURATION_LOG_S = 259200

__version__ = "0.1.0"

#: private store directories of store-less engines. They are removed
#: at interpreter exit, not when their engine is collected: a
#: select_df()/points_df() frame reads the files lazily and can
#: outlive its engine.
_PRIVATE_DIRS: list = []


@atexit.register
def _remove_private_dirs():
    for path in _PRIVATE_DIRS:
        shutil.rmtree(path, ignore_errors=True)


class SiriEngine:
    def __init__(self, spark: SparkSession, precision: str = "s",
                 store=None):
        if precision not in TE.PRECISIONS:
            raise ValueError(f"invalid precision {precision!r}")
        self.spark = spark
        self.precision = precision
        self.factor = TE.factor(precision)
        self.duration_num = DEFAULT_DURATION_NUM_S * self.factor
        self.duration_log = DEFAULT_DURATION_LOG_S * self.factor
        #: where the points live: the given store, else a private one
        #: (its directory appears with the first write). None only on
        #: an unmutated from_points() engine, which reads _base_df.
        self.store = store if store is not None else self._private_store()
        self._base_df: DataFrame | None = None
        self._catalog: DataFrame | None = None
        #: driver-held catalog snapshot (the catalog query() reads):
        #: ``_local_raw`` holds the store.merge_stats fold the rows of
        #: ``_local_cat`` are derived from, ``_local_files`` the
        #: catalog files it reflects (store-backed engines)
        self._local_raw: dict | None = None
        self._local_cat: dict | None = None
        self._local_files: frozenset | None = None
        self._seq = 0
        # serve count/sum/mean/min/max bucketed selects from the
        # store's materialized rollup when one is built (see
        # enable_rollup); False forces the points path
        self.rollup_enabled = True
        self.server_name = "sparksiri:0"
        self.log_level = "info"
        self.backup_mode = False
        self.groups: dict[str, tuple[str, bool]] = {}
        self.tags: dict[str, set] = {}
        self.users: dict[str, dict] = {
            "iris": {"password": "siri", "access": ACL.PROFILE_FULL}}
        # the authenticated session user; all query()/insert() calls
        # are privilege-checked against it (ref listener.c:433
        # MASTER_CHECK_ACCESSIBLE)
        self.session_user = "iris"
        self.select_points_limit = DEFAULT_SELECT_POINTS_LIMIT
        self.list_limit = DEFAULT_LIST_LIMIT
        self.drop_threshold = 1.0
        self.timezone = "NAIVE"
        self.expiration_num = 0
        self.expiration_log = 0
        self.tee = None
        self._exp_applied: dict = {}  # expiration key → last cutoff sid
        #: open(auto_duration=True) on a fresh store: first insert
        #: derives+persists durations from the observed interval
        self._auto_duration_pending = False
        self._started = _time.time()
        #: the engine is not thread-safe: every transport serving it
        #: (sources/clserver.py, sources/http.py) holds this one lock
        #: around each engine call, as the reference's single event
        #: loop per database serializes its queries
        self.lock = threading.Lock()
        #: selects answered per path (see :meth:`_select`)
        self.select_paths = {"catalog": 0, "arrow": 0, "spark": 0}
        self._select_path = None

    @classmethod
    def open(cls, spark: SparkSession, path: str,
             precision: str = "s",
             auto_duration: bool = False) -> "SiriEngine":
        """Open (or create) a persistent database at ``path`` —
        shard-equivalent partitioned parquet (sources/store.py).

        ``auto_duration=True`` mirrors the reference's
        enable_shard_auto_duration (shards.c:281-289): the first
        insert derives the shard durations from the batch's median
        point interval (sized toward OPTIMAL_POINTS_PER_SHARD,
        shard.c:136-167) instead of the precision defaults.
        Divergence note: the reference sizes each NEW shard
        independently; this layout has one duration per kind (sid
        math), so the auto-derived duration is fixed at first insert
        and persisted. Durations always persist with the store and
        win over the opener's defaults on reopen."""
        eng = cls(spark, precision, PointsStore(path, 0, 0))
        saved = eng.store.load_durations()
        if saved is not None:
            eng.duration_num, eng.duration_log = saved
        elif auto_duration:
            eng._auto_duration_pending = True
        eng.store.duration_num = eng.duration_num
        eng.store.duration_log = eng.duration_log
        return eng

    @classmethod
    def from_points(cls, spark: SparkSession, df: DataFrame,
                    precision: str = "s") -> "SiriEngine":
        """Wrap an existing long-format points DataFrame (columns
        series, ts, seq, val_int, val_dbl, val_str, tp) — the scale
        path: the frame typically comes from partitioned parquet.
        The engine reads the frame as it is until its first mutation
        (insert, drop, retention) copies it into a private store
        (:meth:`_own_store`)."""
        eng = cls(spark, precision)
        eng.store = None
        eng._base_df = df
        # points inserted later must sort after the wrapped frame's
        # rows on (ts, seq) ties
        eng._seq = 1 << 40
        return eng

    # ------------------------------------------------------------- ingest
    def insert(self, data) -> dict:
        """Insert points. Accepts the reference's two shapes
        (insert.c:72-88): a map {series: [[ts, val], ...]} or a list of
        {'name': ..., 'points': [...]} maps."""
        self._check_access(ACL.INSERT)
        if isinstance(data, list):
            try:
                data = {d["name"]: d["points"] for d in data}
            except (TypeError, KeyError):
                raise InsertError(
                    "Expecting a series name and points.") from None
        if not isinstance(data, dict):
            raise InsertError("Expecting a map or array of series.")
        for name in data:
            if not isinstance(name, str) or name == "" \
                    or len(name) > 65534:
                raise InsertError("Series name is invalid.")
        # type pre-flight from the driver snapshot (the reference
        # reads the types off its in-memory series structs)
        cat = self._catalog_local()
        existing = {name: cat[name]["tp"] for name in data if name in cat}
        rows = []
        n = 0
        for name, points in data.items():
            if not points:
                raise InsertError(
                    "Expecting at least one point for series '%s'." % name)
            tp = existing.get(name)
            for pt in points:
                if not isinstance(pt, (list, tuple)) or len(pt) != 2:
                    raise InsertError(
                        "Expecting an array with a timestamp and value.")
                ts, val = pt[0], pt[1]
                if tp is None:
                    row = point_row(name, ts, val, self._seq)
                    tp = row[6]
                else:
                    # reference coerces mismatched values into the
                    # series' existing type instead of rejecting them
                    # (siridb_series_ensure_type, series.c:1141-1219)
                    infer_tp(val)  # still reject bool/None/objects
                    row = point_row(
                        name, ts, coerce_value(tp, val), self._seq, tp)
                self._seq += 1
                rows.append(row)
                n += 1
        # expiration at ingest (ref shards.c:277 + itest
        # test_expiration.py: a point landing in an already-expired
        # shard is never written, so an all-expired insert leaves no
        # series behind); n still counts submitted points, as the
        # reference's success message does
        rows = self._drop_expired_rows(rows)
        if rows:
            self._append(rows)
        # heartbeat analogue (heartbeat.c:62 →
        # siridb_update_shard_expiration): previously-valid shards that
        # crossed the cutoff are dropped on the next ingest
        if self.expiration_num or self.expiration_log:
            self._apply_expiration()
        return {"success_msg": f"Successfully inserted {n} point(s)."}

    def _apply_auto_duration(self, rows: list):
        """Derive shard durations from the first batch's median
        point interval (per kind, using the batch's largest series —
        the reference samples the points being flushed,
        shards.c:281-289); undetected/irregular intervals keep the
        precision defaults. Persisted immediately so every later
        opener agrees on the sid math."""
        from .sources.store import (
            duration_from_interval,
            interval_from_points,
        )

        self._auto_duration_pending = False
        # the snapshot rows carry the shard durations set here
        self._drop_snapshot()
        by_kind: dict = {}
        for r in rows:
            is_log = r[6] == TP_STRING
            by_kind.setdefault(is_log, {}).setdefault(
                r[0], []).append(r[1])
        for is_log, series in by_kind.items():
            ts = sorted(max(series.values(), key=len))
            interval = interval_from_points(ts)
            if not interval:
                continue
            dur = duration_from_interval(
                interval, self.factor,
                self.duration_num, self.duration_log)
            if is_log:
                self.duration_log = dur
                self.store.duration_log = dur
            else:
                self.duration_num = dur
                self.store.duration_num = dur
        self.store.persist_durations()

    def _drop_expired_rows(self, rows: list) -> list:
        if not (self.expiration_num or self.expiration_log):
            return rows
        now = TE.now_ts(self.precision)
        keep = []
        for r in rows:
            is_str = r[6] == TP_STRING
            exp = self.expiration_log if is_str else self.expiration_num
            if exp:
                dur = self.duration_log if is_str else self.duration_num
                cutoff_sid = (now - exp) - (now - exp) % dur
                if r[1] - r[1] % dur < cutoff_sid:
                    continue
            keep.append(r)
        return keep

    def _private_store(self) -> PointsStore:
        """A store in a fresh temporary directory, removed at exit."""
        path = os.path.join(tempfile.gettempdir(),
                            f"sparksiri-{uuid.uuid4().hex}")
        _PRIVATE_DIRS.append(path)
        return PointsStore(path, self.duration_num, self.duration_log)

    def _own_store(self) -> PointsStore:
        """The store every mutation goes through. A from_points()
        engine first copies its frame into a private store and reads
        from there on."""
        if self.store is None:
            store = self._private_store()
            store.append_df(self._base_df)
            self.store, self._base_df = store, None
            self._invalidate()
        return self.store

    def _append(self, rows: list):
        """Append an insert's rows and fold them into the driver
        catalog snapshot instead of dropping it — the reference
        updates its live series structs in place on every insert
        (siridb_series_add_point, series.c:131-178). A store-backed
        snapshot is kept only when the catalog files after the append
        are exactly the ones it reflected plus this append's delta
        files (carried through an insert-triggered compaction by
        :meth:`_rekey`); a foreign appender, a stale pending marker
        or a failed append drop it, and the next read reloads it
        from the files."""
        self._drop_frames()
        store = self._own_store()
        try:
            if self._auto_duration_pending:
                self._apply_auto_duration(rows)
            res = store.append_local(self.spark, rows)
        except BaseException:
            self._drop_snapshot()
            raise
        if self._local_files is None or not self._rekey(
                self._local_files | res["delta"], res["compaction"]):
            self._drop_snapshot()
            return
        self._fold_snapshot(res["stats"].items())

    def _rekey(self, want: frozenset, compaction) -> bool:
        """Point the snapshot at the catalog files it reflects now:
        ``want`` (its files plus this engine's own delta writes),
        carried through a ``_compact_catalog`` whose input was exactly
        ``want`` — compaction changes the files, never the logical
        catalog. False when the catalog on disk is anything else."""
        if compaction is not None:
            folded_from, left = compaction
            if folded_from != want:
                return False
            want = left
        if self.store.catalog_files() != want:
            return False
        self._local_files = want
        return True

    def _drop_frames(self):
        """Forget the Spark frames derived from the data (rebuilt
        lazily); the driver snapshot is kept."""
        self._catalog = None

    def _drop_snapshot(self):
        self._local_raw = self._local_cat = self._local_files = None

    def _invalidate(self):
        self._drop_frames()
        self._drop_snapshot()

    # ------------------------------------------------- catalog snapshot
    def _catalog_local(self) -> dict:
        """Driver-held catalog snapshot — the one catalog ``query()``
        reads: list/count/skip-points statements, the type pre-flight
        of inserts, drops, tagging and the seeds of selects
        (plans/fastpath.py). The store's catalog parquet is folded
        with pyarrow (no Spark job); an unmutated ``from_points``
        engine folds one collected per-series aggregate of its frame.
        Loaded once and then kept current by the engine's own inserts
        (:meth:`_append`)."""
        if self._local_cat is not None:
            return self._local_cat
        files = None
        if self.store is not None:
            raw, files = self._read_store_catalog()
        else:
            agg = PointsStore._batch_stats(self._base_df).toArrow()
            raw = merge_stats({}, catalog_stats(agg.to_pydict()))
        self._local_raw, self._local_files = raw, files
        self._local_cat = {name: self._catalog_row(name, st)
                           for name, st in raw.items()}
        return self._local_cat

    def _read_store_catalog(self) -> tuple:
        """``(stats, files)`` of the store's catalog, read with
        pyarrow. A stale pending marker (crashed append) first runs
        the store's one-time Spark repair (``repair_catalog``); a
        listed file that a racing compaction removed means listing
        again."""
        while True:
            files = self.store.catalog_files()
            raw = None if files is None \
                else self.store.read_catalog_local(files)
            if raw is not None:
                return raw, files
            if files is None:
                self.store.repair_catalog(self.spark)

    def _fold_snapshot(self, stats):
        """Fold ``(name, stats)`` pairs of new points into the
        snapshot, if one is held (store.merge_stats — the same fold
        a reload applies to the catalog files)."""
        if self._local_raw is None:
            return
        stats = list(stats)
        merge_stats(self._local_raw, stats)
        for name in {name for name, _ in stats}:
            self._local_cat[name] = self._catalog_row(
                name, self._local_raw[name])

    def _catalog_row(self, name: str, stats: tuple) -> dict:
        ln, st, en, tp, fst, lst = stats
        return {
            "name": name,
            "type": TP_NAMES[tp],
            "length": ln, "start": st, "end": en,
            "pool": 0,
            "shard_duration": (self.duration_log if tp == TP_STRING
                               else self.duration_num),
            "tp": tp,
            # typed first/last values (skip-points first()/last())
            "first": fst[1] if tp == TP_INT
            else fst[2] if tp == TP_DOUBLE else fst[3],
            "last": lst[1] if tp == TP_INT
            else lst[2] if tp == TP_DOUBLE else lst[3],
        }

    def _entity_rows(self, entity: str) -> list:
        """Driver-side rows for the non-series entities — they all
        live in driver structures already (groups/tags/users are
        dicts, servers is this process, pools is the single pool).
        Group/pool series counts come from the catalog snapshot.
        Returns row dicts that carry BOTH display values and the
        hidden where-comparison twins (e.g. users' access_bits)."""
        if entity == "groups":
            cat = self._catalog_local()
            import re as _re
            rows = []
            for name, (pat, ci) in sorted(self.groups.items()):
                rx = _re.compile(P.anchored_regex(pat, ci))
                n = sum(1 for s in cat if rx.search(s))
                rows.append({"name": name, "expression": pat,
                             "series": n})
            return rows
        if entity == "tags":
            return [{"name": name, "series": len(members)}
                    for name, members in sorted(self.tags.items())]
        if entity == "users":
            return [{"name": name,
                     "access": ACL.access_to_str(u["access"]),
                     "access_bits": u["access"]}
                    for name, u in sorted(self.users.items())]
        if entity == "servers":
            status = "running (backup mode)" if self.backup_mode \
                else "running"
            return [{"name": self.server_name, "pool": 0,
                     "version": __version__, "online": True,
                     "status": status, "log_level": self.log_level}]
        if entity == "pools":
            # a database without series lists no pool
            n = len(self._catalog_local())
            return [{"pool": 0, "servers": 1, "series": n}] if n else []
        if entity == "shards":
            return self._shard_rows()
        raise QueryError(f"Cannot list '{entity}'.")

    def _shard_rows(self) -> list:
        """Shard rows, without a Spark job where the stats are at
        hand: the store's parquet FOOTER statistics (row counts + ts
        min/max — the stats the reference keeps on its shard structs,
        shard.h). An unmutated ``from_points`` engine, and a store
        whose footers lack the stats, aggregate the points
        (:meth:`_shards_df`)."""
        stats = None if self.store is None \
            else self.store.shard_stats_local()
        if stats is None:
            return sorted((r.asDict() for r in self._shards_df().collect()),
                          key=lambda r: (r["sid"], r["type"]))
        return [{"sid": s["sid"], "pool": 0, "server": "sparksiri:0",
                 "size": s["points"] * 16, "start": s["start"],
                 "end": s["end"],
                 "type": "log" if s["kind"] == "log" else "number",
                 "status": "ok"} for s in stats]

    def _selected(self, match, where) -> list:
        """Matched+filtered catalog rows (sorted by name) from the
        driver snapshot."""
        cat = self._catalog_local()
        from .plans import fastpath as FP
        pred = FP.match_fn(match, self.groups, self.tags) \
            if match is not None else (lambda s: True)
        wpred = FP.where_fn(where) if where is not None else None
        out = []
        for name in sorted(cat):
            if not pred(name):
                continue
            row = cat[name]
            if wpred is not None and not wpred(row):
                continue
            out.append(row)
        return out

    # -------------------------------------------------------------- frames
    def points_df(self) -> DataFrame:
        """The points (series, ts, seq, typed vals, tp): a lazy scan of
        the store, or an unmutated ``from_points`` engine's frame."""
        if self.store is None:
            return self._base_df
        return self.store.read(self.spark).drop("_sid")

    def register_views(self, prefix: str = "siri_") -> None:
        """Expose the engine's frames to plain Spark SQL as temp
        views: ``<prefix>points`` (series, ts, seq, typed vals) and
        ``<prefix>series`` (the catalog). SiriDB-language users query
        through :meth:`query`/:meth:`select_df`; Spark-native users
        can then ``spark.sql("SELECT ... FROM siri_points ...")`` over
        the same storage — both read the identical store-backed scans
        (partition pruning included), so the two surfaces can't
        drift."""
        self.points_df().createOrReplaceTempView(f"{prefix}points")
        self.catalog_df().createOrReplaceTempView(f"{prefix}series")

    def _points_for_select(self) -> DataFrame:
        """Points frame for select: keeps the shard-id partition column
        when store-backed so time ranges become PartitionFilters."""
        if self.store is None:
            return self._base_df
        return self.store.read(self.spark)

    def catalog_df(self) -> DataFrame:
        """Series catalog (name, type, length, start, end, pool,
        shard_duration). A store-backed engine uploads the rows of the
        driver snapshot (:meth:`_catalog_local` — the analogue of the
        reference's live series structs, series.h:54-72); an
        unmutated ``from_points`` engine derives it lazily with one
        groupBy over its frame, never cached: a cached frame outlives
        its engine. Kept until the next insert/drop."""
        if self._catalog is None:
            if self.store is None:
                stats = (
                    self.points_df()
                    .groupBy(F.col("series").alias("name"))
                    .agg(
                        F.count(F.lit(1)).alias("length"),
                        F.min("ts").alias("start"),
                        F.max("ts").alias("end"),
                        F.max("tp").alias("tp"),
                    ))
                self._catalog = stats.select(
                    "name",
                    F.when(F.col("tp") == TP_INT, "integer")
                    .when(F.col("tp") == TP_DOUBLE, "float")
                    .otherwise("string").alias("type"),
                    "length", "start", "end",
                    F.lit(0).alias("pool"),
                    F.when(F.col("tp") == TP_STRING, self.duration_log)
                    .otherwise(self.duration_num).cast("long")
                    .alias("shard_duration"),
                )
            else:
                cols = ("name", "type", "length", "start", "end",
                        "pool", "shard_duration")
                self._catalog = arrow_df(
                    self.spark,
                    [tuple(r[c] for c in cols)
                     for r in self._catalog_local().values()],
                    "name string, type string, length long, "
                    "start long, end long, pool int, "
                    "shard_duration long")
        return self._catalog

    # --------------------------------------------------------------- query
    def _tzinfo(self):
        """Database timezone for ISO-8601 date strings (ref
        query.c:916-945; 'NAIVE' behaves as UTC here). Set only to
        zones ``alter database set timezone`` validated."""
        if self.timezone in ("NAIVE", "UTC"):
            return None
        return ZoneInfo(self.timezone)

    def query(self, q: str) -> dict:
        return self.query_kinded(q)[1]

    def query_kinded(self, q: str):
        """Like :meth:`query`, but returns ``(stmt, result)`` so
        callers (the HTTP layer) can branch on the statement kind —
        e.g. the reference's 't' precision conversion applies only to
        select points and calc values (listener.c:6712, 2148-2157),
        never to list rows."""
        t0 = _time.perf_counter()
        parsed = Parser(q, self.precision, tzinfo=self._tzinfo()).parse()
        stmt = parsed.stmt
        result = self._dispatch(stmt)
        if parsed.timeit:
            result = dict(result)
            entry = {"server": "sparksiri:0",
                     "time": _time.perf_counter() - t0}
            if isinstance(stmt, N.SelectStmt):
                entry["path"] = self._select_path
            result["__timeit__"] = [entry]
        return stmt, result

    # statement → required privilege bit (ref listener.c enter_*
    # access checks via MASTER_CHECK_ACCESSIBLE, listener.c:433)
    _ACCESS_NEEDED = (
        (N.SelectStmt, ACL.SELECT),
        (N.ListStmt, ACL.LIST),
        (N.CountStmt, ACL.COUNT),
        (N.ShowStmt, ACL.SHOW),
        (N.CreateGroup, ACL.CREATE),
        (N.CreateUser, ACL.CREATE),
        (N.DropStmt, ACL.DROP),
        (N.AlterDatabase, ACL.ALTER),
        (N.AlterSeries, ACL.ALTER),
        (N.AlterGroup, ACL.ALTER),
        (N.AlterTag, ACL.ALTER),
        (N.AlterUser, ACL.ALTER),
        (N.AlterServer, ACL.ALTER),
        (N.AlterServers, ACL.ALTER),
        (N.GrantStmt, ACL.GRANT),
        (N.RevokeStmt, ACL.REVOKE),
    )

    def _check_access(self, needed: int):
        user = self.users.get(self.session_user)
        have = user["access"] if user else 0
        ACL.check_access(self.session_user, have, needed)

    def _dispatch(self, stmt) -> dict:
        for klass, bit in self._ACCESS_NEEDED:
            if isinstance(stmt, klass):
                self._check_access(bit)
                break
        if isinstance(stmt, N.SelectStmt):
            return self._select(stmt)
        if isinstance(stmt, N.ListStmt):
            return self._list(stmt)
        if isinstance(stmt, N.CountStmt):
            return self._count(stmt)
        if isinstance(stmt, N.ShowStmt):
            return self._show(stmt)
        if isinstance(stmt, N.CalcStmt):
            return {"calc": stmt.value}
        if isinstance(stmt, N.CreateGroup):
            return self._create_group(stmt)
        if isinstance(stmt, N.CreateUser):
            return self._create_user(stmt)
        if isinstance(stmt, N.DropStmt):
            return self._drop(stmt)
        if isinstance(stmt, N.AlterDatabase):
            return self._alter_database(stmt)
        if isinstance(stmt, N.AlterSeries):
            return self._alter_series(stmt)
        if isinstance(stmt, N.AlterGroup):
            return self._alter_group(stmt)
        if isinstance(stmt, N.AlterTag):
            return self._alter_tag(stmt)
        if isinstance(stmt, N.AlterUser):
            return self._alter_user(stmt)
        if isinstance(stmt, N.AlterServer):
            return self._alter_server(stmt)
        if isinstance(stmt, N.AlterServers):
            return self._alter_servers(stmt)
        if isinstance(stmt, N.GrantStmt):
            return self._grant(stmt)
        if isinstance(stmt, N.RevokeStmt):
            return self._revoke(stmt)
        if isinstance(stmt, N.HelpStmt):
            try:
                return {"help": HELP.help_text(stmt.topic)}
            except KeyError:
                raise QueryError(
                    f"Cannot find help about '{stmt.topic}'. Use "
                    "'help' to see a list of all available topics."
                ) from None
        raise QueryError("Unsupported statement.")

    # -------------------------------------------------------------- select
    def _selected_catalog(self, match, where) -> DataFrame:
        pred = compile_match(match, self.groups, self.tags,
                             col=F.col("name"))
        cat = self.catalog_df().where(pred)
        if where is not None:
            cat = cat.where(compile_where(where))
        return cat

    def select_df(self, q: str) -> DataFrame:
        """Compile a select statement to its result DataFrame without
        collecting (the distributed API; ``query`` collects to the
        reference's dict shape)."""
        parsed = Parser(q, self.precision, tzinfo=self._tzinfo()).parse()
        if not isinstance(parsed.stmt, N.SelectStmt):
            raise QueryError("select_df() requires a select statement.")
        self._check_access(ACL.SELECT)
        # need_seeds=False: the frame carries no seed rows; a store
        # engine plans from its driver snapshot, an unmutated
        # from_points engine from a 1-row aggregation of its frame
        out_df, _seeds = self._select_plan(parsed.stmt,
                                           need_seeds=False)
        return out_df

    def _select(self, stmt: N.SelectStmt) -> dict:
        """A select's reply from the first path that serves it: the
        catalog snapshot, the driver-side Arrow executor
        (plans/arrowpath.py), else a Spark plan. The path is counted
        in ``select_paths`` and kept for ``timeit``."""
        out, path = self._fast_select_dict(stmt), "catalog"
        if out is None:
            out, path = AP.select(self, stmt), "arrow"
        if out is None:
            out_df, seeds = self._select_plan(stmt)
            out, path = self._collect(out_df, seeds), "spark"
        self.select_paths[path] += 1
        self._select_path = path
        return out

    def _select_plan(self, stmt: N.SelectStmt, need_seeds: bool = True):
        """The result frame of a select and its seed names. ``query()``
        (``need_seeds``) and every ``select_df()`` of a store-backed
        engine plan from the driver snapshot: the names, type set and
        points bound of the selected series (``query()`` also seeds
        its reply with the names, which it keys per series).
        ``select_df()`` on an unmutated ``from_points`` engine plans
        from Spark frames and never ships the names to the driver."""
        # where-selected names, shared by the points path and the
        # rollup path of every pipeline
        names = None
        # the skip-points plan answers FROM the catalog — keep the
        # catalog route for it (the one-pass branch would add a
        # points pass the skip path exists to avoid)
        skippable = not need_seeds \
            and self._skippable_agg(stmt) is not None
        if need_seeds or self.store is not None:
            sel = self._selected(stmt.match, stmt.where)
            sel_names = [r["name"] for r in sel]
            tps = frozenset(r["tp"] for r in sel)
            total_points = sum(r["length"] for r in sel)
            n_sel = len(sel_names)
            if stmt.where is not None:
                names = arrow_df(self.spark, [(nm,) for nm in sel_names],
                                 "series string")
            if not need_seeds:
                sel_names = []
        elif stmt.where is None and not skippable:
            # select_df() on an unmutated from_points engine with no
            # metadata where: the plan only needs the type set and
            # the points-limit bound — ONE partial-aggregated pass
            # over the matched points (collect_set over ≤3 tp values
            # + a count fold map-side to one row per task), instead
            # of building and caching the per-series catalog
            # (groupBy(series) shuffle) just to re-aggregate it to
            # one row. n_sel stays unknown (0): it only TIGHTENED
            # the head/tail points bound — the exact-count guard
            # below keeps the same errors either way.
            pred = compile_match(stmt.match, self.groups, self.tags)
            agg = (self.points_df().where(pred)
                   .agg(F.collect_set("tp").alias("tps"),
                        F.count(F.lit(1)).alias("total"))
                   .collect()[0])
            tps = frozenset(int(t) for t in agg["tps"])
            total_points = agg["total"] or 0
            sel_names = []
            n_sel = 0
        else:
            # select_df() on an unmutated from_points engine: the plan
            # only needs the type set, the points-limit bound, and the
            # series count — one tiny aggregation row, never
            # O(|series|) on the driver
            cat = self._selected_catalog(stmt.match, stmt.where)
            if stmt.where is not None:
                names = cat.select(F.col("name").alias("series"))
            tp_of = {v: k for k, v in TP_NAMES.items()}
            agg = cat.agg(
                F.collect_set("type").alias("tps"),
                F.sum("length").alias("total"),
                F.count(F.lit(1)).alias("n")).collect()[0]
            tps = frozenset(tp_of[t] for t in agg["tps"])
            total_points = agg["total"] or 0
            sel_names = []
            n_sel = agg["n"]
        if not tps:
            return self.points_df().limit(0), []
        types = TypeSet(tps)

        if skippable:
            fast = self._skip_points_plan(stmt)
            if fast is not None:
                return fast, []

        roll_ctx: dict = {} if names is None else {"names": names}

        # the points frame is built on first use only: a select whose
        # every pipeline the rollup serves never lists the store or
        # infers the points schema
        @functools.cache
        def points() -> DataFrame:
            return self._select_points(stmt, names)

        tr = stmt.timerange
        if tr is not None and tr[0] in ("head", "tail") and n_sel:
            # unknown (0) on the one-pass stats path: skipping the
            # tightener only risks one extra exact count below, never
            # a missed error
            total_points = min(total_points, tr[1] * n_sel)

        # select-points guardrail (db.h:16, listener.c:5598-5610):
        # catalog bound first; exact count only when the bound trips.
        if total_points > self.select_points_limit:
            n = points().count()
            if n > self.select_points_limit:
                raise QueryError(
                    "Query has reached the maximum number of selected "
                    f"points ({self.select_points_limit}). Please use "
                    "another time window, an aggregation function or "
                    "select less series to reduce the number of points.")

        if len(stmt.pipelines) > 1:
            presuf = {(p.prefix or "", p.suffix or "")
                      for p in stmt.pipelines}
            if len(presuf) != len(stmt.pipelines):
                raise QueryError(
                    "When using multiple select methods, add a prefix "
                    "and/or suffix to the selection to make them unique.")

        merge = stmt.merge
        if merge is not None and merge.name == "":
            raise QueryError(
                "Error while merging points. Make sure the destination "
                "series name is valid.")

        results = []
        checks = []
        for pl in stmt.pipelines:
            res = self._rollup_pipeline(pl, stmt, types, roll_ctx)
            if res is None:
                res = self._run_pipeline(points(), pl.funcs, types)
            out, rtypes = res.df, res.types
            checks.extend(res.checks)
            if merge is not None:
                # merge semantics (points.c:338-453): per-pipeline k-way
                # union into ONE series named prefix+merge_name+suffix;
                # int+double → double; string+number → error. The merge
                # algorithm choice of the reference (points.c:439-450) is
                # irrelevant — Spark re-sorts/shuffles.
                if TP_STRING in rtypes.tps and (
                        rtypes.tps & {TP_INT, TP_DOUBLE}):
                    raise QueryError(
                        "Cannot merge string and number series.")
                mname = (pl.prefix or "") + merge.name + (pl.suffix or "")
                out = out.withColumn("series", F.lit(mname))
                if rtypes.tps == {TP_INT, TP_DOUBLE}:
                    out = out.select(
                        "series", "ts", "seq",
                        F.lit(None).cast("long").alias("val_int"),
                        F.coalesce(F.col("val_dbl"),
                                   F.col("val_int").cast("double"))
                        .alias("val_dbl"),
                        "val_str", F.lit(TP_DOUBLE).alias("tp"))
                    rtypes = TypeSet(frozenset({TP_DOUBLE}))
            elif pl.prefix or pl.suffix:
                out = out.withColumn(
                    "series",
                    F.concat(F.lit(pl.prefix or ""), F.col("series"),
                             F.lit(pl.suffix or "")))
            results.append((out, rtypes))

        uni = results[0][0]
        for extra, _ in results[1:]:
            uni = uni.unionByName(extra)

        if merge is not None and merge.using:
            mtypes = TypeSet(frozenset().union(
                *(t.tps for _, t in results)))
            res = self._run_pipeline(uni, merge.using, mtypes)
            uni = res.df
            checks.extend(res.checks)

        for chk in checks:
            chk.run()

        # every selected series appears in the result, even when its
        # pipeline produced no points (e.g. difference() on 1 point)
        seeds = []
        for pl in stmt.pipelines:
            if merge is not None:
                seeds.append((pl.prefix or "") + merge.name
                             + (pl.suffix or ""))
            elif need_seeds:
                seeds.extend((pl.prefix or "") + nm + (pl.suffix or "")
                             for nm in sel_names)

        return uni, seeds

    def _select_points(self, stmt: N.SelectStmt, names) -> DataFrame:
        """The points a select reads: the matched series (semi-joined
        to the where-selected ``names`` frame when the select has a
        ``where``), restricted to its time range or head/tail."""
        df = self._points_for_select()
        pred = compile_match(stmt.match, self.groups, self.tags)
        df = df.where(pred)
        if names is not None:
            df = df.join(F.broadcast(names), "series", "semi")

        # time range (ref listener.c:1955-2129: after ⇒ ts>=t,
        # before ⇒ ts<t, between ⇒ a<=ts<b) and head/tail.
        # Store-backed frames carry the shard-id partition column:
        # derive sid bounds so the scan prunes whole shard directories
        # (the analogue of the reference's shard skipping,
        # series.c:927-938).
        # Shard ids are trunc-mod (``ts - ts % dur``): a negative ts
        # lands in a shard id at or above it, up to 0, so an upper
        # bound below 1 prunes with 1.
        has_sid = "_sid" in df.columns
        maxdur = max(self.duration_num, self.duration_log)
        tr = stmt.timerange
        if tr is not None:
            kind = tr[0]
            if kind == "after":
                df = df.where(f"ts >= {tr[1]}")
                if has_sid:
                    df = df.where(f"_sid > {tr[1] - maxdur}")
            elif kind == "before":
                df = df.where(f"ts < {tr[1]}")
                if has_sid:
                    df = df.where(f"_sid < {max(tr[1], 1)}")
            elif kind == "between":
                df = df.where(f"(ts >= {tr[1]}) AND (ts < {tr[2]})")
                if has_sid:
                    df = df.where(f"(_sid > {tr[1] - maxdur})"
                                  f" AND (_sid < {max(tr[2], 1)})")
            elif kind in ("head", "tail"):
                order = [F.col("ts"), F.col("seq")] if kind == "head" else \
                    [F.col("ts").desc(), F.col("seq").desc()]
                w = Window.partitionBy("series").orderBy(*order)
                df = (df.withColumn("_rn", F.row_number().over(w))
                      .where(F.col("_rn") <= tr[1]).drop("_rn"))
        if has_sid:
            df = df.drop("_sid")
        return df

    def _fast_select_dict(self, stmt: N.SelectStmt):
        """Zero-Spark-job twin of :meth:`_skip_points_plan` for the
        collecting ``query()`` path: a skip-points ``count()`` /
        ``first()`` / ``last()`` is answered straight from the driver
        catalog snapshot (which carries the typed first/last values)
        — the reference's sub-ms metadata answer
        (listener.c:5447-5586), which a ~0.2 s Spark job floor would
        otherwise bury."""
        f = self._skippable_agg(stmt)
        if f is None:
            return None
        pl = stmt.pipelines[0]
        sel = self._selected(stmt.match, stmt.where)
        pre, suf = pl.prefix or "", pl.suffix or ""
        if f.name == "count":
            return {f"{pre}{r['name']}{suf}":
                    [[r["end"], r["length"]]] for r in sel}
        if any(r.get("first") is None or r.get("last") is None
               for r in sel):
            # a series with mixed tp (possible only via the raw
            # datasource sink or a wrapped frame, which do not
            # coerce): the points pipeline decides
            return None
        # to-one label: last point's ts, first's ts for first()
        # (aggregate.c:1110-1112)
        if f.name == "first":
            return {f"{pre}{r['name']}{suf}":
                    [[r["start"], r["first"]]] for r in sel}
        return {f"{pre}{r['name']}{suf}":
                [[r["end"], r["last"]]] for r in sel}

    def _skippable_agg(self, stmt: N.SelectStmt):
        """The shared skip-points condition (aggregate.c:495-510):
        single pipeline, one bare unbucketed count()/first()/last(),
        no time range, no merge. Returns the AggFunc or None."""
        if stmt.merge is not None or stmt.timerange is not None \
                or len(stmt.pipelines) != 1:
            return None
        pl = stmt.pipelines[0]
        funcs = [f for f in pl.funcs
                 if not isinstance(f, N.AllPointsFunc)]
        if len(funcs) != 1 or not isinstance(funcs[0], N.AggFunc):
            return None
        f = funcs[0]
        if f.name not in ("count", "first", "last") \
                or f.group_by is not None:
            return None
        return f

    def _skip_points_plan(self, stmt: N.SelectStmt):
        """Skip-get-points fast path (ref siridb_aggregate_can_skip,
        aggregate.c:495-510 + async_no_points_aggregate,
        listener.c:5447-5586): ``count()`` with no bucket, no time
        range and no merge is answered from the catalog — the points
        table is never scanned. Returns the result DataFrame or None."""
        f = self._skippable_agg(stmt)
        if f is None or f.name != "count":
            # first()/last() need the value columns, which the Spark
            # catalog frame doesn't carry — only the count shortcut
            # applies on the distributed path (the dict path answers
            # all three from the snapshot)
            return None
        pl = stmt.pipelines[0]
        cat = self._selected_catalog(stmt.match, stmt.where)
        name = F.col("name")
        if pl.prefix or pl.suffix:
            name = F.concat(F.lit(pl.prefix or ""), name,
                            F.lit(pl.suffix or ""))
        return cat.select(
            name.alias("series"),
            F.col("end").alias("ts"),
            F.lit(0).cast("long").alias("seq"),
            F.col("length").cast("long").alias("val_int"),
            F.lit(None).cast("double").alias("val_dbl"),
            F.lit(None).cast("string").alias("val_str"),
            F.lit(TP_INT).alias("tp"),
        )

    def _run_pipeline(self, df: DataFrame, funcs: list,
                      types: TypeSet) -> StageResult:
        """Apply chained `=>` functions left-to-right per series
        (ref listener.c:5676-5695)."""
        checks = []
        for f in funcs:
            if isinstance(f, N.AllPointsFunc):
                continue
            if isinstance(f, N.AggFunc):
                if f.group_by is not None:
                    res = P.apply_bucket_agg(df, f.name, f.group_by,
                                             f.offset, types)
                else:
                    res = P.apply_to_one(df, f.name, types)
            elif isinstance(f, N.DifferenceFunc):
                if f.group_by is not None:
                    res = P.apply_bucket_agg(df, "difference", f.group_by,
                                             f.offset, types)
                else:
                    res = P.apply_difference(df, types)
            elif isinstance(f, N.DerivativeFunc):
                if f.group_by is not None:
                    res = P.apply_bucket_agg(df, "derivative", f.group_by,
                                             f.offset, types,
                                             timespan=f.timespan)
                else:
                    res = P.apply_derivative(df, f.timespan, types)
            elif isinstance(f, N.FilterFunc):
                res = P.apply_filter(df, f, types)
            elif isinstance(f, N.LimitFunc):
                res = P.apply_limit(df, f.limit, f.agg, types)
            elif isinstance(f, N.TimevalFunc):
                res = P.apply_timeval(df, types)
            elif isinstance(f, N.IntervalFunc):
                res = P.apply_interval(df, types)
            else:
                raise AssertionError(type(f))
            df, types = res.df, res.types
            checks.extend(res.checks)
        return StageResult(df, types, checks)

    def enable_rollup(self, bucket: int) -> dict:
        """Build (or refresh) the store's materialized bucket rollup
        and serve eligible bucketed aggregates from it — the classic
        TSDB continuous-aggregate: query-time work becomes
        O(|series| x |buckets|) instead of O(|points|). The rollup
        bucket must divide the shard duration (buckets then never
        span shards); eligible selects are single-pipeline
        count/sum/mean/min/max/first/last with a bucket that is a
        multiple of the rollup bucket, with or without a time range
        (interior buckets from partials, the ≤2 cut edge buckets
        from a pruned point read). Everything else — and
        every shard whose files changed since the build — reads
        points exactly as before, so answers are identical either
        way (tests/test_rollup.py asserts equality). An unmutated
        ``from_points`` engine has no store and refuses."""
        if self.store is None:
            raise QueryError("rollups need a store-backed engine")
        return self.store.build_rollup(self.spark, bucket)

    #: aggregates served from rollup partials, with their type
    #: preconditions (strings fall back so errors match). Double
    #: sum/mean serve since the points path and the compose path
    #: share the stable_double_sum decimal fold (pipeline.py) —
    #: bit-identical by construction, non-finite classes included.
    def _rollup_servable(self, name: str, types) -> bool:
        if name in ("count", "first", "last"):
            return True    # type-kept / typed, all series types
        if name in ("min", "max", "sum", "mean"):
            return TP_STRING not in types.tps
        return False

    @staticmethod
    def _rollup_edge_ranges(t0, t1, B: int):
        """The ≤2 closed ts intervals of rollup buckets the range
        [t0, t1) cuts through (right-closed buckets (R−B, R]). An
        aligned boundary produces no edge; overlapping/equal low and
        high edge buckets collapse to one interval."""
        edges = []
        lo_r = None
        if t0 is not None:
            # bucket containing t0: label R = ceil(t0/B)·B
            lo_r = -(-t0 // B) * B
            if lo_r - B + 1 < t0:    # misaligned: bucket cut at t0
                hi = lo_r if t1 is None else min(lo_r, t1 - 1)
                if t0 <= hi:
                    edges.append((t0, hi))
        if t1 is not None:
            hi_r = -(-(t1 - 1) // B) * B
            # skip the high edge only when the LOW edge was actually
            # appended for this same bucket (it then already covers
            # [t0, t1-1]); an aligned start emits no low edge, so a
            # same-bucket cut end still needs its high edge
            if hi_r > t1 - 1 and not (edges and lo_r == hi_r):
                lo = hi_r - B + 1 if t0 is None \
                    else max(hi_r - B + 1, t0)
                if lo <= t1 - 1:
                    edges.append((lo, t1 - 1))
        return edges

    def _rollup_edge_points(self, valid_keys: list, edges: list):
        """Points frame for edge-bucket re-aggregation: only the
        covered ("kind:sid") shards whose [sid, sid+duration) window
        intersects one of the edge intervals are read — at most a
        handful of directories regardless of store size."""
        keys = []
        for key in valid_keys or []:
            kind, sid = key.split(":", 1)
            sid = int(sid)
            dur = self.store.duration_log if kind == "log" \
                else self.store.duration_num
            for lo, hi in edges:
                if sid <= hi and sid + dur > lo:
                    keys.append(key)
                    break
        if not keys:
            return None
        return self.store.read_points_of(self.spark, keys)

    @staticmethod
    def _rollup_range(tr):
        """Normalize a select time range to half-open [t0, t1)
        bounds (None = open side), or ``()`` when no range, or None
        when the range kind can't be served from partials."""
        if tr is None:
            return ()
        kind = tr[0]
        if kind == "after":
            return (tr[1], None)
        if kind == "before":
            return (None, tr[1])
        if kind == "between":
            return (tr[1], tr[2])
        return None    # head/tail need per-series row order

    def _rollup_pipeline(self, pl, stmt, types, ctx: dict):
        """Serve one pipeline from the materialized rollup, or None
        to use the points path. Stale/new shards (files changed
        since the build) contribute their points as one-row partials
        (``P.point_partials``) — the hybrid stays exact while the
        rollup lags behind appends, and the select aggregates once,
        in the compose, whatever mix of data it reads. ``ctx`` memoizes
        the rollup read (a driver-side shard listing + parquet scan)
        across the pipelines of one select and carries the
        where-selected ``names`` frame, set whenever the select has a
        ``where``.

        Time ranges (after/before/between) are served too: rollup
        buckets are right-closed (R−B, R], so a bucket lies entirely
        inside [t0, t1) iff R ≥ t0+B−1 and R ≤ t1−1 — those come
        from partials untouched; the ≤2 EDGE buckets the range cuts
        through enter as one-row partials from a point read pruned to
        exactly the shards and timestamps of those buckets (the
        two-sided analogue of the reference's shard skipping). A
        range aligned to bucket boundaries therefore reads no points
        at all from covered shards."""
        rng = self._rollup_range(stmt.timerange)
        if (self.store is None or not self.rollup_enabled
                or rng is None):
            return None
        if len(pl.funcs) != 1:
            return None
        f = pl.funcs[0]
        if not isinstance(f, N.AggFunc) or f.group_by is None \
                or not isinstance(f.group_by, int) or f.offset:
            return None
        if f.name not in P.ROLLUP_FNS \
                or not self._rollup_servable(f.name, types):
            return None
        if "roll" not in ctx:
            ctx["roll"] = self.store.read_rollup(self.spark)
        roll = ctx["roll"]
        if roll is None or f.group_by % roll["bucket"] != 0:
            return None
        B = roll["bucket"]
        t0, t1 = rng if rng else (None, None)
        parts = []
        if roll["partials"] is not None:
            pre = roll["partials"]
            # interior buckets only — edges re-read below
            if t0 is not None:
                pre = pre.where(f"rbucket >= {t0 + B - 1}")
            if t1 is not None:
                pre = pre.where(f"rbucket <= {t1 - 1}")
            parts.append(pre)
            edges = self._rollup_edge_ranges(t0, t1, B)
            if edges:
                epts = self._rollup_edge_points(roll["valid"], edges)
                if epts is not None:
                    cond = " OR ".join(f"((ts >= {lo}) AND (ts <= {hi}))"
                                       for lo, hi in edges)
                    parts.append(P.point_partials(epts.where(cond), B))
        if roll["stale"]:
            live = self.store.read_points_of(self.spark,
                                             roll["stale"])
            if live is not None:
                # stale shards' points enter the compose as they
                # are: filter to the range first and every bucket
                # (edge or interior) comes out exact
                if t0 is not None:
                    live = live.where(f"ts >= {t0}")
                if t1 is not None:
                    live = live.where(f"ts < {t1}")
                parts.append(P.point_partials(live, B))
        if not parts:
            return None
        partials = parts[0]
        for extra in parts[1:]:
            partials = partials.unionByName(extra)
        pred = compile_match(stmt.match, self.groups, self.tags)
        partials = partials.where(pred)
        if stmt.where is not None:
            partials = partials.join(F.broadcast(ctx["names"]),
                                     "series", "semi")
        return P.compose_bucket_agg(partials, f.name, f.group_by,
                                    types)

    def _collect(self, df: DataFrame, seeds: list | None = None) -> dict:
        return reply_map(df.select(*cols(*COLS)).toArrow(), seeds)

    # ------------------------------------------------------ list/count/show
    def _shards_df(self) -> DataFrame:
        """Shard-equivalents: time buckets of the points table
        (ref shards.c:273-340 — shard id = ts/duration*duration)."""
        dur_num, dur_log = self.duration_num, self.duration_log
        dur = F.when(F.col("tp") == TP_STRING, dur_log).otherwise(dur_num)
        return (
            self.points_df()
            .select((F.col("ts") - F.col("ts") % dur).alias("sid"),
                    F.when(F.col("tp") == TP_STRING, "log")
                    .otherwise("number").alias("type"), "ts")
            .groupBy("sid", "type")
            .agg(F.count(F.lit(1)).alias("points"),
                 F.min("ts").alias("start"), F.max("ts").alias("end"))
            .select("sid", F.lit(0).alias("pool"),
                    F.lit("sparksiri:0").alias("server"),
                    (F.col("points") * 16).alias("size"),
                    "start", "end", "type",
                    F.lit("ok").alias("status"))
        )

    _LIST_DEFAULT_COLS = {
        "series": ["name"],
        "groups": ["name", "series"],
        "tags": ["name", "series"],
        "users": ["name", "access"],
        "pools": ["pool", "servers", "series"],
        "servers": ["name", "pool", "version", "online", "status"],
        "shards": ["sid", "pool", "server", "size", "start", "end"],
    }

    def _apply_local_where(self, entity: str, rows: list,
                           where) -> list:
        if where is None:
            return rows
        from .plans import fastpath as FP
        pred = FP.where_fn(where)
        if entity == "users":
            # `where access < modify` compares the numeric bitmask
            # (ref cexpr int compare on user->access_bit)
            return [r for r in rows
                    if pred({**r, "access": r["access_bits"]})]
        return [r for r in rows if pred(r)]

    def _stmt_rows(self, stmt) -> list:
        """The rows a list/count statement reads: the matched and
        filtered series, or the where-filtered entity rows."""
        if stmt.entity == "series":
            return self._selected(stmt.match, stmt.where)
        return self._apply_local_where(
            stmt.entity, self._entity_rows(stmt.entity), stmt.where)

    def _list(self, stmt: N.ListStmt) -> dict:
        rows = self._stmt_rows(stmt)
        cols = stmt.columns or self._LIST_DEFAULT_COLS[stmt.entity]
        if stmt.limit is not None and (
                stmt.limit <= 0 or stmt.limit > self.list_limit):
            raise QueryError(
                "Limit must be a value between 1 and "
                f"{self.list_limit} but received: {stmt.limit}.")
        limit = stmt.limit if stmt.limit is not None else self.list_limit
        return {"columns": cols, stmt.entity: [
            [r[c] for c in cols] for r in rows[:limit]]}

    def _count(self, stmt: N.CountStmt) -> dict:
        rows = self._stmt_rows(stmt)
        if stmt.entity == "series" and stmt.variant == "length":
            return {"series_length": sum(r["length"] for r in rows)}
        if stmt.entity == "shards" and stmt.variant == "size":
            return {"shards_size": sum(r["size"] for r in rows)}
        return {stmt.entity: len(rows)}

    def _show(self, stmt: N.ShowStmt) -> dict:
        all_fields = self._show_fields()
        fields = stmt.fields or sorted(all_fields)
        data = []
        for f in fields:
            if f not in all_fields:
                raise QueryError(f"Unknown show field '{f}'.")
            data.append({"name": f, "value": all_fields[f]()})
        return {"data": data}

    def _show_fields(self) -> dict:
        eng = self
        return {
            "active_handles": lambda: 1,
            "active_tasks": lambda: 1,
            "buffer_path": lambda: "",
            "buffer_size": lambda: 1024,
            "dbname": lambda: "sparksiri",
            "dbpath": lambda: "",
            "drop_threshold": lambda: eng.drop_threshold,
            "duration_log": lambda: eng.duration_log,
            "duration_num": lambda: eng.duration_num,
            "expiration_log": lambda: eng.expiration_log,
            "expiration_num": lambda: eng.expiration_num,
            "fifo_files": lambda: 0,
            "idle_percentage": lambda: 0,
            "idle_time": lambda: 0,
            "ip_support": lambda: "ALL",
            "libuv": lambda: "spark",
            "list_limit": lambda: eng.list_limit,
            "log_level": lambda: eng.log_level,
            "max_open_files": lambda: 0,
            "mem_usage": lambda: 0,
            "open_files": lambda: 0,
            "pool": lambda: 0,
            "received_points": lambda: eng._seq,
            "reindex_progress": lambda: "finished",
            "selected_points": lambda: 0,
            "select_points_limit": lambda: eng.select_points_limit,
            "server": lambda: "sparksiri:0",
            "startup_time": lambda: 0,
            "status": lambda: "running",
            "sync_progress": lambda: "finished",
            "tee": lambda: eng.tee or "disabled",
            "time_precision": lambda: eng.precision,
            "timezone": lambda: eng.timezone,
            "uptime": lambda: int(_time.time() - eng._started),
            "uuid": lambda: "00000000-0000-0000-0000-000000000000",
            "version": lambda: __version__,
            "who_am_i": lambda: eng.session_user,
        }

    # --------------------------------------------------------- DDL-ish ops
    #: ref src/siri/db/group.c:15-16, tag.c:24-25
    _MIN_GROUP_LEN, _MAX_GROUP_LEN = 1, 255
    _MIN_TAG_LEN, _MAX_TAG_LEN = 1, 255

    def _check_group_name(self, name: str):
        """siridb_group_set_name validation (group.c:81-93)."""
        if len(name) < self._MIN_GROUP_LEN:
            raise QueryError(
                f"Group name should be at least "
                f"{self._MIN_GROUP_LEN} characters.")
        if len(name) > self._MAX_GROUP_LEN:
            raise QueryError(
                f"Group name should be at most "
                f"{self._MAX_GROUP_LEN} characters.")

    def _check_tag_name(self, name: str):
        """siridb_tag_check_name validation (tag.c:57-69)."""
        if len(name) < self._MIN_TAG_LEN:
            raise QueryError(
                f"Tag name should be at least "
                f"{self._MIN_TAG_LEN} characters.")
        if len(name) > self._MAX_TAG_LEN:
            raise QueryError(
                f"Tag name should be at most "
                f"{self._MAX_TAG_LEN} characters.")

    def _create_group(self, stmt: N.CreateGroup) -> dict:
        self._check_group_name(stmt.name)
        if stmt.name in self.groups:
            raise QueryError(f"Group '{stmt.name}' already exists.")
        self.groups[stmt.name] = (stmt.pattern, stmt.case_insensitive)
        return {"success_msg": f"Successfully created group '{stmt.name}'."}

    #: ref src/siri/db/user.c:19-22
    _MIN_USER_LEN, _MAX_USER_LEN = 2, 60
    _MIN_PASSWORD_LEN, _MAX_PASSWORD_LEN = 4, 128

    @staticmethod
    def _is_graph(s: str) -> bool:
        """C isgraph() over every char (xstr.c:228-238): printable
        ASCII excluding space — no spaces, tabs, etc."""
        return all(33 <= ord(c) <= 126 for c in s)

    def _validate_user_name(self, name: str):
        """ref siridb_user_set_name (user.c:146-178). The over-max
        message reuses the 'at least' wording with the max value —
        the reference's own sprintf does exactly that (user.c:155),
        ported bug-for-bug."""
        if len(name) < self._MIN_USER_LEN:
            raise QueryError(
                f"User name should be at least "
                f"{self._MIN_USER_LEN} characters.")
        if len(name) > self._MAX_USER_LEN:
            raise QueryError(
                f"User name should be at least "
                f"{self._MAX_USER_LEN} characters.")
        if not self._is_graph(name):
            raise QueryError(
                "User name contains illegal characters. (only"
                " graphical characters are allowed, no spaces,"
                " tabs etc.)")
        if name in self.users:
            raise QueryError(f"User '{name}' already exists.")

    def _validate_password(self, password: str):
        """ref siridb_user_set_password (user.c:82-113)."""
        if len(password) < self._MIN_PASSWORD_LEN:
            raise QueryError(
                f"Password should be at least "
                f"{self._MIN_PASSWORD_LEN} characters.")
        if len(password) > self._MAX_PASSWORD_LEN:
            raise QueryError(
                f"Password should be at most "
                f"{self._MAX_PASSWORD_LEN} characters.")
        if not self._is_graph(password):
            raise QueryError(
                "Password contains illegal characters. (only"
                " graphical characters are allowed, no spaces,"
                " tabs etc.)")

    def _create_user(self, stmt: N.CreateUser) -> dict:
        self._validate_user_name(stmt.name)
        self._validate_password(stmt.password)
        self.users[stmt.name] = {"password": stmt.password, "access": 0}
        return {"success_msg": f"Successfully created user '{stmt.name}'."}

    def _drop(self, stmt: N.DropStmt) -> dict:
        if stmt.entity == "group":
            if stmt.name not in self.groups:
                raise QueryError(f"Cannot find group: '{stmt.name}'")
            del self.groups[stmt.name]
            return {"success_msg":
                    f"Successfully dropped group '{stmt.name}'."}
        if stmt.entity == "tag":
            if stmt.name not in self.tags:
                raise QueryError(f"Cannot find tag: '{stmt.name}'")
            del self.tags[stmt.name]
            return {"success_msg": f"Successfully dropped tag '{stmt.name}'."}
        if stmt.entity == "user":
            if stmt.name not in self.users:
                raise QueryError(f"Cannot find user: '{stmt.name}'")
            del self.users[stmt.name]
            return {"success_msg":
                    f"Successfully dropped user '{stmt.name}'."}
        if stmt.entity == "series":
            return self._drop_series(stmt)
        if stmt.entity == "shards":
            return self._drop_shards(stmt)
        raise QueryError(f"Cannot drop '{stmt.entity}'.")

    def _drop_series(self, stmt: N.DropStmt) -> dict:
        total = len(self._catalog_local())
        names = [r["name"] for r in self._selected(stmt.match, stmt.where)]
        n = len(names)
        # drop_threshold guard (grammar.py:725-733, exit_drop_series)
        if (not stmt.ignore_threshold and total
                and n / total > self.drop_threshold):
            raise QueryError(
                f"This query would drop {n} series. Add 'set "
                "ignore_threshold true' to the query statement if you "
                "really want to do this.")
        try:
            self._own_store().delete_series(self.spark, names)
        finally:
            self._invalidate()
        for members in self.tags.values():
            members -= set(names)
        return {"success_msg": f"Successfully dropped {n} series."}

    def _drop_shards(self, stmt: N.DropStmt) -> dict:
        store = self._own_store()
        keys = {("log" if r["type"] == "log" else "num", r["sid"])
                for r in self._apply_local_where(
                    "shards", self._shard_rows(), stmt.where)}
        try:
            store.drop_shards(self.spark, keys)
        finally:
            self._invalidate()
        return {"success_msg":
                f"Successfully dropped {len(keys)} shards. (this number "
                "does not include shards which are dropped on replica "
                "servers)"}

    def _alter_database(self, stmt: N.AlterDatabase) -> dict:
        key, value = stmt.key, stmt.value
        if key == "drop_threshold":
            old, self.drop_threshold = self.drop_threshold, float(value)
            return {"success_msg":
                    "Successfully changed drop_threshold from "
                    f"{old:g} to {float(value):g}."}
        if key == "list_limit":
            old, self.list_limit = self.list_limit, int(value)
            return {"success_msg":
                    f"Successfully changed list limit from {old} "
                    f"to {int(value)}."}
        if key == "select_points_limit":
            old = self.select_points_limit
            self.select_points_limit = int(value)
            return {"success_msg":
                    "Successfully changed select points limit from "
                    f"{old} to {int(value)}."}
        if key == "timezone":
            if value not in ("NAIVE", "UTC"):
                try:
                    ZoneInfo(value)
                except (KeyError, ValueError, OSError):
                    # unknown zone, or a key that is not a zone file
                    raise QueryError(
                        f"Unknown time zone: '{value}'. (see 'help "
                        "timezones' for a list of valid time zones)"
                    ) from None
            old, self.timezone = self.timezone, value
            return {"success_msg":
                    f"Successfully changed timezone from '{old}' "
                    f"to '{value}'."}
        if key in ("expiration_num", "expiration_log"):
            old = getattr(self, key)
            setattr(self, key, int(value))
            self._exp_applied.pop(key, None)  # force re-application
            self._apply_expiration()
            return {"success_msg":
                    f"Successfully changed expiration from {old} "
                    f"to {int(value)}."}
        if key == "tee":
            if value in (None, "false"):
                self.tee = None
                return {"success_msg": "Successfully disabled tee."}
            self.tee = value
            return {"success_msg":
                    f"Successfully configured tee to {value}."}
        raise QueryError(f"Cannot set '{key}'.")

    def _apply_expiration(self):
        """Retention (ref db.c:865-878): drop points older than
        now − expiration, at shard granularity."""
        now = TE.now_ts(self.precision)
        changed = False
        for key, dur, tp_str in (
                ("expiration_num", self.duration_num, False),
                ("expiration_log", self.duration_log, True)):
            exp = getattr(self, key)
            if not exp:
                continue
            cutoff = now - exp
            cutoff_sid = cutoff - cutoff % dur
            # the insert heartbeat calls this per batch: skip until
            # the cutoff crosses into a new shard (ingest-time
            # filtering already covers points landing in old shards)
            if self._exp_applied.get(key) == cutoff_sid:
                continue
            self._exp_applied[key] = cutoff_sid
            try:
                changed |= self._own_store().expire(
                    self.spark, cutoff_sid, tp_str)
            except BaseException:
                self._invalidate()
                raise
        if changed:
            self._invalidate()

    def maintain(self) -> dict:
        """One operational entry point for the background maintenance
        the reference runs on timers (siri/optimize.c:33-55 shard
        rewrites, heartbeat.c:62 expiration): retention, shard
        compaction, and catalog delta compaction. The driver snapshot
        survives unless retention dropped a shard: shard and catalog
        compaction change files, not the catalog."""
        self._exp_applied.clear()
        self._apply_expiration()
        if self.store is not None:
            self.store.optimize(self.spark)
            with self.store._pending():
                compaction = self.store._compact_catalog(self.spark)
            # refresh the materialized rollup (compaction just
            # renamed every fragmented shard's files, so a stale
            # rollup would fall back to points everywhere)
            info = self.store.rollup_info()
            if info is not None:
                try:
                    self.store.build_rollup(self.spark,
                                            info["bucket"])
                except CompactLockBusy:
                    # another process holds the compact lock: skip —
                    # coverage mismatches keep answers exact and the
                    # next maintain() refreshes (same busy-skip
                    # _compact_catalog applies); any other failure
                    # of the build propagates
                    pass
            self._drop_frames()
            if self._local_files is not None and not self._rekey(
                    self._local_files, compaction):
                self._drop_snapshot()
        return {"success_msg": "Maintenance finished."}

    def _alter_series(self, stmt: N.AlterSeries) -> dict:
        names = {r["name"] for r in self._selected(stmt.match, stmt.where)}
        if stmt.action == "tag":
            self.tags.setdefault(stmt.tag, set()).update(names)
            return {"success_msg":
                    f"Successfully tagged {len(names)} series."}
        if stmt.tag not in self.tags:
            raise QueryError(f"Cannot find tag: '{stmt.tag}'")
        self.tags[stmt.tag] -= names
        return {"success_msg":
                f"Successfully untagged {len(names)} series."}

    # every alter-X success reports the entity's POST-update name
    # (listener.c:2019-2077 formats group->name/tag->name/user->name
    # after the mutation)
    def _alter_group(self, stmt: N.AlterGroup) -> dict:
        if stmt.name not in self.groups:
            raise QueryError(f"Cannot find group: '{stmt.name}'")
        if stmt.key == "expression":
            self.groups[stmt.name] = (stmt.value, stmt.case_insensitive)
            final = stmt.name
        else:
            self._check_group_name(stmt.value)
            if stmt.value in self.groups:
                raise QueryError(
                    f"Group '{stmt.value}' already exists.")
            self.groups[stmt.value] = self.groups.pop(stmt.name)
            final = stmt.value
        return {"success_msg": f"Successfully updated group '{final}'."}

    def _alter_tag(self, stmt: N.AlterTag) -> dict:
        if stmt.name not in self.tags:
            raise QueryError(f"Cannot find tag: '{stmt.name}'")
        self._check_tag_name(stmt.new_name)
        if stmt.new_name in self.tags:
            raise QueryError(f"Tag '{stmt.new_name}' already exists.")
        if stmt.new_name in self.groups:
            # tags and groups share the `...` lookup namespace
            # (tag.c siridb_tag_set_name checks both)
            raise QueryError(
                f"Group '{stmt.new_name}' already exists.")
        self.tags[stmt.new_name] = self.tags.pop(stmt.name)
        return {"success_msg":
                f"Successfully updated tag '{stmt.new_name}'."}

    def _alter_user(self, stmt: N.AlterUser) -> dict:
        if stmt.name not in self.users:
            raise QueryError(f"Cannot find user: '{stmt.name}'")
        if stmt.key == "password":
            self._validate_password(stmt.value)
            self.users[stmt.name]["password"] = stmt.value
            final = stmt.name
        else:
            self._validate_user_name(stmt.value)
            self.users[stmt.value] = self.users.pop(stmt.name)
            # the reference reports the NEW name after a rename
            # (user.c set_name then success with user->name)
            final = stmt.value
        return {"success_msg": f"Successfully updated user '{final}'."}

    def _alter_server(self, stmt: N.AlterServer) -> dict:
        """Single-node: one server, name 'sparksiri:0' (ref
        exit_set_log_level listener.c:4530+, success strings
        listener.c:178-186). Spark owns real distribution."""
        if stmt.name != self.server_name:
            raise QueryError(f"Cannot find server: '{stmt.name}'")
        if stmt.key == "log_level":
            self.log_level = stmt.value
            return {"success_msg":
                    f"Successfully set log level to '{stmt.value}' "
                    f"on '{self.server_name}'."}
        if stmt.key == "backup_mode":
            self.backup_mode = bool(stmt.value)
            state = "enabled" if self.backup_mode else "disabled"
            return {"success_msg":
                    f"Successfully {state} backup mode on "
                    f"'{self.server_name}'."}
        setattr(self, f"server_{stmt.key}", stmt.value)
        return {"success_msg":
                f"Successfully updated {stmt.key} on "
                f"'{self.server_name}'."}

    def _alter_servers(self, stmt: N.AlterServers) -> dict:
        n = len(self._apply_local_where(
            "servers", self._entity_rows("servers"), stmt.where))
        if n:
            self.log_level = stmt.level
        return {"success_msg":
                f"Successfully set log level to '{stmt.level}' on "
                f"{n} servers."}

    def _grant(self, stmt: N.GrantStmt) -> dict:
        if stmt.user not in self.users:
            raise QueryError(f"Cannot find user: '{stmt.user}'")
        self.users[stmt.user]["access"] |= \
            ACL.access_from_names(stmt.access)
        return {"success_msg":
                f"Successfully granted permissions to user '{stmt.user}'."}

    def _revoke(self, stmt: N.RevokeStmt) -> dict:
        if stmt.user not in self.users:
            raise QueryError(f"Cannot find user: '{stmt.user}'")
        self.users[stmt.user]["access"] &= \
            ~ACL.access_from_names(stmt.access)
        return {"success_msg":
                "Successfully revoked permissions from user "
                f"'{stmt.user}'."}
