"""Per-layer measurements of the traced run: which program calls are
wrapped, the Spark status read per request, and the reduction of
spans to the per-layer metrics listed in BENCHMARK.json."""

from __future__ import annotations

import os
import time

from . import harness
from .spans import Recorder
from .stats import median

SPARK_ACTIONS = ("collect", "count", "take", "toPandas", "toArrow",
                 "toLocalIterator", "isEmpty", "foreach")
STORE_CALLS = ("read_catalog_local", "read_rollup", "read",
               "read_points_of", "append_local", "append_df",
               "optimize", "build_rollup")


def _rollup_meta(out, _args):
    return None if out is None else {"stale": len(out["stale"])}


def install(rec: Recorder, spark) -> None:
    """Wrap the public calls of each layer. Every engine entry point
    also tags its Spark jobs with a job group named after the request,
    so the status store can be read per request afterwards."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from siridb_server_spark.engine import SiriEngine
    from siridb_server_spark.plans.parser import Parser
    from siridb_server_spark.sources import api, qpack
    from siridb_server_spark.sources.store import PointsStore

    sc = spark.sparkContext

    def job_group(sp):
        if sp.req is not None:
            sc.setJobGroup(f"pb-{sp.req}", "perfbench", False)

    rec.wrap_method(Parser, "parse", "parser.parse")
    for m in ("query_kinded", "insert", "maintain"):
        rec.wrap_method(SiriEngine, m, f"engine.{m}", before=job_group)
    # which path serves each pipeline of a select: a result from the
    # rollup, or None and the points path
    rec.wrap_method(SiriEngine, "_rollup_pipeline", "engine.rollup",
                    after=lambda out, _a: out is not None)
    for m in SPARK_ACTIONS:
        rec.wrap_method(DataFrame, m, f"spark.{m}")
    for m in ("save", "parquet"):
        rec.wrap_method(DataFrameWriter, m, f"spark.write.{m}")
    for m in STORE_CALLS:
        rec.wrap_method(PointsStore, m, f"store.{m}",
                        after=_rollup_meta if m == "read_rollup"
                        else None)
    rec.wrap_method(PointsStore, "_compact_catalog",
                    "store.compact_catalog")
    rec.wrap_function(qpack, "packb", "qpack.pack",
                      after=lambda out, _a: len(out))
    rec.wrap_function(qpack, "unpackb", "qpack.unpack",
                      after=lambda _out, a: len(a[0]))
    rec.wrap_function(api, "handle_request", "http.handle_request")


def job_stats(spark, group: str) -> dict:
    """Jobs, tasks and stage metrics of one job group, read from the
    Spark status store once its listener bus has drained."""
    from py4j.protocol import Py4JError

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    status = jsc.statusStore()
    gw = sc._gateway
    qs = gw.new_array(gw.jvm.double, 2)
    qs[0], qs[1] = 0.5, 1.0
    out = {"jobs": len(jobs), "tasks": 0, "run_ms": 0.0, "cpu_ms": 0.0,
           "gc_ms": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
           "skew": 1.0}
    for sid in stage_ids:
        try:
            sd = status.lastStageAttempt(sid)
        except Py4JError:
            continue  # skipped stage: its output was reused
        n = sd.numCompleteTasks()
        out["tasks"] += n
        out["run_ms"] += sd.executorRunTime()
        out["cpu_ms"] += sd.executorCpuTime() / 1e6
        out["gc_ms"] += sd.jvmGcTime()
        out["shuffle_bytes"] += (sd.shuffleReadBytes()
                                 + sd.shuffleWriteBytes())
        out["spill_bytes"] += (sd.memoryBytesSpilled()
                               + sd.diskBytesSpilled())
        if n >= 2:
            summ = status.taskSummary(sid, sd.attemptId(), qs)
            if summ.isDefined():
                rt = summ.get().executorRunTime()
                mid, top = rt.apply(0), rt.apply(1)
                if mid > 0:
                    out["skew"] = max(out["skew"], top / mid)
    return out


class Probe:
    """Per-request bookkeeping of the traced phase: Spark status of the
    request's job group and the store's on-disk file counts."""

    def __init__(self, spark, store_path_fn):
        self.spark = spark
        self._path = store_path_fn
        self.jobs: dict = {}
        self.files: list = []

    def __call__(self, sample: dict):
        self.jobs[sample["req"]] = job_stats(self.spark,
                                             f"pb-{sample['req']}")
        path = self._path()
        delta, _ = harness.dir_files(os.path.join(path, "_catalog_delta"))
        shards, _ = harness.dir_files(path, "kind=")
        self.files.append((delta, shards))


def _med(values) -> float:
    return float(median(values)) if values else 0.0


def reduce(rec: Recorder, samples: list, probe: Probe) -> dict:
    """Per-layer metrics from the traced phase's spans and samples."""
    kids = rec.children()
    by_req: dict = {}
    for sp in rec.spans:
        if sp.parent is None and sp.req is not None:
            by_req.setdefault(sp.req, []).append(sp)

    def engine_span(req):
        for sp in by_req.get(req, ()):
            if sp.name.startswith("engine."):
                return sp
            if sp.name == "http.handle_request":
                for c in kids.get(sp.sid, ()):
                    if c.name.startswith("engine."):
                        return c
        return None

    # spans by name: ``named`` covers the traced phase's requests,
    # ``every`` also the traced set-up (optimize, rollup build)
    named: dict = {}
    every: dict = {}
    qpack_bytes: dict = {}
    of_req: dict = {}
    for sp in rec.spans:
        every.setdefault(sp.name, []).append(sp)
        if sp.req is not None:
            named.setdefault(sp.name, []).append(sp)
            of_req.setdefault(sp.req, []).append(sp)
        if sp.name.startswith("qpack."):
            qpack_bytes[sp.req] = qpack_bytes.get(sp.req, 0) + sp.meta

    plan, ins_self, action, q_over, h_over = [], [], [], [], []
    qbytes = []
    for s in samples:
        eng = engine_span(s["req"])
        if eng is None:
            continue
        inner = Recorder.covered_ms(eng, kids, ("spark.", "store."))
        if s["cls"] == "select":
            plan.append(eng.ms - inner)
            action.append(Recorder.covered_ms(eng, kids, ("spark.",)))
        elif s["cls"] == "insert":
            ins_self.append(eng.ms - inner)
        if s["cls"] != "maintain":
            (q_over if s["tr"] == "qpack" else h_over).append(
                s["ms"] - eng.ms)
        if s["tr"] == "qpack":
            qbytes.append(qpack_bytes.get(s["req"], 0))

    sel_jobs = [probe.jobs[s["req"]] for s in samples
                if s["cls"] == "select" and s["req"] in probe.jobs]
    # each select once: served by the rollup when every pipeline got a
    # rollup result, by points when one fell back; a select answered
    # from the catalog alone tries neither
    roll_sel = points_sel = stale = 0
    for s in samples:
        if s["cls"] != "select":
            continue
        spans = of_req.get(s["req"], ())
        tried = [sp.meta for sp in spans if sp.name == "engine.rollup"]
        if tried and all(tried):
            roll_sel += 1
            stale += sum(sp.meta["stale"] for sp in spans
                         if sp.name == "store.read_rollup"
                         and sp.meta is not None)
        elif tried:
            points_sel += 1
    inserts = sum(1 for s in samples if s["cls"] == "insert")
    loads = len(named.get("store.read_catalog_local", ()))
    files = probe.files or [(0, 0)]

    def span_med(name, spans=named):
        return _med([sp.ms for sp in spans.get(name, ())])

    return {
        "parser.parse_ms": span_med("parser.parse"),
        "engine.plan_ms": _med(plan),
        "engine.insert_ms": _med(ins_self),
        "engine.maintain_ms": span_med("engine.maintain"),
        "spark.action_ms": _med(action),
        "spark.jobs_per_select": _med([j["jobs"] for j in sel_jobs]),
        "spark.tasks_per_select": _med([j["tasks"] for j in sel_jobs]),
        "spark.executor_run_ms": _med([j["run_ms"] for j in sel_jobs]),
        "spark.executor_cpu_ms": _med([j["cpu_ms"] for j in sel_jobs]),
        "spark.gc_ms": _med([j["gc_ms"] for j in sel_jobs]),
        "spark.shuffle_bytes": _med(
            [j["shuffle_bytes"] for j in sel_jobs]),
        "spark.spill_bytes": _med([j["spill_bytes"] for j in sel_jobs]),
        "spark.task_skew": _med([j["skew"] for j in sel_jobs]),
        "store.catalog_snapshot_loads": float(loads),
        "store.snapshot_loads_per_insert":
            loads / inserts if inserts else 0.0,
        "store.read_catalog_local_ms": span_med(
            "store.read_catalog_local"),
        "store.rollup_reads": float(roll_sel),
        "store.points_reads": float(points_sel),
        "store.stale_shard_reads": float(stale),
        "store.rollup_share": (roll_sel / (roll_sel + points_sel)
                               if roll_sel or points_sel else 0.0),
        "store.catalog_compactions": float(
            len(named.get("store.compact_catalog", ()))),
        "store.append_local_ms": span_med("store.append_local"),
        "store.catalog_delta_files": sum(f[0] for f in files) / len(files),
        "store.shard_files": sum(f[1] for f in files) / len(files),
        "store.optimize_ms": span_med("store.optimize", every),
        "store.build_rollup_ms": span_med("store.build_rollup", every),
        "qpack.pack_ms": span_med("qpack.pack"),
        "qpack.unpack_ms": span_med("qpack.unpack"),
        "qpack.bytes": _med(qbytes),
        "clserver.overhead_ms": _med(q_over),
        "http.overhead_ms": _med(h_over),
        "trace.spans": float(len(rec.spans)),
    }


def overhead_ms(rec: Recorder, samples: list, spark,
                n: int = 20_000) -> float:
    """Recorder cost per request of the traced phase, measured directly:
    spans recorded times the cost of one wrapped call, plus the job
    groups set times the cost of one ``setJobGroup``. The Spark status
    and file counts are read between requests, outside their latency."""
    probe = Recorder()
    noop = probe._wrapper("noop", lambda: None, None, None)
    t0 = time.perf_counter()
    for _ in range(n):
        noop()
    span_ms = (time.perf_counter() - t0) * 1000.0 / n
    sc = spark.sparkContext
    t0 = time.perf_counter()
    for i in range(100):
        sc.setJobGroup(f"pb-cost-{i}", "perfbench", False)
    group_ms = (time.perf_counter() - t0) * 1000.0 / 100
    groups = sum(1 for sp in rec.spans
                 if sp.req is not None and sp.name.startswith("engine.")
                 and sp.name != "engine.rollup")
    spans = sum(1 for sp in rec.spans if sp.req is not None)
    return (spans * span_ms + groups * group_ms) / max(1, len(samples))
