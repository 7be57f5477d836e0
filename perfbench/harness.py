"""Spark session lifecycle, the store-backed engine the serving
workloads run against, and the closed request loop."""

from __future__ import annotations

import os
import shutil
import time

from . import gen
from .client import HttpClient, QpackClient

ROLLUP_BUCKET_NS = gen.HOUR_NS


def cores() -> int:
    return min(4, os.cpu_count() or 1)


def start_spark(work: str, n: int):
    """``local[n]`` session whose scratch files all land under ``work``."""
    for d in ("spark-local", "jtmp", "warehouse", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, spark-submit's launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'jtmp')} -XX:-UsePerfData")
    root = os.getcwd()
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "1g")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir",
                os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                "-Xms1g -Dderby.system.home="
                f"{os.path.join(work, 'warehouse')}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    return proc.pid if proc is not None else None


def stop_spark(spark):
    """Stop the session and wait until the JVM process has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 -- never leave it running
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb(pids) -> float:
    """Sum of the high-water resident sizes (VmHWM) of ``pids``."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def dir_files(path: str, sub: str | None = None) -> tuple[int, int]:
    """(parquet files, bytes of all files) under ``path``; with ``sub``
    only directories whose relative path starts with it count files."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        rel = os.path.relpath(root, path)
        for nm in names:
            size += os.path.getsize(os.path.join(root, nm))
            if nm.endswith(".parquet") and not nm.startswith(".") and (
                    sub is None or rel.startswith(sub)):
                files += 1
    return files, size


class Store:
    """A store-backed engine bulk-loaded with the seeded events table,
    compacted and rolled up, served over qpack and HTTP."""

    def __init__(self, spark, work: str, seed: int, shape: gen.Shape,
                 warm_shape: gen.Shape):
        self.spark, self.work = spark, work
        self.data_dir = os.path.join(work, "data")
        self.warm_dir = os.path.join(work, "warm-data")
        for d in (self.data_dir, self.warm_dir):
            os.makedirs(d, exist_ok=True)
        self.table = gen.write_events(
            seed, shape, os.path.join(self.data_dir, "events.parquet"))
        gen.write_events(seed, warm_shape,
                         os.path.join(self.warm_dir, "events.parquet"))
        self.engine = None
        self.path = None
        self._servers = []
        self.qpack = self.http = None

    def build(self, tag: str, data_dir: str | None = None) -> float:
        """One full set-up: open a fresh store, bulk-load (the measured
        table, or the one in ``data_dir``), maintain(), build the 1h
        rollup. Returns its wall time in seconds."""
        from siridb_server_spark import SiriEngine
        from siridb_server_spark.sources import testdata

        if self.path is not None:
            shutil.rmtree(self.path, ignore_errors=True)
        self.path = os.path.join(self.work, f"store-{tag}")
        t0 = time.perf_counter()
        eng = SiriEngine.open(self.spark, self.path, precision="ns")
        eng.store.append_df(testdata.events_points(
            self.spark, data_dir or self.data_dir))
        eng.maintain()
        eng.enable_rollup(ROLLUP_BUCKET_NS)
        dt = time.perf_counter() - t0
        self.engine = eng
        return dt

    def serve(self):
        from siridb_server_spark.sources.clserver import ClientServer
        from siridb_server_spark.sources.http import ApiServer

        qs = ClientServer(self.engine).start()
        self._servers.append(qs)
        hs = ApiServer(self.engine).start()
        self._servers.append(hs)
        self.qpack = QpackClient(qs.port)
        self.http = HttpClient(hs.port)

    def close(self):
        for c in (self.qpack, self.http):
            if c is not None:
                c.close()
        for s in self._servers:
            s.stop()
        self._servers.clear()

    def points_stored(self) -> int:
        r = self.qpack.query("list series name, length")
        if not r.ok:
            raise RuntimeError(f"list series failed: {r.body}")
        return sum(n for _name, n in r.body["series"])


def send(store: Store, op: dict) -> tuple[bool, int]:
    """Send one generated request and validate the reply: the success
    type code (qpack) or status 200 (HTTP), a map body, and for an
    insert the acknowledged point count. Returns (ok, points
    acknowledged)."""
    if op["cls"] == "maintain":
        store.engine.maintain()
        return True, 0
    cl = store.qpack if op["tr"] == "qpack" else store.http
    if op["cls"] == "insert":
        r = cl.insert(op["points"])
        sent = sum(len(p) for p in op["points"].values())
        ok = r.ok and isinstance(r.body, dict) and str(
            r.body.get("success_msg", "")).startswith(
                f"Successfully inserted {sent} point")
        return ok, sent if ok else 0
    r = cl.query(op["q"])
    return r.ok and isinstance(r.body, dict), 0


def run_phase(store: Store, cycles, seconds: float, min_cycles: int,
              rec=None, after=None) -> tuple[list, float]:
    """Closed loop: each op is sent only after the previous reply, in
    whole cycles, until ``seconds`` have passed and at least
    ``min_cycles`` cycles have run. Returns (samples, elapsed s); a
    sample is a dict with cls, tpl, tr, ms, ok, acked points, request
    id and the op itself."""
    samples = []
    t_start = time.perf_counter()
    deadline = t_start + seconds
    cyc = 0
    while cyc < min_cycles or time.perf_counter() < deadline:
        for op in next(cycles):
            req = len(samples)
            if rec is not None:
                rec.request = req
            t0 = time.perf_counter()
            try:
                ok, acked = send(store, op)
            except (OSError, ConnectionError, ValueError):
                ok, acked = False, 0
            ms = (time.perf_counter() - t0) * 1000.0
            if rec is not None:
                rec.request = None
            s = {"cls": op["cls"], "tpl": op["tpl"], "tr": op["tr"],
                 "ms": ms, "ok": ok, "acked": acked, "req": req,
                 "op": op}
            samples.append(s)
            if after is not None:
                after(s)
        cyc += 1
    return samples, time.perf_counter() - t_start
