"""The workloads: set-up, warm-up, measured phase, traced phase and
correctness check, reduced to the metrics BENCHMARK.json names."""

from __future__ import annotations

import os
import time

from . import check, gen, harness, layers
from .spans import Recorder
from .stats import median, tail

#: the bulk-loaded events table: 7,500 series as in the sf0.1 events
#: table, at 30% of its points, so the set-ups, a warm-up cycle and
#: the measured phase fit the minute a run may take
SHAPE = gen.Shape(points=30_000, users=1_500)
#: the untimed first set-up pays the JVM's first use of every set-up
#: path (10-20 s); a small table is enough for that
WARM_SHAPE = gen.Shape(points=3_000, users=150)
#: timed full set-ups per run; setup_s is their median
SETUP_REPS = 2
#: whole request cycles per measured phase, at least
MIN_CYCLES = 2

WORKLOADS = ("serve_read", "ingest_mixed")


def _cycles(workload: str, seed: int):
    if workload == "serve_read":
        return gen.serve_read_cycles(seed, SHAPE.users)
    return gen.ingest_cycles(seed, SHAPE.users)


def _warm(store: harness.Store, workload: str, seed: int) -> list:
    """Untimed warm-up (gen.warm_ops); its samples only feed the
    correctness check."""
    samples = []
    for op in gen.warm_ops(workload, seed, SHAPE.users):
        ok, acked = harness.send(store, op)
        if not ok:
            raise RuntimeError(f"warm-up request failed: {op['cls']}")
        samples.append({"cls": op["cls"], "ok": ok, "acked": acked,
                        "op": op})
    return samples


def _lat(samples, cls: str, cap: float):
    """Latencies of one class; a failed request counts as slow as the
    whole phase (``cap``), slower than any answered one."""
    return [s["ms"] if s["ok"] else cap
            for s in samples if s["cls"] == cls]


def _by_template(samples, cap: float, cls: str | None = None) -> dict:
    by: dict = {}
    for s in samples:
        if cls is None or s["cls"] == cls:
            by.setdefault(s["tpl"], []).append(
                s["ms"] if s["ok"] else cap)
    return by


def template_ms(samples, cls: str, cap: float) -> float:
    """Mean over the class's templates of each template's median
    latency. Every template counts once however often it ran, so a
    window that ends inside a cycle keeps the mix. In ``ingest_mixed``
    every position of the cycle is its own template, so this is the
    mean over a whole delta-compaction cycle."""
    meds = [median(v) for v in _by_template(samples, cap, cls).values()]
    return sum(meds) / len(meds) if meds else 0.0


def cycle_rate(samples, cap: float) -> float:
    """Requests per second of a mix that holds every template once:
    the number of templates over the sum of their median latencies.
    How often a template repeats for sampling does not change it."""
    meds = [median(v) for v in _by_template(samples, cap).values()]
    return len(meds) / sum(meds) * 1000.0


def class_metrics(samples, elapsed: float, setups, store) -> dict:
    """End-to-end figures of one measured phase."""
    cap = elapsed * 1000.0
    out = {"setup_s": median(setups),
           "meta_ms": template_ms(samples, "meta", cap),
           "select_ms": template_ms(samples, "select", cap),
           "requests_per_s": cycle_rate(samples, cap),
           "failed_ratio": (sum(not s["ok"] for s in samples)
                            / max(1, len(samples)))}
    for cls in ("meta", "select", "export", "insert"):
        lat = _lat(samples, cls, cap)
        out[f"{cls}_n"] = len(lat)
        out[f"{cls}_ms_p50"] = median(lat) if lat else 0.0
        t = tail(lat)  # None unless >= 10 samples lie beyond it
        out[f"{cls}_ms_tail"] = t[1] if t else 0.0
        out[f"{cls}_tail_q"] = t[0] if t else None
    acked = sum(s["acked"] for s in samples)
    out["ingest_points_per_s"] = acked / elapsed
    _files, size = harness.dir_files(store.path)
    out["bytes_per_point"] = size / store.points_stored()
    return out


UNTRACED_LAYER = ("meta_ms_p50", "meta_ms_tail", "select_ms_p50",
                  "export_ms_p50", "insert_ms_p50", "insert_ms_tail",
                  "ingest_points_per_s", "bytes_per_point",
                  "failed_ratio")


def run(workload: str, seed: int, seconds: float, trace: bool,
        work: str) -> dict:
    n = harness.cores()
    t0 = time.perf_counter()
    spark = harness.start_spark(work, n)
    session_s = time.perf_counter() - t0
    store = None
    try:
        store = harness.Store(spark, work, seed, SHAPE, WARM_SHAPE)
        base = gen.series_lengths(store.table)
        rec = Recorder() if trace else None
        t0 = time.perf_counter()
        store.build("warm", store.warm_dir)
        cold_s = time.perf_counter() - t0
        setups = []
        for i in range(SETUP_REPS):
            last = i == SETUP_REPS - 1
            if trace and last:  # set-up layers: optimize, rollup build
                layers.install(rec, spark)
            setups.append(store.build(str(i)))
        if trace:
            rec.restore()
        store.serve()
        t0 = time.perf_counter()
        warm = _warm(store, workload, seed)
        warm_s = time.perf_counter() - t0
        cycles = _cycles(workload, seed)
        samples, elapsed = harness.run_phase(store, cycles, seconds,
                                             MIN_CYCLES)
        e2e = class_metrics(samples, elapsed, setups, store)
        attempted = samples
        per_layer = None
        if trace:
            layers.install(rec, spark)
            probe = layers.Probe(spark, lambda: store.path)
            tsamples, _ = harness.run_phase(
                store, cycles, seconds, MIN_CYCLES, rec, after=probe)
            rec.restore()
            per_layer = {k: e2e[k] for k in UNTRACED_LAYER}
            per_layer.update(layers.reduce(rec, tsamples, probe))
            per_layer["trace.overhead_ms"] = layers.overhead_ms(
                rec, tsamples, spark)
            per_layer["peak_rss_mb"] = harness.peak_rss_mb(
                [os.getpid(), harness.jvm_pid()])
            rec.dump(os.path.join(work, "..", f"spans-{workload}.jsonl"))
            attempted = samples + tsamples
        t0 = time.perf_counter()
        if workload == "serve_read":
            bad = check.serve_read(
                store.qpack, os.path.join(store.data_dir,
                                          "events.parquet"), seed)
        else:
            bad = check.ingest_mixed(
                store.qpack, _expected_lengths(base, warm + attempted))
        return {"workload": workload, "seed": seed, "cores": n,
                "session_start_s": session_s, "cold_setup_s": cold_s,
                "setup_reps_s": setups,
                "warm_s": warm_s, "elapsed_s": elapsed,
                "check_s": time.perf_counter() - t0,
                "e2e": e2e, "per_layer": per_layer,
                "samples": [[s["cls"], s["tpl"], round(s["ms"], 2)]
                            for s in samples],
                "attempted": len(attempted),
                "failed": sum(not s["ok"] for s in attempted),
                "mismatches": bad}
    finally:
        if store is not None:
            store.close()
        harness.stop_spark(spark)


def _expected_lengths(base: dict, samples: list) -> dict:
    """Bulk base plus the points of every acknowledged insert."""
    out = dict(base)
    for s in samples:
        if s["cls"] == "insert" and s["ok"]:
            for name, pts in s["op"]["points"].items():
                out[name] = out.get(name, 0) + len(pts)
    return out
