"""Round-13 per-query harness: time a SUBSET of bench queries with
the bench's exact methodology (noop sink, best-of-N, same session
conf), splitting each sample into plan-build (fn call) vs execute
(noop write), and optionally dumping .explain("formatted") to a file
per query.

Usage:
  python scripts/qbench.py q1 q2 ...          # time queries
  SPARK_GRAFT_EXPLAIN_DIR=plans/r13 python scripts/qbench.py --suffix _before q1 ...
  SPARK_GRAFT_BENCH_RUNS=6 python scripts/qbench.py q1

Prints one JSON line per query:
  {"name": ..., "best": s, "samples": [...], "build": [...], "exec": [...]}
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
EXPLAIN_DIR = os.environ.get("SPARK_GRAFT_EXPLAIN_DIR")


def main():
    args = [a for a in sys.argv[1:]]
    suffix = ""
    if "--suffix" in args:
        i = args.index("--suffix")
        suffix = args[i + 1]
        del args[i:i + 2]

    from bench import session
    spark = session("sparksiri-qbench")

    import registry
    entries = registry.entries()

    # warmup parity with bench.py
    from siridb_server_spark.operators import dedup as D
    from siridb_server_spark.sources.testdata import load as _load
    for t in ("events", "documents", "embeddings", "lineitem"):
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").count()
    entries["siri_count_to_one"].body(spark, SF_DIR).write \
        .format("noop").mode("overwrite").save()
    D.simhash(_load(spark, SF_DIR, "documents").limit(64)).write \
        .format("noop").mode("overwrite").save()

    for name in args:
        # the body bench.py times: the declared bench form, its
        # fixture built here untimed, else the contract body
        e = entries[name]
        fn = e.bench(spark, SF_DIR) if e.bench else e.body
        samples, builds, execs = [], [], []
        # one untimed warm run per plan shape (codegen), like the
        # bench's best-of-N discards the cold sample anyway
        try:
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
        except Exception as exc:
            print(json.dumps({"name": name, "error": repr(exc)[:300]}))
            continue
        if EXPLAIN_DIR:
            os.makedirs(EXPLAIN_DIR, exist_ok=True)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(f"{EXPLAIN_DIR}/{name}{suffix}.txt", "w") as fh:
                fh.write(txt)
        for _ in range(RUNS):
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            samples.append(round(t2 - t0, 3))
            builds.append(round(t1 - t0, 3))
            execs.append(round(t2 - t1, 3))
        print(json.dumps({"name": name, "best": min(samples),
                          "samples": samples, "build": builds,
                          "exec": execs}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
