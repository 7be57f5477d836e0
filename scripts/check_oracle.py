"""Local replica of the driver's correctness gate: runs every
queries() entry and its oracle_sql() side-by-side, compares row count,
column names, and (sorted, rounded) values. Usage:

    python scripts/check_oracle.py [sf_dir] [name ...] \
        [--family <family>] [--record] [--stability]

``--family`` runs the entries one family declares (``registry``
module names: siri, dedup, text, ...).

Values are compared at FULL precision (repr bytes, no rounding —
matching the driver's value hash). ``--stability`` additionally
re-runs every Spark entry under ``shuffle.partitions=1`` and
requires byte-identical output across partitionings.

The same comparison is wired into pytest as the ``oracle`` marker
(tests/test_oracle_full.py): ``pytest tests/ -m oracle`` proves the
FULL query inventory against DuckDB in one command, not just the
driver's per-round 50-query sample.

``--record`` additionally appends one line to PROGRESS.jsonl
({"oracle_gate": {...}}) so every round's full-gate run is on the
permanent record — run it once before handoff each round.

``--full-record <path>`` (VERDICT r12 #6) writes the PER-ENTRY
result map as JSON — {"entries": {name: "ok" | "ok (rows-only)" |
"<failure>"}, ...} — so the full gate's per-entry state survives on
the permanent record, not just the total (the driver's 50-sample
rotates; this file covers the whole inventory).
"""

from __future__ import annotations

import math
import os
import sys

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


def connect_oracle(sf_dir: str):
    """DuckDB connection with the driver's table views registered."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM"
                f" '{sf_dir}/{t}.parquet'")
    return con


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # FULL-precision repr — no rounding. Round-6 lesson: this
        # gate rounded to 9 dp and called both driver-red cells "ok",
        # so the builder could not see what the driver's byte-level
        # value hash sees. A contract is green only if every float
        # bit matches (repr also distinguishes -0.0 from 0.0).
        return repr(v)
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    # repr-wrap for the sort: tuples with None/mixed types aren't
    # orderable in Python, and repr equality is what matters
    return sorted(
        tuple(repr(norm_cell(r[i])) for i in order) for r in rows)


def compare_one(spark, con, sf_dir: str, name: str, fn,
                oracle: str | None,
                stability: bool = False) -> str | None:
    """Run one queries() entry against its oracle SQL. Returns None
    when green (including the rows-only check for oracle-less
    entries), else a failure description. With ``stability``, also
    re-runs the Spark side under ``shuffle.partitions=1`` and
    requires byte-identical output — a float contract whose bits
    depend on fold order fails HERE, not in a later driver round."""
    try:
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        if stability:
            prev = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set("spark.sql.shuffle.partitions", "1")
            try:
                srows1 = [tuple(r) for r in fn(spark, sf_dir)
                          .collect()]
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
            if norm_rows(scols, srows) != norm_rows(scols, srows1):
                d = [(a, b) for a, b in
                     zip(norm_rows(scols, srows),
                         norm_rows(scols, srows1)) if a != b][:2]
                return f"partitioning-unstable output, e.g. {d}"
    except Exception as e:  # noqa: BLE001 -- report, don't crash
        return f"spark error: {e}"
    if oracle is None:
        if len(srows) == 0 and name != "dedup_exact":
            return "zero rows (rows-only check)"
        return None
    try:
        rel = con.sql(oracle)
        ocols = list(rel.columns)
        orows = rel.fetchall()
    except Exception as e:  # noqa: BLE001
        return f"oracle error: {e}"
    if sorted(c.lower() for c in scols) != sorted(
            c.lower() for c in ocols):
        return f"schema {scols} vs {ocols}"
    if len(srows) != len(orows):
        return f"rowcount {len(srows)} vs {len(orows)}"
    sn = norm_rows(scols, srows)
    on = norm_rows(ocols, orows)
    if sn != on:
        diffs = [(a, b) for a, b in zip(sn, on) if a != b][:3]
        return f"values differ, e.g. {diffs}"
    return None


def main():
    from pyspark.sql import SparkSession

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import __spark_entry__ as entry
    import registry

    argv = sys.argv[1:]
    family = None
    if "--family" in argv:
        i = argv.index("--family")
        if i + 1 >= len(argv) or argv[i + 1] not in registry.FAMILIES:
            sys.exit(f"usage: --family <one of {registry.FAMILIES}>")
        family = argv[i + 1]
        del argv[i:i + 2]
    full_record = None
    if "--full-record" in argv:
        i = argv.index("--full-record")
        if i + 1 >= len(argv) or argv[i + 1].startswith("--"):
            sys.exit("usage: --full-record <output-path> (path must"
                     " follow the flag)")
        full_record = argv[i + 1]
        del argv[i:i + 2]
    args = [a for a in argv
            if a not in ("--record", "--stability")]
    record = "--record" in argv
    stability = "--stability" in argv
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])
    if family is not None:
        only |= {n for n, e in registry.entries().items()
                 if e.family == family and e.body is not None}

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("oracle-check")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = connect_oracle(sf_dir)
    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    entries = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        err = compare_one(spark, con, sf_dir, name, fn,
                          oracles.get(name), stability=stability)
        if err is None:
            tag = "" if name in oracles \
                else " (no oracle, rows-only check)"
            entries[name] = "ok" if name in oracles \
                else "ok (rows-only)"
            print(f"ok   {name}{tag}")
        elif err.startswith("zero rows"):
            entries[name] = f"ok WARNING {err}"
            print(f"ok   {name}: WARNING {err}")
        else:
            entries[name] = err
            failures.append((name, err))
            print(f"FAIL {name}: {err}")

    print(f"\n{len(failures)} failures"
          + (f": {[f[0] for f in failures]}" if failures else ""))
    if record:
        import json as _json
        import time as _time
        line = {"ts": _time.time(), "oracle_gate": {
            "sf_dir": sf_dir,
            "total": sum(1 for n in qs if not only or n in only),
            "with_oracle": sum(1 for n in qs
                               if (not only or n in only)
                               and n in oracles),
            "stability": stability,
            "failures": [f[0] for f in failures]}}
        with open(os.path.join(os.path.dirname(os.path.dirname(
                os.path.abspath(__file__))), "PROGRESS.jsonl"),
                "a") as fh:
            fh.write(_json.dumps(line) + "\n")
    if full_record:
        import json as _json
        import time as _time
        with open(full_record, "w") as fh:
            _json.dump({"ts": _time.time(), "sf_dir": sf_dir,
                        "stability": stability,
                        "n_entries": len(entries),
                        "n_failures": len(failures),
                        "entries": entries}, fh, indent=1,
                       sort_keys=True)
            fh.write("\n")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
