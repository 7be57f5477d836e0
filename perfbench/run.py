"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve_read --seed 1 \
        --seconds 10 --trace 0

Run from the root of a source checkout: the benchmark starts the
engine from the ``siridb_server_spark`` package there. The last line
of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it holds
the full record of the run. The exit code is non-zero when the
program is missing or an answer is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

ROOT = os.getcwd()
WORK_ROOT = os.path.join(ROOT, ".perfbench-work")
REQUIRED = ("siridb_server_spark/__init__.py",
            "siridb_server_spark/engine.py")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("serve_read", "ingest_mixed"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    a = _args(argv)
    missing = [p for p in REQUIRED if not os.path.isfile(p)]
    if missing:
        print(f"perfbench: run from a source checkout; missing "
              f"{', '.join(missing)}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import metrics, workloads

    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = os.path.join(WORK_ROOT, f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        res = workloads.run(a.workload, a.seed, a.seconds, bool(a.trace),
                            work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    table = metrics.PER_LAYER if a.trace else metrics.END_TO_END
    values = res["per_layer"] if a.trace else res["e2e"]
    out = {"correct": not res["mismatches"],
           "attempted": res["attempted"], "failed": res["failed"],
           "metrics": {k: {"value": float(values[k]), "unit": u}
                       for k, (u, _better) in table.items()}}
    record = {k: v for k, v in res.items() if k != "per_layer"}
    print(json.dumps({"record": record}))
    for m in res["mismatches"]:
        print(f"perfbench: wrong answer: {m}", file=sys.stderr)
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
