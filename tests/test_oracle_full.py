"""Full-inventory correctness gate as pytest: every queries() entry
runs against its DuckDB oracle at the driver's correctness scale.
The driver samples ~50 queries per round; this marker proves ALL of
them in one command:

    python -m pytest tests/ -m oracle

Deselected from the default run (pytest.ini addopts) because it
replays the whole inventory (~124 Spark jobs); select it explicitly.
Every entry must also leave the session's persistent-RDD id set as
it found it (or smaller).
``SPARK_GRAFT_ORACLE_SF_DIR`` overrides the data directory (default
/root/testdata/sf0.01, falling back to sf0.001 when absent); it is
deliberately distinct from bench.py's ``SPARK_GRAFT_SF_DIR`` so a
bench run at sf0.1 doesn't silently move the correctness gate.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from scripts.check_oracle import compare_one, connect_oracle  # noqa: E402


def _sf_dir():
    env = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR")
    if env:
        return env
    for cand in ("/root/testdata/sf0.01", "/root/testdata/sf0.001"):
        if os.path.isdir(cand):
            return cand
    return None


SF_DIR = _sf_dir()

import __spark_entry__ as entry  # noqa: E402

_QUERIES = entry.queries()
_ORACLES = entry.oracle_sql()

pytestmark = [
    pytest.mark.oracle,
    pytest.mark.skipif(SF_DIR is None,
                       reason="driver testdata not present"),
]


@pytest.fixture(scope="module")
def oracle_con():
    con = connect_oracle(SF_DIR)
    yield con
    con.close()


def _persistent_ids(spark) -> set[int]:
    return {int(k) for k in
            spark.sparkContext._jsc.getPersistentRDDs().keySet()}


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_oracle(name, spark, oracle_con):
    before = _persistent_ids(spark)
    err = compare_one(spark, oracle_con, SF_DIR, name,
                      _QUERIES[name], _ORACLES.get(name))
    # id-set containment, not a count: the ContextCleaner may reap an
    # earlier entry's blocks concurrently, which could hide a leak
    assert _persistent_ids(spark) <= before, \
        f"{name} left persisted RDDs behind"
    if err is not None and err.startswith("zero rows"):
        pytest.skip(err)  # rows-only entries warn, like the driver
    assert err is None, f"{name}: {err}"
