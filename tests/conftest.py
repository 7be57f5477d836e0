import pytest
from pyspark.sql import SparkSession

from siridb_server_spark import SiriEngine


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("sparksiri-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()


def query_both_ways(eng, q: str):
    """``eng.query(q)`` with the driver-side Arrow executor's bound at 0
    (Spark answers) and at its value (Arrow answers what it serves):
    both must give the same qpack bytes, or raise the same error.
    Returns the reply (or raises the error). Any other statement runs
    once."""
    from siridb_server_spark.plans import arrowpath
    from siridb_server_spark.plans import nodes as N
    from siridb_server_spark.plans.parser import Parser
    from siridb_server_spark.sources import qpack

    try:
        is_select = isinstance(Parser(q, eng.precision).parse().stmt,
                               N.SelectStmt)
    except Exception:  # the engine reports the parse error itself
        is_select = False
    if not is_select:
        return SiriEngine.query(eng, q)

    def run():
        try:
            return SiriEngine.query(eng, q), None
        except Exception as exc:  # compared, then re-raised
            return None, exc

    bound = arrowpath.ARROW_SELECT_MAX_POINTS
    arrowpath.ARROW_SELECT_MAX_POINTS = 0
    try:
        spark_out, spark_err = run()
    finally:
        arrowpath.ARROW_SELECT_MAX_POINTS = bound
    arrow_out, arrow_err = run()
    if spark_err is not None or arrow_err is not None:
        assert (type(spark_err), str(spark_err)) == \
            (type(arrow_err), str(arrow_err)), q
        raise arrow_err
    assert qpack.packb(arrow_out) == qpack.packb(spark_out), q
    return arrow_out


@pytest.fixture(scope="session")
def both_ways():
    """``both_ways(eng)`` routes every ``eng.query`` through
    :func:`query_both_ways` and returns the engine."""
    def wrap(eng):
        eng.query = lambda q: query_both_ways(eng, q)
        return eng
    return wrap


@pytest.fixture(scope="session")
def query_both():
    """:func:`query_both_ways` as a fixture."""
    return query_both_ways


@pytest.fixture
def spark_selects(monkeypatch):
    """Pin selects to the Spark path (the Arrow executor's bound at
    0): for tests whose subject is a Spark plan (rollup, compose,
    plan build), which would otherwise compare Arrow with Arrow."""
    from siridb_server_spark.plans import arrowpath
    monkeypatch.setattr(arrowpath, "ARROW_SELECT_MAX_POINTS", 0)
