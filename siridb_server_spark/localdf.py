"""Arrow-path construction of small driver-local DataFrames.

``spark.createDataFrame(list_of_tuples, schema)`` always takes the
pickle path: the rows are shipped to the JVM as pickled Python
objects and every SCAN of the resulting LogicalRDD round-trips
through a Python worker to deserialize them. On this platform
(gVisor-sandboxed local mode) that round trip costs ~0.3-0.4 s per
scan — and ~1 s *per parent partition* when a ``coalesce`` folds
several of them into one task. A constant 8-row fixture frame was
paying more per query than a full sf0.1 parquet scan.

Building a ``pyarrow.Table`` with the declared schema and handing it
to ``spark.createDataFrame(table, schema)`` materializes the rows
JVM-side ONCE at creation; later scans are pure JVM (measured 0.045 s
vs 0.33 s for the same 8-row frame). On a real cluster the same
applies: pickle-path local frames re-run Python deserializers on
every scan, Arrow-path frames are plain InternalRows. The table path
is exact (a nullable int64 column stays int64 — no pandas float64
detour) and reads no session conf, so it neither toggles
``spark.sql.execution.arrow.pyspark.enabled`` nor races other threads
over it.

``arrow_df`` is the drop-in replacement: identical signature and
semantics to ``createDataFrame(rows, schema)``, falling back to the
pickle path only when Arrow cannot convert the rows to the declared
types (nested Rows in object columns, a value of the wrong type —
the pickle path then coerces or raises exactly as it always does).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

#: what a failed rows -> Arrow conversion raises: a value Arrow cannot
#: hold in the declared type or a Spark type with no Arrow counterpart
#: (TypeError), a row of the wrong length or an int beyond int64
#: (ValueError, OverflowError)
_ARROW_ERRORS = (TypeError, ValueError, OverflowError, pa.ArrowException)


def arrow_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Build a DataFrame from driver-local ``rows`` through the Arrow
    path so subsequent scans never re-enter a Python worker.

    ``schema`` must be a StructType or a DDL string ("a long, b
    string"). The rows are converted to the declared Arrow types
    directly (never through pandas), so every value arrives exactly;
    rows Arrow cannot convert take the classic pickle path.
    """
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema)
    try:
        aschema = to_arrow_schema(schema)
        columns = zip(*map(tuple, rows), strict=True)
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type)
             for c, f in zip(columns, aschema, strict=True)],
            schema=aschema)
    except _ARROW_ERRORS:
        return spark.createDataFrame(rows, schema)
    return spark.createDataFrame(table, schema)


def fan_out_keyed(df: DataFrame, *key_cols: str,
                  est_bytes: int | None = None) -> DataFrame:
    """Pin the NEXT keyed shuffle at core-count partitions when the
    input is provably small — the per-operator replacement for the
    r13 session-global AQE-floor config (removed on driver
    evidence: it taxed every multi-join plan to speed a handful of
    row-expanding ones). Rationale (guide §2.2/§2.5, §3.3): an
    operator that EXPANDS rows after its shuffle (grid explode,
    partitioned encode) gets its parallelism from that shuffle's
    post-AQE partition count, and AQE sizes partitions from the
    PRE-expansion bytes — a few MB of input coalesces to 1-2 tasks
    no matter how many rows the operator emits. A keyed repartition
    with an EXPLICIT partition count collapses into the downstream
    requirement (same single exchange — plan-asserted in pytest)
    and AQE never coalesces user-numbered repartitions.

    Scale-adaptive by construction: the gate is a size estimate —
    only an input estimated under ~1 MB/core (i.e. one AQE would
    coalesce below core count) is repinned; any realistic input
    leaves the plan byte-identical. Row-preserving: cannot change
    any downstream result.

    ``est_bytes``: callers that KNOW their source's size (e.g. an
    os.stat of the parquet file the frame scans) should pass it —
    the fallback asks the OPTIMIZER for the plan's estimate, and
    that Catalyst run costs ~0.1 s of driver time per call, a real
    tax on sub-second queries (measured: stats() ≈ 100-140 ms on
    these plans). Compressed on-disk bytes under-estimate the
    shuffle bytes, which only makes the gate more conservative
    (fires on strictly smaller inputs)."""
    sc = df.sparkSession.sparkContext
    cores = sc.defaultParallelism
    if est_bytes is not None:
        est = int(est_bytes)
    else:
        est = int(str(df._jdf.queryExecution().optimizedPlan()
                      .stats().sizeInBytes()))
    if est <= 0 or est >= cores * (1 << 20):
        return df
    return df.repartition(cores, *key_cols)


def fan_out(df: DataFrame) -> DataFrame:
    """Spread a few-split input across the session's cores before a
    CPU-HEAVY ROW-LOCAL stage (md5 per gram, per-shingle hash
    families, signature votes) — guide §2.5/§6: derive partitioning
    from what the operator needs instead of inheriting whatever the
    scan produced. The testdata corpora are single-row-group parquet
    (one split), and the r13 sweep measured the heavy gram/signature
    operators near-linear in split count (raw gram explode 2.30 s at
    4 splits vs 0.64 s at 32 on 32 cores) while every LIGHT consumer
    of the same tables prefers the few-split scan (task overhead on
    sub-second queries — dedup_exact 0.24 s at 4 splits vs 0.59 s at
    32). So the fan-out lives HERE, at the heavy operators' entry,
    not in the shared loader. No-op whenever the input already has
    at least core-count partitions — at production scale inputs
    arrive as thousands of native splits and this adds nothing.
    Row-preserving: cannot change any downstream result."""
    if df.isStreaming:
        # no partitions to count (streaming_minhash_dedup signs a
        # stream); its micro-batches arrive spread by the source
        return df
    sc = df.sparkSession.sparkContext
    cores = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= cores:
        return df
    return df.repartition(cores)
