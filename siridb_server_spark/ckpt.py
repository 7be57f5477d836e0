"""Releasable localCheckpoint for iterative / per-micro-batch use.

``DataFrame.localCheckpoint`` both truncates lineage AND persists the
checkpoint blocks — but gives the caller no handle to free them:

- ``df.rdd.unpersist()`` is a silent no-op (``df.rdd`` wraps a NEW
  conversion RDD, not the JVM-side checkpoint RDD), so "release"
  code built on it leaks one session-lifetime cached RDD per call
  until the ContextCleaner happens to collect it;
- the real checkpoint RDD lives only in the SparkContext's
  persistent-RDD map, and unpersisting it DESTROYS the checkpoint
  (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on any later action), so it
  must only happen once the frame is provably finished — and only
  for blocks this caller actually owns.

Ownership is read STRAIGHT OFF the checkpointed frame: a
localCheckpoint'd Dataset's logical plan is a ``LogicalRDD`` whose
``rdd()`` is exactly the persisted checkpoint RDD, so its id — not a
before/after diff of the persistent-RDD map — identifies the blocks.
That makes release correct under CONCURRENT queries too (two
streaming sinks checkpointing on their own foreachBatch threads can
never capture each other's registrations, which a map-diff could).
A Spark build whose plan shape breaks this introspection raises
instead of guessing.

Callers: the distributed connected-components loop (one superseded
state frame per round) and the streaming ingest sinks (two frames
per micro-batch — a long-running stream must not grow the block
manager monotonically).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _precise_owned(out: DataFrame) -> set[int]:
    """The checkpointed Dataset's own block id: its logical plan is
    LogicalRDD(rdd) where rdd IS the persisted checkpoint RDD
    (verified for eager and lazy on Spark 4)."""
    return {int(out._jdf.queryExecution().logical().rdd().id())}


def tracked_local_checkpoint(df: DataFrame,
                             eager: bool = True):
    """``df.localCheckpoint(eager)`` plus the persistent-RDD ids the
    checkpoint owns — pass both to
    :func:`release_local_checkpoint` when the frame is finished.
    The returned frame must NOT be used after release."""
    out = df.localCheckpoint(eager=eager)
    return out, _precise_owned(out)


def release_local_checkpoint(df: DataFrame, ids) -> None:
    """Free the checkpoint blocks ``tracked_local_checkpoint``
    registered for ``df`` (blocking, so a hygiene snapshot taken
    right after sees them gone). Safe on an empty id set."""
    if not ids:
        return
    m = df.sparkSession.sparkContext._jsc.getPersistentRDDs()
    for k in list(m.keySet()):
        if int(k) in ids:
            m.get(k).unpersist(True)
