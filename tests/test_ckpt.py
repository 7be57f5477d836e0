"""Releasable localCheckpoint ownership and release semantics.

The module under test exists because ``df.rdd.unpersist()`` after a
localCheckpoint is a silent no-op (it wraps a NEW conversion RDD)
while unpersisting the wrong persistent-map entry DESTROYS a live
checkpoint; these tests pin the ownership path so a Spark upgrade
that changes the logical-plan shape fails loudly.
"""

import warnings

import pytest

from siridb_server_spark import ckpt
from siridb_server_spark.ckpt import (
    release_local_checkpoint,
    tracked_local_checkpoint,
)


def _persistent_ids(sc) -> set[int]:
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet()}


def test_precise_ownership_and_release(spark):
    """The precise path returns exactly one id, that id is in the
    persistent map, the frame stays usable until release, and
    release (blocking) removes the blocks from the map."""
    sc = spark.sparkContext
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    out, ids = tracked_local_checkpoint(df, eager=True)
    assert len(ids) == 1
    assert ids <= _persistent_ids(sc)
    assert out.count() == 100  # usable while held
    release_local_checkpoint(out, ids)
    assert not (ids & _persistent_ids(sc))


def test_failed_introspection_raises(spark, monkeypatch):
    """When the LogicalRDD introspection throws (a Spark build whose
    plan shape changed), tracked_local_checkpoint raises: no guessed
    owned set can ever unpersist blocks the caller does not own."""
    monkeypatch.setattr(
        ckpt, "_precise_owned",
        lambda out: (_ for _ in ()).throw(RuntimeError("no plan")))
    with pytest.raises(RuntimeError, match="no plan"):
        tracked_local_checkpoint(spark.range(25).selectExpr("id"),
                                 eager=True)


def test_precise_path_emits_no_warning(spark):
    """The normal path is silent: tracking a checkpoint emits no
    RuntimeWarning."""
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        out, ids = tracked_local_checkpoint(
            spark.range(5).selectExpr("id"), eager=True)
    release_local_checkpoint(out, ids)
