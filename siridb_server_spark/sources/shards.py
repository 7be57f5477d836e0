"""Shared scaffolding for the deterministic shard exporters
(tfrecord, Arrow IPC, tar): ONE definition of the md5 shard key, of
the stale-file cleanup and of the shard-file scan, so the sharding
rule and the overwrite contract can't drift per format (they were
previously copy-pasted per exporter)."""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def shard_key(id_col: str):
    """Deterministic md5-derived shard key — the rule every
    exporter here shards by (first 8 hex chars of md5(id) as a
    long; shard = pmod(key, n_shards))."""
    return (F.conv(F.substring(
        F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long"))


def clean_stale_shards(path: str, pattern: str) -> int:
    """Remove pre-existing shard files before an export so a
    re-export with FEWER shards cannot leave stale files a glob
    reader would silently include (re-exports with the same shard
    count were already byte-identical overwrites; this closes the
    shrinking-shard-count case). Runs driver-side at export-call
    time — the same single-writer contract as the compactors: don't
    export beside an active reader. Returns the number removed."""
    n = 0
    for f in glob.glob(os.path.join(path, pattern)):
        os.remove(f)
        n += 1
    return n


def read_shard_files(spark: SparkSession, path: str,
                     pattern: str) -> DataFrame:
    """``(path, content)`` of the files in the directory ``path``
    whose names match ``pattern`` (e.g. ``shard-*.arrow``). The
    directory is loaded with a file-name filter: a glob path first
    looks for a streaming sink's metadata directory and logs a WARN
    with a Java stack trace on every read."""
    return (spark.read.format("binaryFile")
            .option("pathGlobFilter", pattern)
            .load(path)
            .select("path", "content"))
