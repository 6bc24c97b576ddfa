"""Cache-lifecycle helpers for iterative drivers.

``localCheckpoint`` truncates lineage by materializing blocks in the
storage pool, but Spark gives no DataFrame-level handle to release
those blocks later: an iterative loop that checkpoints every round
(fixpoint, eq-closure, WL refinement) therefore retains one generation
of blocks per round unless superseded generations are explicitly
unpersisted.  At test scale that is invisible; at web scale a 25-round
closure pins ~25 copies of the label table.

Release works by RDD id: snapshot the persistent-RDD id set around the
checkpoint call and remember exactly the ids it created.  Driver-side,
single-threaded use only — a concurrent persist from another thread
would land in the wrong tracked set (documented limitation; every
driver loop in this engine is single-threaded).

NB: unpersisting a localCheckpoint'ed RDD discards data that can NOT be
recomputed (lineage was truncated) — only release generations that are
provably never read again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of all currently-persisted RDDs in this context."""
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def unpersist_rdd_ids(spark: SparkSession, ids, blocking: bool = False) -> None:
    """Release the blocks behind the given persistent-RDD ids (no-op for
    ids already gone)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        jrdd = jmap.get(i)
        if jrdd is not None:
            jrdd.unpersist(blocking)


class CheckpointTracker:
    """Routes persist/localCheckpoint calls so the RDD ids they create
    are remembered and can be released once superseded."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.ids: set[int] = set()

    def _run(self, fn):
        before = persistent_rdd_ids(self.spark)
        out = fn()
        created = persistent_rdd_ids(self.spark) - before
        self.ids |= created
        return out, created

    def checkpoint(self, df: DataFrame) -> tuple[DataFrame, set[int]]:
        """Eagerly localCheckpoint ``df`` (memory-and-disk, deserialized
        blocks); returns (checkpointed df, created ids)."""
        return self._run(lambda: df.localCheckpoint(eager=True))

    def persist(self, df: DataFrame, storage_level) -> tuple[DataFrame, set[int], int]:
        """persist + materialize (count) so the cached RDD registers
        inside the tracked window — Dataset.persist alone is lazy and its
        RDD id only appears at first materialization.  Returns
        (persisted df, created ids, row count): the materializing count
        is surfaced so callers never pay a second count job for it."""
        n = 0

        def go():
            nonlocal n
            out = df.persist(storage_level)
            n = out.count()
            return out

        out, created = self._run(go)
        return out, created, n

    def release(self, ids=None, blocking: bool = False) -> None:
        """Unpersist the given ids (default: everything tracked)."""
        ids = set(self.ids) if ids is None else set(ids)
        unpersist_rdd_ids(self.spark, ids, blocking)
        self.ids -= ids
