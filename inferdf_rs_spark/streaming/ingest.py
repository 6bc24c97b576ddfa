"""Structured-streaming ingest: incremental deduction over arriving pages.

The reference has no streaming (SURVEY.md §2.10), but its seeded
``deduce_from_triple`` API (src/system/mod.rs:124-149) is exactly the
incremental-maintenance hook: each micro-batch of new stated triples is
a *delta*, and ``System.fixpoint`` seeded with that delta
(``initial_delta``) runs to convergence against the accumulated closed
store, so every rule stays correct however its hypotheses are fed.

Shape: ``readStream`` (file source) → ``foreachBatch`` → per-batch:
materialize the batch's edge table once (extraction and linking run a
single time however many projections read it), encode and dedup the
stated triples, anti-join them against the store, run the delta-seeded
fixpoint, then copy the closed store out of the fixpoint's caches.
``publish()`` commits the accumulated graph as a versioned snapshot
(sources/snapshots.py), every ``commit_every`` batches or on demand.
With a streaming ``checkpoint``, a restarted query resumes after the
last completed batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..encode import dedup_triples, encode_edges
from ..engine import Dataset, System
from ..schemas import PAGES_SCHEMA, TRIPLE_KEY
from ..terms import merge_terms


class StreamingGraph:
    """Accumulates a closed graph from a stream of page batches.

    Every batch runs through ``System.fixpoint`` — the first with a full
    deduce, later ones seeded with the batch delta (``initial_delta``) —
    so the incremental path shares ALL of the batch path's semantics:
    minted-term accumulation into the dictionary, Eq/True side tables,
    strict expression errors, rule dispatch, and the raise-on-round-cap
    guarantee (no silent partial closure).  Retraction runs through
    ``System.retract``, so inserts and deletes see the same rules,
    constants and functions."""

    def __init__(
        self,
        spark: SparkSession,
        system: System,
        out_dir: str,
        commit_every: int | None = None,
    ):
        from ..caches import CheckpointTracker

        self.spark = spark
        self.system = system
        self.out_dir = out_dir
        # publish a versioned snapshot (sources/snapshots.py) every N
        # batches: without durable commits a long-running stream holds
        # the accumulated graph only in executor caches — a crash loses
        # everything since the stream start.  Snapshot commits make the
        # stream's output CONSUMABLE mid-flight (readers get an isolated
        # version while ingestion continues) and bound the replay window
        # on restart to the batches since the last published version.
        self.commit_every = commit_every
        self.store: DataFrame | None = None
        self.terms: DataFrame | None = None
        self.eqs: DataFrame | None = None
        self.trues: DataFrame | None = None
        self.batches = 0
        self._tracker = CheckpointTracker(spark)
        self._gen_ids: set[int] = set()
        self._side_ids: set[int] = set()  # the eqs/trues part of _gen_ids

    def _adopt(self, res, side: tuple[DataFrame, DataFrame] | None = None) -> None:
        """Copy the result out of the fixpoint's internal caches, then
        release them AND the previous generation: without this every
        call would leave one cached copy of the (growing) store in the
        pool — unbounded memory/disk growth in a long-running stream.
        The pool holds exactly one generation of (store, terms, eqs,
        trues) between batches.  The copy-out also truncates the plan,
        so the store does not gain one union per batch.  ``side``: the
        new (eqs, trues); ``None`` carries the current blocks over."""
        old_gen = self._gen_ids
        self.store, ids_s = self._tracker.checkpoint(res.store)
        self.terms, ids_t = self._tracker.checkpoint(res.terms)
        if side is not None:
            self.eqs, ids_e = self._tracker.checkpoint(side[0])
            self.trues, ids_r = self._tracker.checkpoint(side[1])
            self._side_ids = ids_e | ids_r
        self._gen_ids = ids_s | ids_t | self._side_ids
        res.release()
        self._tracker.release(old_gen - self._gen_ids)

    def process_batch(self, edges: DataFrame, epoch_id: int) -> None:
        # the edge plan (extraction UDFs, link joins) runs ONCE: both the
        # triples and the dictionary rows are read from these blocks,
        # which are released as soon as both of those exist
        edges, ids_edges = self._tracker.checkpoint(edges)
        ds = encode_edges(self.spark, edges, src_partition=f"stream:{epoch_id}")
        new_triples, ids_in1 = self._tracker.checkpoint(dedup_triples(ds.triples))
        new_terms, ids_in2 = self._tracker.checkpoint(ds.terms)
        self._tracker.release(ids_edges)

        if self.store is None:
            store, delta = new_triples, None  # round 1 = full deduce
            terms = merge_terms(new_terms, self.system.rule_constants_terms())
        else:
            # delta = genuinely-new stated facts; store already closed
            delta = new_triples.join(self.store.select(*TRIPLE_KEY), TRIPLE_KEY, "left_anti")
            store = self.store.unionByName(delta)
            terms = merge_terms(self.terms, new_terms)
        res = self.system.fixpoint(Dataset(store, terms), initial_delta=delta)
        eqs = res.eqs if self.eqs is None else self.eqs.unionByName(res.eqs).dropDuplicates()
        trues = (
            res.trues if self.trues is None else self.trues.unionByName(res.trues).dropDuplicates()
        )
        self._adopt(res, (eqs, trues))
        self._tracker.release(ids_in1 | ids_in2)
        self.batches += 1
        if self.commit_every and self.batches % self.commit_every == 0:
            self.publish()

    def retract_batch(self, retracted: DataFrame) -> None:
        """Remove stated facts mid-stream: DRed incremental retraction
        (operators/retract.py) over the accumulated closed store, with
        the same one-generation cache swap as ``process_batch``.
        ``retract`` rejects Eq/True conclusions, so eqs/trues cannot
        change: their blocks carry over into the new generation.
        ``retracted`` carries the TRIPLE_KEY columns.  A later
        ``process_batch`` re-delivering a retracted fact sees it absent
        from the store and re-inserts it as a genuine delta (the
        retract/re-add round-trip is exact, pinned by pytest)."""
        if self.store is None:
            return
        self._adopt(self.system.retract(Dataset(self.store, self.terms), retracted))

    def publish(self) -> int:
        """Commit the accumulated graph as a new snapshot version under
        ``out_dir`` (atomic pointer swap; readers of earlier versions are
        untouched).  The ``snapshot_diff`` between consecutive published
        versions is a ready-made change feed for downstream consumers:
        across batches without a ``retract_batch`` it is pure 'added'
        rows (ingest only adds facts); a version published after a
        retraction also carries the 'removed' rows."""
        from ..sources.snapshots import commit_graph

        return commit_graph(self.store, self.terms, self.out_dir)

    def counts(self) -> tuple[int, int]:
        return (self.store.count() if self.store is not None else 0, self.batches)


def stream_pages_to_graph(
    spark: SparkSession,
    system: System,
    pages_dir: str,
    out_dir: str,
    alias_dict: DataFrame,
    entity_types: DataFrame,
    sameas: DataFrame,
    checkpoint: str | None = None,
):
    """Wire a file-source page stream through extraction+linking into the
    incremental graph.  Returns (query, StreamingGraph); caller drives
    with ``query.processAllAvailable()`` (tests) or awaits termination."""
    from ..pipelines.webkg import stated_edges
    from ..extraction.extract import extract_text

    sg = StreamingGraph(spark, system, out_dir)

    stream = (
        spark.readStream.schema(PAGES_SCHEMA).parquet(pages_dir)
    )

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        edges = stated_edges(spark, extract_text(batch_df), alias_dict, entity_types, sameas)
        sg.process_batch(edges, epoch_id)

    writer = stream.writeStream.foreachBatch(handle).trigger(availableNow=True)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    return q, sg
