"""The three workloads.  Each drives the engine only through its public
layer functions and returns a ``Result``: per-op samples for the
end-to-end metrics, ops attempted/failed, and the output checks.

Every workload has the same shape: ``setup`` (untimed by the op
samples; timed as ``setup_s``), one warm-up op (JIT and codegen, not
sampled), then ops back to back until ``--seconds`` have passed and
enough ops are done for the medians, then the end-of-run checks.  In a traced run, ops alternate between the plain
path and the span-wrapped path, so the same process yields the tracing
overhead (median traced op minus median plain op).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inferdf_rs_spark.encode import dedup_triples, encode_edges, term_rows
from inferdf_rs_spark.engine import Dataset, System
from inferdf_rs_spark.extraction import synth
from inferdf_rs_spark.extraction.extract import (
    collect_alias_vocabulary,
    extract_text,
    make_fused_extract_detect,
)
from inferdf_rs_spark.operators.dedup import exact_dedup
from inferdf_rs_spark.operators.match import find_substitutions
from inferdf_rs_spark.pipelines.webkg import (
    KG,
    read_graph,
    run_pipeline,
    static_term_rows,
    stated_edges,
    web_rules,
    write_graph,
)
from inferdf_rs_spark.rules import iri, pat, rule, v
from inferdf_rs_spark.schemas import KIND_IRI, KIND_LITERAL, TRIPLE_KEY, XSD_STRING
from inferdf_rs_spark.sources.ntriples import from_ntriples
from inferdf_rs_spark.sources.snapshots import latest_version, read_graph_version, versions
from inferdf_rs_spark.streaming.ingest import StreamingGraph

from inputs import LiveScript, page_url, write_crawl, write_sameas_dump

READS_PER_OP = 6
WARM_READS = 24
PERSONS = sorted(e for e, t in synth.ENTITY_TYPES.items() if t.endswith("/Person"))


@dataclass
class Result:
    setup_s: float
    op_s: list = field(default_factory=list)  # plain-path op walls
    traced_op_s: list = field(default_factory=list)
    read_s: list = field(default_factory=list)
    fresh_s: list = field(default_factory=list)
    pages_per_s: list = field(default_factory=list)
    facts_per_s: list = field(default_factory=list)
    bytes_per_fact: float = 0.0
    attempted: int = 0
    failed: int = 0
    checks: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)

    def check(self, name: str, ok: bool, detail) -> None:
        """An end-of-run output check counts as one attempted op; a
        mismatch as a failed one."""
        self.attempted += 1
        self.failed += 0 if ok else 1
        self.checks[name] = {"ok": bool(ok), "detail": detail}

    def expect(self, name: str, ok: bool, detail) -> None:
        """A per-op output check: a mismatch fails the op it belongs to."""
        self.checks[name] = {"ok": bool(ok) and self.checks.get(name, {}).get("ok", True), "detail": detail}
        if not ok:
            raise RuntimeError(f"output check failed: {name}: {detail}")


class Ctx:
    def __init__(self, spark, tracer, root: str, seed: int, seconds: float):
        self.spark, self.tr, self.root = spark, tracer, root
        self.seed, self.seconds = seed, seconds

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)


def log(*a) -> None:
    print("kgbench:", *a, file=sys.stderr, flush=True)


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def timed_setup(reps: int, fn) -> float:
    """Run one set-up step ``reps`` times and return its median wall;
    the inputs of the last repetition are the ones used."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    log("set-up walls", [round(w, 2) for w in walls])
    return _median(walls)


def run_window(
    ctx: Ctx, res: Result, op, warm_reads, warmups: int, min_ops: int, max_ops: int = 200
) -> None:
    """``warmups`` warm-up ops and ``warm_reads()``, then ops until the
    window closes (at least ``min_ops`` plain ones, at most ``max_ops``
    in all, warm-ups included).  ``op(traced)`` returns its wall; a
    raised error counts as a failed op.

    The JIT keeps compiling for several ops after the first: without
    the warm-up the medians would mostly measure how far compilation
    had got, which varies from run to run.  Reads are short enough that
    they need their own warm-up."""
    def attempt(traced: bool):
        res.attempted += 1
        ctx.tr.new_trace()
        ctx.tr.on = traced
        try:
            return op(traced)
        except Exception as e:  # a failed op is data, the run goes on
            res.failed += 1
            res.info.setdefault("errors", []).append(repr(e)[:500])
            return None
        finally:
            ctx.tr.on = ctx.tr.enabled

    t0 = time.perf_counter()
    for _ in range(warmups):
        if attempt(False) is not None:
            res.attempted -= 1  # a warm-up that worked is not a measured op
    warm_reads()
    res.info["warmup_s"] = time.perf_counter() - t0
    res.read_s, res.fresh_s, res.pages_per_s, res.facts_per_s = [], [], [], []
    deadline = time.perf_counter() + ctx.seconds
    k = warmups
    while time.perf_counter() < deadline or len(res.op_s) < min_ops:
        traced = ctx.tr.enabled and k % 2 == 1
        wall = attempt(traced)
        if wall is not None:
            (res.traced_op_s if traced else res.op_s).append(wall)
        k += 1
        if k >= max_ops or res.failed > 3:
            break


def _read_rule(s, p, o):
    return rule(variables=1, hypothesis=[pat("+", s, p, o)], statements=[])


class Reader:
    """p-bound pattern reads: prepared once (rule + encoded constants,
    like a prepared statement), executed against the latest graph."""

    def __init__(self, spark, rules):
        self.rules = rules
        self.cids = System(spark, rules).const_ids()

    def read(self, ctx: Ctx, ds: Dataset, i: int) -> int:
        with ctx.tr.span("match") as sp:
            rows = find_substitutions(ds.triples, self.rules[i], self.cids, p_buckets=ds.p_buckets).collect()
            sp.counts["rows"] = len(rows)
        return len(rows)


def person_reader(spark) -> Reader:
    return Reader(spark, [_read_rule(v(0), iri(KG + "mentionsPerson"), iri(p)) for p in PERSONS])


def graph_bytes(meta: dict) -> tuple[int, int]:
    parts = meta["partitions"].values()
    return sum(p["bytes"] for p in parts), sum(p["files"] for p in parts)


def _load_meta(d: str) -> dict:
    with open(os.path.join(d, "graph_meta.json")) as f:
        return json.load(f)


def _signature(df: DataFrame) -> tuple[int, int]:
    row = df.agg(
        F.sum(F.xxhash64(*TRIPLE_KEY).cast("decimal(38,0)")).alias("h"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    return int(row.h or 0), row.n


def _materialize(ctx: Ctx, out_dir: str, store, terms, metrics=None) -> dict:
    with ctx.tr.span("materialize") as sp:
        write_graph(store, terms, out_dir, metrics=metrics)
        meta = _load_meta(out_dir)
        sp.counts["bytes"], sp.counts["files"] = graph_bytes(meta)
    return meta


def _fixpoint_counts(sp, res, n_in: int, n_out: int) -> None:
    sp.counts["rounds"] = res.rounds
    sp.counts["new_facts"] = n_out - n_in
    sp.counts["rules_dispatched"] = sum(len(m.get("rules_run", [])) for m in res.metrics)


# ------------------------------------------------------------ crawl_build

CRAWL_PAGES = 3000
CRAWL_MIRROR_SHARE = 0.2


def crawl_build(ctx: Ctx, setup_reps: int) -> Result:
    spark = ctx.spark
    pages_dir, graph_dir = ctx.path("pages"), ctx.path("graph")
    with ctx.tr.span("setup"):
        kept_expected = 0

        def gen():
            nonlocal kept_expected
            shutil.rmtree(pages_dir, ignore_errors=True)
            kept_expected = write_crawl(pages_dir, ctx.seed, CRAWL_PAGES, CRAWL_MIRROR_SHARE)

        gen_s = timed_setup(setup_reps, gen)
        n_input = spark.read.parquet(pages_dir).count()
        reader = person_reader(spark)
        aliases = collect_alias_vocabulary(synth.alias_dict(spark))
    res = Result(setup_s=gen_s)
    state = {"reads": 0, "sigs": {}}

    def plain_build():
        out = run_pipeline(spark, spark.read.parquet(pages_dir), out_dir=graph_dir, dedup_pages=True)
        state["timings"] = out.timings
        return out.n_pages, out.n_total, out.fidelity_violations

    def traced_build():
        return _crawl_decomposed(ctx, spark.read.parquet(pages_dir), n_input, aliases, graph_dir)

    def op(traced: bool) -> float:
        t0 = time.perf_counter()
        n_kept, n_total, fid = (traced_build if traced else plain_build)()
        t_built = time.perf_counter()
        ds = read_graph(spark, graph_dir)
        rows = reader.read(ctx, ds, state["reads"] % len(PERSONS))
        t_fresh = time.perf_counter()
        walls = [t_fresh - t_built]
        for _ in range(READS_PER_OP - 1):
            state["reads"] += 1
            t = time.perf_counter()
            reader.read(ctx, ds, state["reads"] % len(PERSONS))
            walls.append(time.perf_counter() - t)
        state["reads"] += 1
        meta = _load_meta(graph_dir)
        state["meta"] = meta
        res.expect("fidelity_violations == 0", fid == 0, fid)
        res.expect("kept pages == distinct html", n_kept == kept_expected, [n_kept, kept_expected])
        res.expect("graph_meta n_triples == closed store", meta["n_triples"] == n_total, [meta["n_triples"], n_total])
        res.expect("reads return rows", rows > 0, rows)
        wall = t_built - t0
        if not traced:
            res.read_s.extend(walls)
            res.fresh_s.append(t_fresh - t0)
            res.pages_per_s.append(n_input / wall)
            res.facts_per_s.append(n_total / wall)
        if ctx.tr.enabled:
            state["sigs"]["traced" if traced else "plain"] = _signature(read_graph(spark, graph_dir).triples)
        return wall

    def warm_reads():
        ds = read_graph(spark, graph_dir)
        for i in range(WARM_READS):
            reader.read(ctx, ds, i % len(PERSONS))

    run_window(ctx, res, op, warm_reads, warmups=2, min_ops=4)
    meta = state["meta"]
    res.bytes_per_fact = graph_bytes(meta)[0] / meta["n_triples"]
    if ctx.tr.enabled:
        sigs = state["sigs"]
        res.check("traced graph == run_pipeline graph", sigs.get("traced") == sigs.get("plain"), str(sigs))
        res.info["run_pipeline_timings"] = state.get("timings")
    res.info.update(input_pages=n_input, closed_facts=meta["n_triples"])
    return res


def _crawl_decomposed(ctx: Ctx, pages: DataFrame, n_input: int, aliases, graph_dir: str):
    """``run_pipeline(dedup_pages=True)`` composed from the same public
    functions, with a span around each layer.  Each layer's output is
    materialized inside its span so its work is not deferred into the
    next layer's action."""
    spark, tr = ctx.spark, ctx.tr
    with tr.span("dedup") as sp:
        keep = exact_dedup(pages, text_col="html", id_col="url").filter("keep").select("url")
        keep = keep.localCheckpoint(eager=True)
        sp.counts["kept_ratio"] = keep.count() / n_input
        pages = pages.join(keep, "url", "left_semi")
    alias_d, etypes, sameas = synth.alias_dict(spark), synth.entity_types(spark), synth.sameas_seed(spark)
    with tr.span("extraction") as sp:
        det = make_fused_extract_detect(aliases, spark=spark)
        pages = (
            pages.select("url", "lang", det(F.decode(F.col("html"), "utf-8"), F.col("text")).alias("_ex"))
            .select("url", "lang", F.col("_ex.surfaces").alias("surfaces"), F.col("_ex.fid_ok").alias("_fid_ok"))
            .persist()
        )
        st = pages.agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("_fid_ok"), 0).otherwise(1)).alias("bad"),
            F.sum(F.size("surfaces")).alias("m"),
        ).collect()[0]
        n_pages, fid = st.n, int(st.bad or 0)
        sp.counts.update(pages=n_pages, mentions=int(st.m or 0), fidelity_violations=fid)
    with tr.span("encode") as sp:
        edges = stated_edges(spark, pages, alias_d, etypes, sameas, aliases=aliases, surfaces_col="surfaces")
        terms_df = (
            term_rows(pages, KIND_IRI, "url", distinct=False)
            .unionByName(static_term_rows(spark, alias_d, etypes, sameas))
            .unionByName(term_rows(pages.select("lang").distinct(), KIND_LITERAL, "lang", XSD_STRING, distinct=False))
        )
        ds = encode_edges(spark, edges, terms=terms_df)
        sysm = System(spark, web_rules())
        triples = dedup_triples(ds.triples).localCheckpoint(eager=True)
        terms = ds.terms.unionByName(sysm.rule_constants_terms()).dropDuplicates(["term_id"]).localCheckpoint(eager=True)
        n_stated = triples.count()
        n_edges = ds.triples.count()
        sp.counts.update(stated_facts=n_stated, terms=terms.count(), dup_ratio=1 - n_stated / max(n_edges, 1))
        pages.unpersist()
    with tr.span("fixpoint") as sp:
        res = sysm.fixpoint(Dataset(triples, terms, n_triples=n_stated), max_rounds=20)
        n_total = res.store.count()
        _fixpoint_counts(sp, res, n_stated, n_total)
    _materialize(ctx, graph_dir, res.store, res.terms, res.metrics)
    return n_pages, n_total, fid


# ------------------------------------------------------------ dump_closure

DUMP_COMPONENTS = 500
DUMP_MAX_SIZE = 32
DUMP_PAGES = 2000
# the fixpoint switches from broadcasting the store to co-partitioned
# store pieces past this many rows; scaled with the dump so the closure
# crosses it partway, as a full-size dump crosses the 2M default
DUMP_BROADCAST_ROWS = 30_000


def dump_closure(ctx: Ctx, setup_reps: int) -> Result:
    spark = ctx.spark
    dump_dir, graph_dir = ctx.path("dump"), ctx.path("graph")
    with ctx.tr.span("setup"):
        dump = None

        def gen():
            nonlocal dump
            shutil.rmtree(dump_dir, ignore_errors=True)
            dump = write_sameas_dump(dump_dir, ctx.seed, DUMP_COMPONENTS, DUMP_MAX_SIZE, DUMP_PAGES)

        gen_s = timed_setup(setup_reps, gen)
        reader = Reader(spark, [_read_rule(iri(page_url(p)), iri(KG + "mentions"), v(0)) for p in range(64)])
    res = Result(setup_s=gen_s)
    state = {"reads": 0}

    def op(traced: bool) -> float:
        tr = ctx.tr
        t0 = time.perf_counter()
        with tr.span("ntriples") as sp:
            ds = from_ntriples(spark, spark.read.text(dump_dir))
            n_in = None
            if tr.on:
                ds = Dataset(ds.triples.localCheckpoint(eager=True), ds.terms)
                n_in = ds.triples.count()
                sp.counts["lines"] = n_in
        with tr.span("fixpoint") as sp:
            fx = System(spark, web_rules()).fixpoint(
                ds, store_broadcast_rows=DUMP_BROADCAST_ROWS, store_rows=n_in
            )
            n_total = fx.store.count()
            if tr.on:
                _fixpoint_counts(sp, fx, n_in, n_total)
        meta = _materialize(ctx, graph_dir, fx.store, fx.terms, fx.metrics)
        fx.release()
        t_built = time.perf_counter()
        ds = read_graph(spark, graph_dir)
        walls = []
        rows = 0
        for _ in range(READS_PER_OP):
            t = time.perf_counter()
            rows += reader.read(ctx, ds, state["reads"] % len(reader.rules))
            walls.append(time.perf_counter() - t)
            state["reads"] += 1
        state["meta"], state["rounds"] = meta, fx.rounds
        res.expect("closed facts == union-find count", n_total == dump.expected_facts, [n_total, dump.expected_facts])
        res.expect("graph_meta n_triples == closed store", meta["n_triples"] == n_total, [meta["n_triples"], n_total])
        res.expect("reads return rows", rows > 0, rows)
        wall = t_built - t0
        if not traced:
            res.read_s.extend(walls)
            res.fresh_s.append(t_built - t0 + walls[0])
            res.pages_per_s.append(dump.pages / wall)
            res.facts_per_s.append(n_total / wall)
        return wall

    def warm_reads():
        ds = read_graph(spark, graph_dir)
        for i in range(WARM_READS):
            reader.read(ctx, ds, i % len(reader.rules))

    run_window(ctx, res, op, warm_reads, warmups=1, min_ops=3)
    meta = state["meta"]
    res.bytes_per_fact = graph_bytes(meta)[0] / meta["n_triples"]
    res.info.update(dump_lines=dump.lines, closed_facts=meta["n_triples"], rounds=state["rounds"])
    return res


# ------------------------------------------------------------ live_maintain

LIVE = dict(seed_pages=1000, add_pages=150, retract_pages=150, steps=6)


def live_maintain(ctx: Ctx, setup_reps: int) -> Result:
    spark, tr = ctx.spark, ctx.tr
    script = LiveScript(seed=ctx.seed, **LIVE)
    snap_root = ctx.path("snapshots")
    alias_d, etypes, sameas = synth.alias_dict(spark), synth.entity_types(spark), synth.sameas_seed(spark)
    with tr.span("setup"):
        def gen():
            for d in ("seed_pages", "add_pages"):
                shutil.rmtree(ctx.path(d), ignore_errors=True)
            script.write(ctx.root)

        gen_s = timed_setup(setup_reps, gen)
        aliases = collect_alias_vocabulary(alias_d)

        def edges_of(pages: DataFrame) -> DataFrame:
            return stated_edges(spark, extract_text(pages), alias_d, etypes, sameas, aliases=aliases)

        t0 = time.perf_counter()
        sg = StreamingGraph(spark, System(spark, web_rules()), out_dir=snap_root)
        # kept for the op inputs and the final check: a stated-edge table
        # is what a page source would hand over again on a re-crawl
        seed_edges = edges_of(spark.read.parquet(ctx.path("seed_pages"))).persist()
        sg.process_batch(seed_edges, 0)
        sg.publish()
        seed_graph_s = time.perf_counter() - t0
        log(f"seed graph {seed_graph_s:.2f}s")
        # op inputs: each step's deletion request, an N-Triples feed of
        # the mention edges of the pages it retracts, and the prepared
        # reads (each step's fresh read looks up its first added page)
        page_no = F.split("s_lex", "/").getItem(4).cast("int")
        n_retract = script.retract_range(script.steps - 1)[1]
        seed_edges.filter((F.col("p_lex") == KG + "mentions") & (page_no < n_retract)).select(
            F.concat(F.lit("<"), "s_lex", F.lit("> <"), "p_lex", F.lit("> <"), "o_lex", F.lit("> .")).alias("line"),
            (page_no / script.retract_pages).cast("int").alias("step"),
        ).distinct().write.partitionBy("step").text(ctx.path("retract_feed"))
        fresh = Reader(
            spark,
            [_read_rule(iri(page_url(script.add_range(t)[0])), iri(KG + "mentions"), v(0)) for t in range(script.steps)],
        )
        reader = person_reader(spark)
        n_seed_store = sg.store.count()
        log(f"op inputs prepared {time.perf_counter() - t0 - seed_graph_s:.2f}s")
    res = Result(setup_s=gen_s + seed_graph_s)
    state = {"step": 0, "n_store": n_seed_store, "reads": 0}

    def op(traced: bool) -> float:
        t = state["step"]
        state["step"] += 1
        t0 = time.perf_counter()
        pages = spark.read.parquet(ctx.path("add_pages", f"step={t}"))
        with tr.span("extraction") as sp:
            ex = extract_text(pages)
            if tr.on:
                ex = ex.persist()
                st = ex.agg(
                    F.count("*").alias("n"),
                    F.sum(F.when(F.col("extracted_text").eqNullSafe(F.col("text")), 0).otherwise(1)).alias("bad"),
                ).collect()[0]
                sp.counts.update(pages=st.n, fidelity_violations=int(st.bad or 0))
            edges = stated_edges(spark, ex, alias_d, etypes, sameas, aliases=aliases)
            if tr.on:
                sp.counts["mentions"] = edges.filter(F.col("p_lex") == KG + "mentions").count()
        with tr.span("ingest") as sp_in:
            sg.process_batch(edges, t + 1)
        add_s = time.perf_counter() - t0
        if tr.on:
            ex.unpersist()
        n_before = state["n_store"]
        n_add = sg.store.count()  # untimed: feeds facts_per_s and the layer counts
        sp_in.counts.update(new_facts=n_add - n_before, store_facts=n_add)
        t1 = time.perf_counter()
        with tr.span("materialize") as sp:
            sg.publish()
            meta = _load_meta(latest_data_dir(snap_root))
            sp.counts["bytes"], sp.counts["files"] = graph_bytes(meta)
        ds = read_graph_version(spark, snap_root)
        t2 = time.perf_counter()
        rows = fresh.read(ctx, ds, t)
        t3 = time.perf_counter()
        res.expect("fresh read returns the added page's facts", rows > 0, rows)
        with tr.span("ntriples") as sp:
            doomed = from_ntriples(spark, spark.read.text(ctx.path("retract_feed", f"step={t}")))
            doomed = doomed.triples.select(*TRIPLE_KEY)
            if tr.on:
                doomed = doomed.localCheckpoint(eager=True)
                sp.counts["lines"] = doomed.count()
        with tr.span("retract") as sp:
            sg.retract_batch(doomed)
        retract_s = time.perf_counter() - t3
        n_ret = sg.store.count()  # untimed
        sp.counts["removed_facts"] = n_add - n_ret
        state["n_store"] = n_ret
        walls = [t3 - t2]
        for _ in range(READS_PER_OP):
            tr0 = time.perf_counter()
            reader.read(ctx, ds, state["reads"] % len(PERSONS))
            walls.append(time.perf_counter() - tr0)
            state["reads"] += 1
        state["meta"] = meta
        if not traced:
            res.read_s.extend(walls)
            res.fresh_s.append(add_s + (t3 - t1))
            res.pages_per_s.append(script.add_pages / add_s)
            res.facts_per_s.append(((n_add - n_before) + (n_add - n_ret)) / (add_s + retract_s))
        return add_s + (t3 - t1) + retract_s + sum(walls[1:])

    def warm_reads():
        ds = read_graph_version(spark, snap_root)
        for i in range(WARM_READS):
            reader.read(ctx, ds, i % len(PERSONS))

    run_window(ctx, res, op, warm_reads, warmups=1, min_ops=3, max_ops=script.steps)
    meta = state["meta"]
    res.bytes_per_fact = graph_bytes(meta)[0] / meta["n_triples"]
    t0 = time.perf_counter()
    with tr.span("verify"):
        done = state["step"]
        added = spark.read.parquet(ctx.path("add_pages")).filter(F.col("step") < done).drop("step")
        ds = encode_edges(spark, seed_edges.unionByName(edges_of(added)))
        feed = spark.read.text(ctx.path("retract_feed")).filter(F.col("step") < done).select("value")
        retracted = from_ntriples(spark, feed).triples.select(*TRIPLE_KEY)
        surviving = dedup_triples(ds.triples).join(retracted, TRIPLE_KEY, "left_anti")
        ref = System(spark, web_rules()).fixpoint(Dataset(surviving, ds.terms))
        want, got = _signature(ref.store), _signature(sg.store)
        ref.release()
        seed_edges.unpersist()
    log(f"verify {time.perf_counter() - t0:.2f}s")
    res.check("store == from-scratch fixpoint of surviving stated facts", got == want, [got, want])
    res.info.update(steps=done, store_facts=got[1])
    return res


def latest_data_dir(root: str) -> str:
    latest = latest_version(root)
    return next(m["data_dir"] for m in versions(root) if m["version"] == latest)
