"""Round-invariant plan-fragment caches (r6 driver-floor work).

The engine caches compiled scan/conclusion Columns on the rule object
and the facet view on the terms object (see operators/match.py,
operators/conclude.py, terms.py).  These tests pin the two properties
the caches must keep:

1. REUSE: re-entering with identical (rule, const_ids) hands back the
   same compiled pack (what makes fixpoint rounds cheap);
2. INVALIDATION: a different const_ids dict must NOT be served stale
   Columns — constants are baked into the expressions, so a stale hit
   would silently match/emit the wrong term ids.
"""

import pytest
from pyspark.sql import functions as F

from inferdf_rs_spark import blank, build_dataset, iri, pat, rule, stmt_triple, v
from inferdf_rs_spark.operators.conclude import _compile_conclusions, _empty, conclude
from inferdf_rs_spark.operators.match import find_substitutions, pattern_out_cols
from inferdf_rs_spark.terms import encode_terms, resource_facets

EX = "https://example.org/#"


def _mk_rule():
    return rule(
        variables=2,
        hypothesis=[pat("+", v(0), iri(EX + "knows"), v(1))],
        statements=[stmt_triple("+", v(0), iri(EX + "friendOf"), v(1))],
    )


def test_scan_cache_reused_and_invalidated(spark):
    ds = build_dataset(
        spark,
        [
            (blank("a"), iri(EX + "knows"), blank("b")),
            (blank("a"), iri(EX + "likes"), blank("c")),
        ],
    )
    r = _mk_rule()
    cids = encode_terms(spark, r.constants())
    got1 = {tuple(row) for row in find_substitutions(ds.triples, r, cids).collect()}
    pack1 = r._scan_cache
    # same inputs: the cached pack is handed back untouched
    find_substitutions(ds.triples, r, cids)
    assert r._scan_cache is pack1

    # a DIFFERENT const mapping (likes instead of knows) must rebuild the
    # scan predicates — a stale hit would keep matching 'knows'
    r2 = rule(
        variables=2,
        hypothesis=[pat("+", v(0), iri(EX + "likes"), v(1))],
        statements=[stmt_triple("+", v(0), iri(EX + "friendOf"), v(1))],
    )
    cids2 = encode_terms(spark, r2.constants())
    got2 = {tuple(row) for row in find_substitutions(ds.triples, r2, cids2).collect()}
    assert got1 != got2  # different predicate, different matches

    # same rule object, swapped const_ids dict: identity check must miss
    cids_swapped = dict(cids)
    assert r._scan_cache[0] is cids
    find_substitutions(ds.triples, r, cids_swapped)
    assert r._scan_cache[0] is cids_swapped


def test_conclude_cache_reused_and_invalidated(spark):
    r = _mk_rule()
    cids = encode_terms(spark, r.constants())
    p1 = _compile_conclusions(r, 0, cids, None, False)
    assert _compile_conclusions(r, 0, cids, None, False) is p1
    # different rule_idx (src_partition label is baked in) → rebuild
    p2 = _compile_conclusions(r, 1, cids, None, False)
    assert p2 is not p1
    # different const_ids object → rebuild
    p3 = _compile_conclusions(r, 1, dict(cids), None, False)
    assert p3 is not p2
    # lineage flag → rebuild
    p4 = _compile_conclusions(r, 1, dict(cids), None, True)
    assert p4["vec_col"] is not None


def test_conclude_results_identical_across_cache_hits(spark):
    ds = build_dataset(
        spark,
        [
            (blank("a"), iri(EX + "knows"), blank("b")),
            (blank("b"), iri(EX + "knows"), blank("c")),
        ],
    )
    r = _mk_rule()
    cids = encode_terms(spark, r.constants())
    facets = resource_facets(ds.terms)
    subst = find_substitutions(ds.triples, r, cids)
    first = conclude(subst, r, 0, cids, facets, 1, None)
    again = conclude(subst, r, 0, cids, facets, 1, None)  # cache hit
    rows1 = sorted(tuple(x) for x in first.triples.collect())
    rows2 = sorted(tuple(x) for x in again.triples.collect())
    assert rows1 == rows2 and rows1  # non-vacuous


def test_conclude_cache_survives_streaming_retract(spark):
    """Live maintenance alternates ingest and retraction on one System:
    both must hand the conclusion compiler the same (const_ids,
    functions) objects, or every op recompiles every rule's pack."""
    from inferdf_rs_spark import System
    from inferdf_rs_spark.encode import iri_edges
    from inferdf_rs_spark.streaming.ingest import StreamingGraph

    rules = [
        _mk_rule(),
        rule(
            variables=3,
            hypothesis=[
                pat("+", v(0), iri(EX + "knows"), v(1)),
                pat("+", v(1), iri(EX + "knows"), v(2)),
            ],
            statements=[stmt_triple("+", v(0), iri(EX + "reaches"), v(2))],
        ),
    ]
    sg = StreamingGraph(spark, System(spark, rules), out_dir="/tmp/unused")
    edges = [(EX + a, EX + "knows", EX + b) for a, b in [("a", "b"), ("b", "c"), ("c", "d")]]
    sg.process_batch(
        iri_edges(spark.createDataFrame(edges, "s_lex string, p_lex string, o_lex string")), 0
    )
    packs = [getattr(r, "_conclude_cache", None) for r in sg.system.rules]
    assert all(pk is not None for pk in packs)

    doomed = build_dataset(spark, [(iri(EX + "b"), iri(EX + "knows"), iri(EX + "c"))])
    sg.retract_batch(doomed.triples.select("s", "p", "o", "sign"))
    assert sg.store.count() == 4  # a-b, c-d stated + their friendOf
    assert all(r._conclude_cache is pk for r, pk in zip(sg.system.rules, packs))
    sg._tracker.release()


def test_streaming_batch_edge_plan_runs_once(spark):
    """A live batch's edge plan (extraction UDFs, link joins) is read by
    both the triples and the dictionary projections: ``process_batch``
    must run it once, not once per consumer.  A pandas UDF that gates
    row existence counts the rows it sees."""
    import pandas as pd

    from inferdf_rs_spark import System
    from inferdf_rs_spark.encode import iri_edges
    from inferdf_rs_spark.streaming.ingest import StreamingGraph

    seen = spark.sparkContext.accumulator(0)

    @F.pandas_udf("boolean")
    def keep(s: pd.Series) -> pd.Series:
        seen.add(len(s))
        return pd.Series(True, index=s.index)

    rows = [(EX + a, EX + "knows", EX + b) for a, b in [("a", "b"), ("b", "c"), ("c", "d")]]
    raw = spark.createDataFrame(rows, "s_lex string, p_lex string, o_lex string")
    sg = StreamingGraph(spark, System(spark, [_mk_rule()]), out_dir="/tmp/unused")
    sg.process_batch(iri_edges(raw.filter(keep(F.col("s_lex")))), 0)
    assert seen.value == len(rows)
    assert sg.store.count() == 6  # 3 stated + 3 friendOf
    sg._tracker.release()


def test_facets_cache_per_terms_object(spark):
    ds = build_dataset(spark, [(blank("a"), iri(EX + "knows"), blank("b"))])
    f1 = resource_facets(ds.terms)
    assert resource_facets(ds.terms) is f1
    # an eq_mapping invalidates (different facet space)
    m = spark.createDataFrame([], "term_id long, res long")
    f2 = resource_facets(ds.terms, m)
    assert f2 is not f1
    assert resource_facets(ds.terms, m) is f2


def test_empty_is_statically_empty_and_cached(spark):
    e1 = _empty(spark, "a bigint, b boolean")
    assert _empty(spark, "a bigint, b boolean") is e1
    assert e1.count() == 0
    # LIMIT 0 folds to LocalRelation: the optimized plan must not scan an RDD
    opt = e1._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in opt and "LogicalRDD" not in opt
    # and it must union cleanly with a real frame without adding jobs
    real = spark.range(3).select(F.col("id").cast("bigint").alias("a"), F.lit(True).alias("b"))
    assert real.unionByName(e1).count() == 3


def test_pattern_out_cols_matches_scan_projection(spark):
    p = pat("+", v(1), iri(EX + "knows"), v(0))
    assert pattern_out_cols(p) == ["v0", "v1"]
    ground = pat("+", iri(EX + "a"), iri(EX + "knows"), iri(EX + "b"))
    assert pattern_out_cols(ground) == ["_ground"]
