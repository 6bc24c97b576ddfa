"""Focused pins for the third-pass scale kernels (OPTIMIZATION_r06.md):

- ``embedding_near_dup_pairs``: bucket-local applyInPandas verify must be
  bit-identical to the former shape (bucket self-join + JVM cosine fold)
  and its plan must carry no pair-attach join.
- ``semantic_dedup``: the intra-cluster hash fan-out must return
  byte-identical survivors to a brute-force per-cluster reference.
- ``ann_ivf``: the numpy batch distance must equal the former
  interpreted zip_with/aggregate integer fold row-for-row.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from inferdf_rs_spark.operators import similarity
from inferdf_rs_spark.operators.clustering import (
    MILLI,
    ann_ivf,
    kmeans_assign,
    kmeans_fit,
    semantic_dedup,
)


def _vecs(spark, n=120, dim=8, dups_every=7):
    """Deterministic float32 corpus with planted near-duplicates: every
    ``dups_every``-th vector is a tiny perturbation of its predecessor."""
    rows = []
    for i in range(n):
        base = [((i * 31 + j * 17) % 19 - 9) / 7.0 for j in range(dim)]
        if i % dups_every == 0 and i > 0:
            prev = rows[-1][1]
            base = [v + 0.001 for v in prev]
        rows.append((i, [float(v) for v in base]))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


@pytest.mark.parametrize("id_type", ["bigint", "string"])
def test_embed_near_dup_bucket_kernel_matches_jvm_join(spark, id_type):
    """The bucket-local kernel's output (ids AND cosine_micro) must equal
    the former formulation: sign-code self-join on (tbl, code), pair
    dedup, then the JVM zip_with/aggregate cosine fold — the reference
    the DuckDB oracle was originally validated against.  Ids keep their
    input type (string ids order lexicographically on both sides)."""
    emb = _vecs(spark).withColumn("vec_id", F.col("vec_id").cast(id_type))
    dim, n_planes, n_tables, thr = 8, 4, 4, 0.6

    got = similarity.embedding_near_dup_pairs(
        emb, threshold=thr, n_planes=n_planes, n_tables=n_tables, dim=dim
    )

    codes = similarity.sign_codes(emb, dim, n_planes, n_tables).select("vec_id", "tbl", "code")
    a = codes.select(F.col("vec_id").alias("id_a"), "tbl", "code")
    b = codes.select(F.col("vec_id").alias("id_b"), "tbl", "code")
    cands = (
        a.join(b, on=["tbl", "code"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates()
    )
    ea = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    eb = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    ref = (
        cands.join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn("cos", similarity.cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= thr)
        .select("id_a", "id_b", F.floor(F.col("cos") * 1e6).cast("long").alias("cosine_micro"))
    )
    got_rows = sorted(tuple(r) for r in got.collect())
    ref_rows = sorted(tuple(r) for r in ref.collect())
    assert len(got_rows) > 0, "fixture must produce near-dup pairs"
    assert got_rows == ref_rows


def test_embed_near_dup_plan_has_no_pair_attach_join(spark):
    """Scale pin: the verify must run inside the bucket groups — no join
    attaching vectors to candidate pairs survives in the plan."""
    emb = _vecs(spark)
    plan = (
        similarity.embedding_near_dup_pairs(emb, threshold=0.6, n_planes=4, n_tables=4, dim=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "FlatMapGroupsInPandas" in plan
    for join in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert join not in plan, plan


def test_semantic_dedup_fanout_matches_bruteforce(spark):
    """With few centers the fan-out path is active (n_sub > 1 at the
    test session's parallelism); survivors must equal the brute-force
    per-cluster keep rule computed in numpy."""
    emb = _vecs(spark, n=150)
    centers = kmeans_fit(emb, k=2, iters=2)
    thr = 40
    got = sorted(r[0] for r in semantic_dedup(emb, centers, max_dist_milli2=thr).collect())

    # take the milli quantization FROM the engine so the reference uses
    # byte-identical integers (Spark's round is half-away-from-zero)
    milli = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") * MILLI).cast("long")
    )
    rows = sorted((r["vec_id"], r["_v"]) for r in emb.select("vec_id", milli.alias("_v")).collect())
    assign = {r["vec_id"]: r["cluster"] for r in kmeans_assign(emb, centers).collect()}
    V = {i: np.array(v, dtype=np.int64) for i, v in rows}
    expect = []
    for i, _ in rows:
        dropped = False
        for j, _ in rows:
            if j >= i or assign[j] != assign[i]:
                continue
            d = int(((V[i] - V[j]) ** 2).sum())
            if d <= thr:
                dropped = True
                break
        if not dropped:
            expect.append(i)
    assert got == sorted(expect)
    # the planted near-duplicates must actually exercise the drop path
    assert len(got) < len(rows)


def test_ann_ivf_matches_jvm_distance_fold(spark):
    """The batch numpy distance must reproduce the former interpreted
    integer fold exactly: compare the full ann_ivf output against a
    reference scored with zip_with/aggregate."""
    emb = _vecs(spark, n=150)
    centers = kmeans_fit(emb, k=3, iters=2)
    queries = [5, 42, 99]
    got = sorted(tuple(r) for r in ann_ivf(emb, centers, queries, k=5, nprobe=2).collect())

    from pyspark.sql import Window

    milli = F.transform(F.col("embedding"), lambda x: F.round(x.cast("double") * MILLI).cast("long"))
    base = emb.select(F.col("vec_id"), milli.alias("_v")).join(
        kmeans_assign(emb, centers), "vec_id"
    )
    from inferdf_rs_spark.operators.clustering import _nearest_udf

    q = (
        base.filter(F.col("vec_id").isin(queries))
        .withColumn("_probes", _nearest_udf(emb, centers, 2)(F.col("_v")))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("_v").alias("qvec"),
            F.explode("_probes").alias("cluster"),
        )
    )
    cand = base.join(F.broadcast(q), on="cluster").filter(F.col("vec_id") != F.col("query_id"))
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.aggregate(
            F.zip_with(F.col("_v"), F.col("qvec"), lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dist_milli2"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.col("dist_milli2").asc(), F.col("neighbor_id").asc())
    ref = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "rank", "dist_milli2")
    )
    ref_rows = sorted(tuple(r) for r in ref.collect())
    assert got == ref_rows
