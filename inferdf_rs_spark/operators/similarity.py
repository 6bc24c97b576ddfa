"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline; the LSH-bucketed
variant is the 100 TB scale path (candidates only from sign-bucket
collisions — the cross product never materializes).

All dot products run JVM-side via ``zip_with`` + ``aggregate`` in
double precision, left-to-right — bit-reproducible by the DuckDB
oracle's list_transform/list_aggregate evaluation.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _dot_lr(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise dot product with STRICT left-to-right accumulation:
    ``cumsum`` is ``np.add.accumulate`` — the sequential fold — so every
    partial sum is bit-identical to the JVM ``aggregate`` fold above
    (products are the same correctly-rounded float64 muls; addition
    order is the only degree of freedom and it matches).  A plain
    ``sum``/BLAS dot would reassociate and could flip the last ulp at a
    ``floor``/rank boundary (the engine-wide determinism caveat in
    __spark_entry__)."""
    return np.cumsum(A * B, axis=1)[:, -1]


_COSINE_BATCH_UDF = None

# pairs per verify block inside the bucket-local near-dup kernel: bounds
# the kernel's temporaries to ~3 x 64 x 65536 float64 ~ 100 MB per task
_VERIFY_BLOCK = 1 << 16


def cosine_batch(a: Column, b: Column) -> Column:
    """Vectorized cosine, bit-identical to ``cosine``: same float32 →
    float64 widening, same correctly-rounded products, same
    left-to-right summation (``_dot_lr``), same /·sqrt.  Exists because
    the Catalyst higher-order ``aggregate`` lambda is interpreted
    per-element — measured ~4x slower than this Arrow batch kernel on
    the near-dup verify join (guide §4.2: hand whole batches to
    vectorized native code).  The UDF object is built lazily (and
    cached): ``pandas_udf`` needs an active SparkSession, and this
    module imports before the session exists in the bench/driver
    entrypoints."""
    global _COSINE_BATCH_UDF
    if _COSINE_BATCH_UDF is None:

        @F.pandas_udf("double")
        def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
            A = np.stack(a.to_numpy()).astype(np.float64)
            B = np.stack(b.to_numpy()).astype(np.float64)
            return pd.Series(
                _dot_lr(A, B) / (np.sqrt(_dot_lr(A, A)) * np.sqrt(_dot_lr(B, B)))
            )

        _COSINE_BATCH_UDF = _cos
    return _COSINE_BATCH_UDF(a, b)


def brute_force_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for a small set of query vectors.

    The query side is a handful of rows → broadcast into the scan; the
    big side is read once, no shuffle until the per-query top-k window
    (partitioned by query id → k·|Q| rows survive).
    Output (query_id, neighbor_id, rank, cosine_micro)."""
    q = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    joined = embeddings.crossJoin(F.broadcast(q)).filter(F.col(id_col) != F.col("query_id"))
    scored = joined.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        cosine_batch(F.col("qvec"), F.col(vec_col)).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.floor(F.col("cos") * 1e6).cast("long").alias("cosine_micro"),
        )
    )


def cosine_consecutive(embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Cosine between each vector and its id-successor (O(n) probe)."""
    nxt = embeddings.select((F.col(id_col) - 1).alias(id_col), F.col(vec_col).alias("vec_next"))
    return (
        embeddings.join(nxt, on=id_col)
        .select(
            id_col,
            F.floor(cosine(F.col(vec_col), F.col("vec_next")) * 1e6).cast("long").alias("cosine_micro"),
        )
    )


def _hamming_ball_masks(n_planes: int, n_probes: int) -> list[int]:
    """XOR masks covering the Hamming ball of radius n_probes-1
    (probe 1 = just the exact bucket)."""
    from itertools import combinations

    masks = [0]
    for radius in range(1, n_probes):
        for bits in combinations(range(n_planes), radius):
            masks.append(sum(1 << b for b in bits))
    return masks


# embedding quantization scale for the EXACT integer sign test (2^20:
# float32 inputs widened to float64 then scaled by a power of two —
# both steps exact, so Spark and any SQL oracle see identical integers)
QUANT_SCALE = 1 << 20


def _hyperplanes(dim: int, n_planes: int, table: int = 0) -> list[list[int]]:
    """Deterministic pseudo-random hyperplanes from md5 — no RNG state,
    identical across runs/executors; ``table`` seeds independent plane
    sets for multi-table LSH.  Coefficients are signed 32-bit INTEGERS
    (first 4 md5 bytes, big-endian, centered): the sign test then runs
    in exact int64 arithmetic — reassociation-proof, so a SQL oracle
    (DuckDB: ``('0x'||substr(md5(s),1,8))::BIGINT - 2147483648``)
    reproduces every code bit-for-bit, which a float dot product cannot
    guarantee (BLAS vs SQL summation order).  Magnitude audit: |coeff| <
    2³¹ and |quantized emb| < 2²¹ ⇒ a 1024-dim dot stays < 2⁶² — no
    int64 overflow on either engine."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"plane:{table}:{p}:{d}".encode()).digest()
            row.append(int.from_bytes(h[:4], "big", signed=False) - 2**31)
        planes.append(row)
    return planes


def auto_n_planes(n_vectors: int, target_occupancy: int = 64, lo: int = 4, hi: int = 24) -> int:
    """Plane count keeping the EXPECTED per-table bucket occupancy
    (n/2^planes) at or below ``target_occupancy``: candidate work per
    probe stays bounded as the corpus grows instead of scaling linearly.
    Callers pass the (approximate) corpus size from metadata — never a
    driver-side count in the hot path.  Clamped to [lo, hi]: below lo
    recall machinery degenerates, above hi (16M+ buckets/table) bucket
    sparsity starves recall."""
    import math

    if n_vectors <= target_occupancy:
        return lo
    return max(lo, min(hi, math.ceil(math.log2(n_vectors / target_occupancy))))


def auto_lsh_params(
    n_vectors: int,
    target_occupancy: int = 64,
    target_recall: float = 0.9,
    p_agree: float = 2.0 / 3.0,
    max_probes: int = 4,
    max_tables: int = 64,
    lo: int = 4,
    hi: int = 24,
    probes: int | None = None,
) -> tuple[int, int, int]:
    """Joint (n_planes, n_tables, n_probes) from corpus-size METADATA.

    ``auto_n_planes`` alone keeps bucket occupancy bounded, but recall
    falls as planes grow (a true neighbor must agree on more sign bits
    per table), and at the hi-clamp recall was previously
    uncharacterized.  This scales the recall knobs ALONGSIDE the plane
    count using the standard random-hyperplane model: a neighbor pair at
    angle θ agrees with one plane w.p. ``p_agree`` (= 1 − θ/π; the 2/3
    default is θ = 60°, cosine 0.5 — conservative for near-duplicate
    neighbors, which are closer), so its per-table collision probability
    within the multiprobe Hamming ball of radius r is
    ``q = Σ_{h≤r} C(planes, h)·p^(planes−h)·(1−p)^h`` and OR-over-tables
    recall is ``1 − (1−q)^tables``.  Probes grow first (query-side only
    — data-side cost is zero), then tables to the smallest count meeting
    ``target_recall``, clamped to ``max_tables`` (data-side cost is
    linear in tables).  Pure driver-side arithmetic — no data probe.
    ``probes``: pin the probe count instead of auto-growing it — a
    caller whose match stage probes NO neighboring buckets (the
    near-dup path matches codes exactly) passes ``probes=1`` so tables
    are sized from the radius-0 collision probability ``p^planes``;
    reusing the multiprobe-derived table count there understates the
    model's target recall.

    On clamp (the computed table count exceeds ``max_tables``) the model
    recall target is unmet — a ``UserWarning`` reports the achieved
    model recall so callers are never silently under target.

    Validated end-to-end on a 50k-vector clustered fixture
    (tests/test_extensions.py::test_ann_lsh_auto_params_recall_at_scale).
    """
    import math
    import warnings

    planes = auto_n_planes(n_vectors, target_occupancy, lo=lo, hi=hi)

    def q(n_probes: int) -> float:
        r = n_probes - 1
        return sum(
            math.comb(planes, h) * p_agree ** (planes - h) * (1 - p_agree) ** h
            for h in range(r + 1)
        )

    if probes is None:
        probes = 3
        while probes < max_probes and q(probes) < 0.15:
            probes += 1
    qq = q(probes)
    if qq >= 1.0:
        tables = 1
    else:
        tables = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - qq))
    tables = max(8, min(max_tables, tables))
    achieved = 1.0 - (1.0 - qq) ** tables
    if achieved < target_recall:
        warnings.warn(
            f"auto_lsh_params: table count clamped at max_tables={max_tables}; "
            f"model recall {achieved:.3f} < target {target_recall} "
            f"(planes={planes}, probes={probes}) — raise max_tables or "
            f"accept the lower recall",
            stacklevel=2,
        )
    return planes, tables, probes


def sign_codes(
    embeddings: DataFrame,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-table LSH sign codes: (id, vec, tbl, code) — one row per
    (vector, table).

    All table codes in ONE vectorized Arrow batch: a (batch × dim) @
    (dim × tables·planes) matmul then sign-pack, in EXACT int64
    arithmetic (quantized embeddings × integer planes — summation order
    can't flip a sign, unlike float — see ``_hyperplanes``).  The
    pure-Column alternative (n_tables × n_planes literal arrays folded
    per row) builds a ~4096-literal expression tree that chokes codegen
    — measured 7s vs <2s at 500×64-d.  Map-only either way."""
    mat = np.array(
        [p for t in range(n_tables) for p in _hyperplanes(dim, n_planes, t)], dtype="int64"
    ).T  # (dim, n_tables*n_planes)
    weights = (2 ** np.arange(n_planes)).astype("int64")

    @F.pandas_udf("array<long>")
    def codes_udf(vs: pd.Series) -> pd.Series:
        m = np.stack(vs.to_numpy()).astype("float64")  # (batch, dim)
        mq = np.floor(m * QUANT_SCALE).astype("int64")
        signs = (mq @ mat) > 0  # exact int64 dot, (batch, tables*planes)
        c = (signs.reshape(len(m), n_tables, n_planes) * weights).sum(axis=2)
        return pd.Series(list(c))

    return embeddings.select(
        F.col(id_col), F.col(vec_col), F.posexplode(codes_udf(F.col(vec_col))).alias("tbl", "code")
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    n_planes: int | None = 8,
    n_tables: int | None = 8,
    dim: int | None = None,
    n_vectors: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates from sign-LSH
    bucket collisions (any table), verified by exact cosine ≥ threshold.
    Output (id_a, id_b, cosine_micro).

    The dedup-family sibling of ``minhash_near_dup_pairs``: candidate
    pairs exist only within an LSH bucket, so the verify cosines are
    computed INSIDE each (table, code) bucket by an ``applyInPandas``
    pair kernel — each vector crosses the wire once per bucket it
    occupies (n x n_tables rows total), never once per candidate pair.
    The former shape (narrow pair dedup exchange + two joins attaching
    the vectors to every candidate pair) shuffled 2 x dim floats per
    PAIR: with fixed n_planes the per-bucket occupancy grows ~n/2^planes
    and the pair count ~n^2/2^planes, so at 100x bench scale that was
    ~6 x 10^8 wide rows (~450 s measured); the bucket-local kernel
    ships ~10^6 vector copies instead.  Only pairs that PASS the
    threshold reach the final pair-dedup exchange.  Pass ``n_vectors``
    with ``n_planes=None`` to keep occupancy bounded as the corpus
    grows (``auto_n_planes``).  Bit-exact vs the previous shape and the
    DuckDB oracle in ``__spark_entry__``: same float32->float64
    widening, same left-to-right accumulation (``_dot_lr``), same
    floor(cos * 1e6); recall vs the brute-force pair set is a property
    of n_tables/n_planes."""
    if dim is None:
        raise ValueError("embedding_near_dup_pairs requires the embedding dimension 'dim'")
    if n_planes is None:
        if n_vectors is None:
            raise ValueError("n_planes=None (auto) requires n_vectors (corpus-size metadata)")
        if n_tables is None:
            # joint auto: recall knob scales with the plane count.  This
            # path matches codes EXACTLY (no bucket probing → Hamming
            # radius 0), so tables are sized from the radius-0 collision
            # probability (probes=1) — the multiprobe-derived table count
            # would understate the model's target recall here
            n_planes, n_tables, _ = auto_lsh_params(n_vectors, probes=1)
        else:
            n_planes = auto_n_planes(n_vectors)
    elif n_tables is None:
        raise ValueError("n_tables=None (auto) requires n_planes=None too")

    from .dedup import spread_input

    embeddings = spread_input(embeddings)
    coded = sign_codes(embeddings, dim, n_planes, n_tables, id_col, vec_col)
    id_type = dict(embeddings.dtypes)[id_col]
    thr = float(threshold)

    def _bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()  # any orderable id type: emitted as is
        empty = {
            "id_a": np.array([], dtype=ids.dtype),
            "id_b": np.array([], dtype=ids.dtype),
            "cosine_micro": np.array([], dtype=np.int64),
        }
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(empty)
        V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.sqrt(_dot_lr(V, V))  # row-wise: identical to the per-pair _dot_lr(A, A)
        # pair index memory is O(occupancy^2) per bucket — the same bound
        # the candidate set itself already has (auto_n_planes keeps
        # occupancy ~target as the corpus grows)
        ia, ib = np.triu_indices(n, k=1)
        swap = ids[ia] > ids[ib]  # orient ascending, as the former id_a < id_b filter did
        pa = np.where(swap, ib, ia)
        pb = np.where(swap, ia, ib)
        outs = [empty]
        for s in range(0, len(pa), _VERIFY_BLOCK):
            sa, sb = pa[s : s + _VERIFY_BLOCK], pb[s : s + _VERIFY_BLOCK]
            cos = _dot_lr(V[sa], V[sb]) / (norms[sa] * norms[sb])
            keep = (cos >= thr) & (ids[sa] != ids[sb])
            if keep.any():
                outs.append(
                    {
                        "id_a": ids[sa[keep]],
                        "id_b": ids[sb[keep]],
                        "cosine_micro": np.floor(cos[keep] * 1e6).astype(np.int64),
                    }
                )
        return pd.concat([pd.DataFrame(o) for o in outs], ignore_index=True)

    return (
        coded.groupBy("tbl", "code")
        .applyInPandas(_bucket_pairs, f"id_a {id_type}, id_b {id_type}, cosine_micro long")
        .dropDuplicates(["id_a", "id_b"])
    )


def lsh_bucket_ann(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_planes: int | None = 8,
    n_tables: int | None = 8,
    n_probes: int = 3,
    dim: int | None = None,
    n_vectors: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _candidates_only: bool = False,
) -> DataFrame:
    """Approximate top-k: multi-table, multi-probe random-hyperplane LSH.

    Each of ``n_tables`` independent plane sets assigns every vector a
    ``n_planes``-bit sign code; a vector is a candidate for a query iff
    they collide in *any* table (OR-over-tables — recall rises with
    n_tables, per-table bucket occupancy stays ~n/2^n_planes).  With
    ``n_probes`` > 1 the *query side only* additionally probes every
    bucket within Hamming distance n_probes-1 of its code (classic
    multi-probe LSH) — recall rises steeply with zero extra cost on the
    data side, because only the tiny broadcast query relation expands
    (×Σ C(n_planes, h)).  Candidates are deduped, exactly re-ranked by
    cosine, and the per-query top-k returned.

    Scale path: code assignment is map-only; the candidate join keys on
    (table, code) against the broadcast query side, so work is
    proportional to total occupancy of the probed buckets — the n²
    cross product never materializes.  Pass ``n_vectors`` (corpus size
    from table metadata, NOT a driver count) with ``n_planes=None`` to
    auto-scale the plane count so per-table occupancy stays bounded as
    the corpus grows (``auto_n_planes``); n_tables/n_probes tune recall.

    ``dim`` must be given (or derivable from a driver-side constant) —
    no ``.first()`` probe in the hot path; raises if omitted.
    Recall < 1 by construction: characterized by ``recall_vs_exact``
    and the tests/test_extensions.py harness (≥0.9 @ k=10 on the
    sf0.01 fixture, measured 0.96).  The whole pipeline is
    DETERMINISTIC and integer-exact up to the final cosine re-rank
    (md5 integer hyperplanes × 2²⁰-quantized embeddings — see
    ``_hyperplanes``), so the DuckDB oracle in ``__spark_entry__``
    reproduces it row-for-row.
    """
    if dim is None:
        raise ValueError(
            "lsh_bucket_ann requires the embedding dimension 'dim' "
            "(no driver-side data probe in a library function)"
        )
    if n_planes is None:
        if n_vectors is None:
            raise ValueError("n_planes=None (auto) requires n_vectors (corpus-size metadata)")
        if n_tables is None:  # joint auto: recall knobs scale with the plane count
            n_planes, n_tables, n_probes = auto_lsh_params(n_vectors)
        else:
            n_planes = auto_n_planes(n_vectors)
    elif n_tables is None:
        raise ValueError("n_tables=None (auto) requires n_planes=None too")

    with_b = sign_codes(embeddings, dim, n_planes, n_tables, id_col, vec_col)

    # query side: expand each code to its Hamming-<n_probes ball
    probe_masks = _hamming_ball_masks(n_planes, n_probes)
    q = (
        with_b.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            "tbl",
            F.explode(F.array(*[F.lit(m) for m in probe_masks])).alias("mask"),
            F.col("code"),
        )
        .select(
            "query_id", "qvec", "tbl", F.col("code").bitwiseXOR(F.col("mask")).alias("code")
        )
    )
    cands = (
        with_b.join(F.broadcast(q), on=["tbl", "code"])
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neighbor_id"), "qvec", F.col(vec_col))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    if _candidates_only:
        return cands.select("query_id", "neighbor_id")
    # JVM fold, not cosine_batch: the multiprobe candidate set is a few
    # hundred rows per query — the Arrow boundary's fixed stage cost
    # exceeds the interpreted fold here (measured +0.2-0.4 s at sf1.0);
    # the batch kernel pays off on the large verify joins
    # (embedding_near_dup_pairs) and full-corpus scans (brute_force_topk)
    scored = cands.select(
        "query_id", "neighbor_id", cosine(F.col("qvec"), F.col(vec_col)).alias("cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.floor(F.col("cos") * 1e6).cast("long").alias("cosine_micro"),
        )
    )


def lsh_candidate_count(embeddings: DataFrame, query_ids: list[int], **kw) -> int:
    """Number of distinct (query, neighbor) candidates the LSH probe
    produces BEFORE re-ranking — the quantity ``auto_n_planes`` bounds.
    Tuning/QA probe (one count job); same kwargs as ``lsh_bucket_ann``."""
    return lsh_bucket_ann(embeddings, query_ids, _candidates_only=True, **kw).count()


def recall_vs_exact(approx: DataFrame, exact: DataFrame) -> float:
    """Recall of an approximate ANN result against the exact top-k:
    |approx ∩ exact| / |exact| over (query_id, neighbor_id) pairs.
    Test/QA harness — two small results, one driver action."""
    a = approx.select("query_id", "neighbor_id")
    e = exact.select("query_id", "neighbor_id")
    hit = a.join(e, on=["query_id", "neighbor_id"], how="inner").count()
    total = e.count()
    return hit / total if total else 1.0
