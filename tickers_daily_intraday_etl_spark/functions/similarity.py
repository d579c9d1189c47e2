"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k, fully JVM-side (``zip_with`` dot
product + ``aggregate`` — no UDF).  Scale path: random-hyperplane LSH
bucketing so the pairwise step only runs within buckets, and an
IVF-style coarse quantizer (nearest of K deterministic centroids).

At 100 TB the brute-force path is only ever used *per bucket / per
probe list*; the bucket id is the shuffle key.
"""

from __future__ import annotations

import functools

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a) -> F.Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a, b) -> F.Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk_to_query(
    df: DataFrame, vec_col: str, id_col: str, query: list[float], k: int = 10
) -> DataFrame:
    """Brute-force top-k by cosine to a literal query vector.
    One scan + one top-k (no shuffle of the vectors themselves)."""
    from tickers_daily_intraday_etl_spark.functions._util import fan_out_small

    q = F.array(*[F.lit(float(x)) for x in query])
    scored = fan_out_small(df.select(id_col, vec_col)).select(
        F.col(id_col), cosine(F.col(vec_col).cast("array<double>"), q).alias("cos_sim")
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


def hyperplane_lsh_bucket(vec_col, hyperplanes: list[list[float]]) -> F.Column:
    """Sign-bit bucket id from deterministic hyperplanes (seeded off-line):
    bucket = sum_b (dot(v, h_b) > 0) << b, a LONG (up to 63 planes).

    Evaluated by a vectorized pandas kernel (guide §4.2): the former
    per-plane ``aggregate(zip_with(...))`` fold ran as an interpreted
    expression tree — n_planes * dim closure evaluations PER ROW (HOF
    lambdas never enter codegen), ~2s of every ANN query at sf1.0.  The
    kernel runs the SAME left-to-right IEEE-double fold as a plain
    Python loop (bit-identical signs to the JVM fold and to DuckDB's
    ``list_dot_product`` — summation order is part of the oracle-parity
    contract), at interpreter-bytecode rather than Catalyst-interpreter
    cost.  NULL vector -> bucket 0, matching the former
    when(NULL > 0)->otherwise(0) behavior."""
    return _bucket_kernel(tuple(tuple(float(x) for x in h) for h in hyperplanes))(vec_col)


@functools.lru_cache(maxsize=32)
def _bucket_kernel(planes: tuple):
    """One pandas UDF per plane set; the LRU bound keeps a long-lived
    process that varies seeds or plane counts from holding one closure
    per distinct matrix forever."""

    @F.pandas_udf("long")
    def kernel(vec: pd.Series) -> pd.Series:
        def one(v):
            if v is None:
                return 0
            v = v.tolist() if hasattr(v, "tolist") else v  # np scalars 2x slower
            b = 0
            for i, h in enumerate(planes):
                if _seq_dot(v, h) > 0:
                    b += 1 << i
            return b

        return vec.map(one)

    return kernel


def make_hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def planes_for_corpus(n_vectors: int, target_bucket_occupancy: int = 64) -> int:
    """Scale-parameterize the LSH table: with p hyperplanes there are 2^p
    buckets, so expected occupancy ~= n/2^p (uniform bound; real
    embeddings cluster, so treat it as a floor and verify with
    ``ann_bucket_occupancy``).  Picks the smallest p with expected
    occupancy <= target — e.g. 10^9 vectors @ target 64 -> 24 planes.
    The within-bucket verify then does O(n * occupancy) work total
    instead of O(n^2).  Floor of 4 planes keeps tiny corpora meaningful."""
    import math

    if n_vectors <= target_bucket_occupancy:
        return 4
    return max(4, math.ceil(math.log2(n_vectors / target_bucket_occupancy)))


def ann_bucket_occupancy(df: DataFrame, vec_col: str, n_planes: int, seed: int = 42) -> DataFrame:
    """Per-bucket occupancy histogram for a hyperplane configuration —
    the observability hook for the occupancy bound above (join work is
    sum over buckets of occ^2)."""
    head = df.select(vec_col).first()
    dim = len(head[0])
    planes = make_hyperplanes(n_planes, dim, seed)
    v = df.select(F.col(vec_col).cast("array<double>").alias("__v"))
    return (
        v.select(hyperplane_lsh_bucket(F.col("__v"), planes).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("occupancy"))
    )


def ann_bucketed_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_planes: int = 16,
    seed: int = 42,
    threshold: float = 0.9,
    multiprobe: int = 0,
) -> DataFrame:
    """Embedding near-dup pairs: hyperplane-LSH bucket join, exact cosine
    verification within bucket.  The cross product never leaves a bucket.

    Scale parameterization: 2^n_planes buckets must grow with the corpus
    (``planes_for_corpus``) — at 10^9 vectors, 8 planes = 256 buckets
    puts ~4M vectors per bucket and the verify goes quadratic; 24 planes
    keeps expected occupancy ~60.  More planes lower recall for
    borderline pairs (exact duplicates always collide); ``multiprobe``
    buys recall back WITHOUT shrinking the keyspace: one join side also
    probes the ``multiprobe`` single-bit-flip neighbor buckets (Hamming-1
    in the bucket code), multiplying candidates by (1+multiprobe) rather
    than the 2^k of dropping k planes."""
    head = df.select(vec_col).first()
    if head is None or head[0] is None:
        # empty input: no pairs, correct schema
        return df.sparkSession.createDataFrame([], "id_a long, id_b long, cos_sim double")
    dim = len(head[0])
    planes = make_hyperplanes(n_planes, dim, seed)
    from tickers_daily_intraday_etl_spark.functions._cache import (
        persist_tracked,
        release_previous,
    )
    from tickers_daily_intraday_etl_spark.functions._util import fan_out_small

    release_previous("ann_bucketed_pairs")
    # persisted (tracked, one generation — _cache.py): both self-join
    # sides otherwise re-run the scan + bucket kernel (measured 2.0s vs
    # 0.9s at sf1.0)
    v = persist_tracked(
        "ann_bucketed_pairs",
        fan_out_small(df.select(id_col, vec_col)).select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("__v"),
        ).withColumn("__bucket", hyperplane_lsh_bucket(F.col("__v"), planes)),
    )
    if multiprobe > 0:
        probes = F.array(
            F.col("__bucket"),
            *[F.col("__bucket").bitwiseXOR(F.lit(1 << i)) for i in range(multiprobe)],
        )
        left = v.select(
            F.col(id_col), F.col("__v"), F.explode(probes).alias("__probe")
        ).alias("l")
        r = v.alias("r")
        cand = left.join(
            r,
            (F.col("l.__probe") == F.col("r.__bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        ).select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            cosine(F.col("l.__v"), F.col("r.__v")).alias("__c"),
        )
        # a pair can collide through several probes: fold in the verify agg
        folded = cand.groupBy("id_a", "id_b").agg(F.max("__c").alias("cos_sim"))
        return folded.where(F.col("cos_sim") >= threshold)
    l, r = v.alias("l"), v.alias("r")
    pairs = l.join(
        r,
        (F.col("l.__bucket") == F.col("r.__bucket"))
        & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
    ).select(
        F.col(f"l.{id_col}").alias("id_a"),
        F.col(f"r.{id_col}").alias("id_b"),
        cosine(F.col("l.__v"), F.col("r.__v")).alias("cos_sim"),
    )
    return pairs.where(F.col("cos_sim") >= threshold)


def ann_multitable_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_planes: int = 8,
    n_tables: int = 2,
    seed: int = 42,
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding near-dup pairs with multiple independent LSH tables:
    a pair is a candidate if it collides in ANY table (union of per-table
    bucket joins), then exact-cosine verified.  More tables -> higher
    recall at the same per-table bucket granularity; the cross product
    still never leaves a (table, bucket) — the shuffle key is
    (table_id, bucket), high-cardinality and balanced.

    Duplicate candidates (pairs colliding in several tables) fold in the
    same aggregation that verifies them (groupBy pair, max of identical
    cosines) — no separate distinct pass."""
    head = df.select(vec_col).first()
    if head is None or head[0] is None:
        return df.sparkSession.createDataFrame([], "id_a long, id_b long, cos_sim double")
    dim = len(head[0])
    from tickers_daily_intraday_etl_spark.functions._util import fan_out_small

    v = fan_out_small(df.select(id_col, vec_col)).select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    from tickers_daily_intraday_etl_spark.functions._cache import (
        persist_tracked,
        release_previous,
    )

    release_previous("ann_multitable_pairs")
    stacked = persist_tracked(  # both join sides re-dot 8*n_tables hyperplanes otherwise
        "ann_multitable_pairs",
        v.select(
            id_col,
            "__v",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("table_id"),
                            hyperplane_lsh_bucket(
                                F.col("__v"), make_hyperplanes(n_planes, dim, seed + t)
                            ).alias("bucket"),
                        )
                        for t in range(n_tables)
                    ]
                )
            ).alias("tb"),
        ).select(id_col, "__v", F.col("tb.table_id"), F.col("tb.bucket")),
    )
    l, r = stacked.alias("l"), stacked.alias("r")
    cand = l.join(
        r,
        (F.col("l.table_id") == F.col("r.table_id"))
        & (F.col("l.bucket") == F.col("r.bucket"))
        & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
    ).select(
        F.col(f"l.{id_col}").alias("id_a"),
        F.col(f"r.{id_col}").alias("id_b"),
        cosine(F.col("l.__v"), F.col("r.__v")).alias("__c"),
    )
    folded = cand.groupBy("id_a", "id_b").agg(F.max("__c").alias("cos_sim"))
    return folded.where(F.col("cos_sim") >= threshold)


def _seq_dot(a: list[float], b: list[float]) -> float:
    """Sequential left-to-right double dot product — bit-identical to both
    the Spark ``aggregate`` fold and DuckDB's ``list_dot_product``, so
    driver-side probe selection agrees with an SQL oracle exactly.  An
    explicit loop, not ``sum()``: from Python 3.12 ``sum()`` of floats is
    Neumaier-compensated, which is a different (more exact) fold."""
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    return s


IVF_SAMPLE_CAP = 2048  # upper bound on driver-collected training rows


def ivf_sample_mod(n_vectors: int, base_mod: int = 7, cap: int = IVF_SAMPLE_CAP) -> int:
    """Training-sample modulus that keeps the driver-collected k-means
    sample SIZE-BOUNDED at any corpus size: ``vec_id % mod == 0`` with
    ``mod = max(base_mod, ceil(n / cap))`` selects ~``min(n/base_mod,
    cap)`` rows — a constant at scale, never a fraction of the corpus
    (a fixed modulus collected ~n/7 rows to the driver: an OOM plus a
    serial training stage at 100x corpus).  Deterministic in n alone so
    an SQL oracle reproduces the same sample via
    ``GREATEST(base, CAST(CEIL(COUNT(*) / cap) AS BIGINT))``."""
    return max(base_mod, -(-n_vectors // cap))


def train_centroids_lloyd_seq(
    sample: list[tuple],
    centroids: list[list[float]],
    iters: int = 2,
) -> list[list[float]]:
    """Deterministic k-means-lite: Lloyd iterations over a (small,
    driver-collected) sample, all arithmetic SEQUENTIAL doubles so an SQL
    oracle can replay the training bit-for-bit (DuckDB
    ``list_dot_product`` == the same left-to-right fold; per-dimension
    means via ``list_reduce`` over ``list(x ORDER BY id)``).

    ``sample``: (id, vector) pairs SORTED by id — the summation order is
    part of the contract.  Assignment = max cosine, ties to the lower
    centroid index; empty clusters keep their previous centroid.  At
    corpus scale the sample stays <= IVF_SAMPLE_CAP rows (the modulus
    scales with corpus size — ``ivf_sample_mod``), so training cost is
    independent of table size; the full table only ever sees the
    finished centroids as literals."""
    import math

    for _ in range(iters):
        assign: dict[int, list] = {}
        # centroid norms are loop-invariant within an iteration — hoisting
        # them drops |sample| * K redundant 64-term folds per iteration
        # (identical values, so the assignment arithmetic is unchanged)
        cnorms = [math.sqrt(_seq_dot(c, c)) for c in centroids]
        for _vid, e in sample:
            best, best_s = 0, None
            en = math.sqrt(_seq_dot(e, e))
            for ci, c in enumerate(centroids):
                denom = en * cnorms[ci]
                s = _seq_dot(e, c) / denom if denom else float("-inf")
                if best_s is None or s > best_s:
                    best, best_s = ci, s
            assign.setdefault(best, []).append(e)
        new: list[list[float]] = []
        for ci, c in enumerate(centroids):
            members = assign.get(ci)
            if not members:
                new.append(list(c))
                continue
            cent = []
            for d in range(len(c)):
                acc = 0.0
                for e in members:
                    acc += e[d]
                cent.append(acc / len(members))
            new.append(cent)
        centroids = new
    return centroids


def ivf_assign(df: DataFrame, vec_col: str, id_col: str, centroids: list[list[float]]) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest centroid
    (max cosine).  Centroids come from any off-line source; here a
    deterministic seeded sample stands in for k-means."""
    v = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v"))
    best_id, best_sim = None, None
    for ci, c in enumerate(centroids):
        ccol = F.array(*[F.lit(float(x)) for x in c])
        sim = cosine(F.col("__v"), ccol)
        if best_sim is None:
            best_id, best_sim = F.lit(ci), sim
        else:
            cond = sim > best_sim
            best_id = F.when(cond, F.lit(ci)).otherwise(best_id)
            best_sim = F.when(cond, sim).otherwise(best_sim)
    return v.select(F.col(id_col), best_id.alias("centroid_id"), best_sim.alias("centroid_sim"))


def ivf_topk_to_query(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """IVF search: probe the n_probe centroids nearest the query, scan only
    their inverted lists.  Recall < 1 by design; the brute-force variant is
    the correctness baseline.

    Probe selection uses sequential double math (``_seq_dot``) so an SQL
    oracle computing the same cosines picks the identical probe lists
    (ties break toward the lower centroid id on both sides).

    Plan shape: the nearest-centroid assignment is computed INLINE and
    filtered in the same projection, then top-k — one scan, zero
    shuffles (TakeOrderedAndProject only).  The former
    ``df.join(ivf_assign(df).where(...))`` self-join shuffled the whole
    table by id twice to attach a value derivable from the row itself
    (guide §2.4: remove shuffles outright)."""
    import math

    qn = math.sqrt(_seq_dot(query, query))
    sims = []
    for c in centroids:
        denom = math.sqrt(_seq_dot(c, c)) * qn
        sims.append(_seq_dot(c, query) / denom if denom else float("-inf"))
    probe = sorted(range(len(centroids)), key=lambda i: (-sims[i], i))[:n_probe]
    from tickers_daily_intraday_etl_spark.functions._util import fan_out_small

    v = fan_out_small(df.select(id_col, vec_col)).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    # nearest-centroid assignment as a vectorized kernel: the same
    # sequential-double cosine and lower-index tie-break as ivf_assign,
    # bit-identical comparisons (NaN from a zero norm loses, like the
    # JVM's NULL/NaN > best), without K * 3 * dim interpreted HOF
    # evaluations per row
    cents = [list(map(float, c)) for c in centroids]

    @F.pandas_udf("int")
    def nearest(vec: pd.Series) -> pd.Series:
        import math as _m

        norms = [_m.sqrt(_seq_dot(c, c)) for c in cents]

        def one(v):
            if v is None:
                return 0
            v = v.tolist() if hasattr(v, "tolist") else v  # np scalars 2x slower
            en = _m.sqrt(_seq_dot(v, v))
            best, best_s = 0, None
            for ci, c in enumerate(cents):
                denom = en * norms[ci]
                s = _seq_dot(v, c) / denom if denom else float("nan")
                # Spark/DuckDB comparison semantics order NaN ABOVE every
                # real value; Python's NaN compares false both ways — map
                # NaN to +inf so a degenerate zero-norm cosine wins/keeps
                # exactly as the JVM expression did
                if _m.isnan(s):
                    s = float("inf")
                if best_s is None or s > best_s:
                    best, best_s = ci, s
            return best

        return vec.map(one)

    q = F.array(*[F.lit(float(x)) for x in query])
    scored = (
        v.where(nearest(F.col("__v")).isin(probe))
        .select(F.col(id_col), cosine(F.col("__v"), q).alias("cos_sim"))
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)
