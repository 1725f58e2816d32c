"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline, plus an IVF-style
bucketed variant as the scale path: assign every vector to its nearest
of C deterministic centroids, then search only within the probed
buckets — turning the O(N·Q) cross join into O(N·Q/C · nprobe).

All dot products are JVM-side expressions (zip_with + aggregate); no
Python in the scoring loop.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..session import local_frame
from .binding import let

__all__ = [
    "cosine_expr",
    "knn_bruteforce",
    "ivf_assign",
    "knn_ivf",
    "ivf_bucket_candidate_pairs",
    "label_centroids",
    "centroid_distance_outliers",
    "embedding_validation",
]


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity of two array columns, computed with
    zip_with/aggregate higher-order functions (whole-stage codegen). A
    zero-norm side gives NULL (``try_divide``), not an ANSI
    DIVIDE_BY_ZERO failure of the job."""
    return F.try_divide(dot_expr(a, b), norm_expr(a) * norm_expr(b))


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    query_id_col: Optional[str] = None,
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine: (query_id, neighbor_id, cosine, rank).

    The query side is broadcast (queries << corpus in every real
    workload), so the corpus is scanned once with no shuffle; the only
    shuffle is the per-query top-k window. Excludes self-matches when
    ids collide. A zero-norm vector has a NULL cosine (``try_divide``)
    and never ranks: a zero corpus vector is nobody's neighbour, and a
    zero query gets no neighbours.
    """
    qid = query_id_col or id_col
    # norms folded once per query / corpus row instead of once per
    # (query, corpus) pair; operand order matches cosine_expr exactly
    q = F.broadcast(
        queries.select(
            F.col(qid).alias("query_id"),
            F.col(vec_col).alias("qv"),
            norm_expr(F.col(vec_col)).alias("__qn"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm_expr(F.col(vec_col)).alias("__cn"),
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.try_divide(
                dot_expr(F.col("qv"), F.col("cv")), F.col("__qn") * F.col("__cn")
            ).alias("cosine"),
        )
    )
    return _top_k(scored, k)


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k by (cosine desc, neighbor_id). A NULL cosine
    (zero-norm side) sorts last and is dropped after the window: the
    same rows as dropping it before, but a filter below the window
    would be pushed to the scans as ``isnotnull(norm)`` and fold each
    norm twice per row."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        (F.col("rank") <= k) & F.col("cosine").isNotNull()
    )


def _centroids_from_corpus(corpus: DataFrame, id_col: str, vec_col: str, n: int) -> DataFrame:
    """Deterministic centroid seeds: the n corpus vectors with the
    smallest md5(id) — stable across runs/engines, no RNG.

    Planned as TakeOrderedAndProject (per-partition top-n then a tiny
    driver-side merge) — the full corpus is never sorted or moved to one
    partition. The row_number window that assigns 1..n ids runs over the
    already-reduced n-row result only."""
    seeds = (
        corpus.select(F.col(id_col).alias("__sid"), F.col(vec_col).alias("centroid"))
        .orderBy(F.md5(F.col("__sid").cast("string")))
        .limit(n)
    )
    w = Window.orderBy(F.md5(F.col("__sid").cast("string")))
    return (
        seeds.withColumn("centroid_id", F.row_number().over(w))
        .select("centroid_id", "centroid")
    )


def _fold_norm_py(vals) -> float:
    """The exact JVM ``norm_expr`` left fold in Python doubles:
    sqrt(((0.0 + v0*v0) + v1*v1) + ...) — Python floats are IEEE-754
    doubles and ``math.sqrt`` is correctly rounded, so the literal this
    produces is bit-identical to evaluating ``norm_expr`` over the same
    literal array in the JVM (round 6: lets the per-centroid norm be a
    plan constant instead of a per-row fold)."""
    import math

    acc = 0.0
    for v in vals:
        acc = acc + float(v) * float(v)
    return math.sqrt(acc)


def _centroid_array_literal(cent_rows) -> Column:
    """Collected centroid rows -> array<struct<cid,vec,nrm>> literal.

    The centroid set is tiny by construction (n_centroids rows), so
    inlining it as a literal ships it inside the plan itself — every
    executor evaluates the argmax against it with ZERO join, shuffle, or
    broadcast exchange. ``nrm`` is the centroid's fold-exact L2 norm
    (see :func:`_fold_norm_py`) so consumers divide by a constant
    instead of re-folding the centroid array per row."""
    return F.array(
        *[
            F.struct(
                F.lit(int(r["centroid_id"])).alias("cid"),
                F.array(*[F.lit(float(v)) for v in r["centroid"]]).alias("vec"),
                F.lit(_fold_norm_py(r["centroid"])).alias("nrm"),
            )
            for r in cent_rows
        ]
    )


def ivf_assign(
    corpus: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """Assign each vector to its nearest centroid (IVF coarse quantizer).

    Returns (assigned corpus with ``bucket`` column, centroids). The
    centroid table (tiny: n_centroids rows — the one intentional,
    bounded driver collect) is inlined as an array literal and the
    argmax is a single ``array_max(transform(...))`` expression: one
    corpus scan, zero shuffle, no N x C row expansion. Ties break to the
    smallest centroid_id."""
    cents = _centroids_from_corpus(corpus, id_col, vec_col, n_centroids)
    cent_rows = cents.collect()  # bounded: n_centroids rows
    # re-materialize the centroid frame as a LocalRelation over the rows
    # just collected: a downstream consumer (knn_ivf probes the same
    # centroids) re-collecting it gets these exact rows for free instead
    # of re-running the TakeOrdered corpus scan — which would also
    # silently couple correctness to the derivation being deterministic.
    cents = local_frame(corpus.sparkSession, cent_rows, cents.schema)
    vec = F.col(vec_col)
    if not cent_rows:
        # empty corpus: zero assignments, not an AnalysisException from
        # field-extracting a NULL-typed array literal (an incremental
        # pipeline's new-batch slice can be legitimately empty)
        empty = corpus.select(
            F.col(id_col), vec.alias(vec_col), F.lit(None).cast("int").alias("bucket")
        ).limit(0)
        return empty, cents
    cent_lit = _centroid_array_literal(cent_rows)
    # the row's vector and its norm are bound once per row (binding.let)
    # instead of being evaluated once per centroid inside the
    # n_centroids-way argmax; sim = dot/(row_norm * centroid_norm) keeps
    # the exact operand order of cosine_expr, and the centroid norm is a
    # literal (bit-identical: _fold_norm_py). Lexicographic struct max:
    # sim first, then -cid (= smallest cid on tie). A zero norm makes sim
    # NULL, which orders lowest: a zero vector lands in the smallest
    # cid's bucket, where its cosine is NULL again and it forms no pair.
    best = let(
        vec,
        lambda v: let(
            norm_expr(v),
            lambda nrm: F.array_max(
                F.transform(
                    cent_lit,
                    lambda c: F.struct(
                        F.try_divide(dot_expr(v, c["vec"]), nrm * c["nrm"]).alias("sim"),
                        (-c["cid"]).alias("negcid"),
                        c["cid"].alias("cid"),
                    ),
                )
            ),
        ),
    )
    # array_max over the non-empty literal is never NULL; the coalesce
    # only says so, so a join's inferred isnotnull(bucket) folds away
    # instead of evaluating the argmax a second time in a pushed filter
    assigned = corpus.select(
        F.col(id_col), vec.alias(vec_col), F.coalesce(best["cid"], F.lit(-1)).alias("bucket")
    )
    return assigned, cents


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    query_id_col: Optional[str] = None,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 3,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in each query's
    ``nprobe`` nearest buckets. Recall grows with nprobe; at
    nprobe = n_centroids this equals brute force.

    At 100 TB the bucketed corpus would be written partitioned by
    ``bucket`` so each query touches nprobe partitions (partition
    pruning on the join key).

    Plan shape: one corpus scan (literal-array argmax assignment — no
    shuffle, no N x C expansion), a broadcast join against the probed
    (query, bucket) pairs, and a final per-query top-k window over the
    candidate subset only. Zero-norm vectors rank as in
    :func:`knn_bruteforce`: a zero corpus vector never ranks and a zero
    query gets no neighbours; a zero centroid is probed last."""
    qid = query_id_col or id_col
    # reuse ivf_assign for the corpus-side bucket assignment — one
    # implementation of the literal-array argmax (tie-break, empty-corpus
    # handling) instead of a drifting copy
    assigned_df, cents = ivf_assign(
        corpus, id_col=id_col, vec_col=vec_col, n_centroids=n_centroids
    )
    assigned = assigned_df.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), "bucket"
    )
    cent_rows = cents.collect()  # bounded: n_centroids rows
    if not cent_rows:
        # empty corpus: zero neighbors, typed like the real result
        return (
            queries.select(F.col(qid).alias("query_id")).limit(0).crossJoin(
                corpus.select(
                    F.col(id_col).alias("neighbor_id"),
                    F.lit(0.0).alias("cosine"),
                    F.lit(0).alias("rank"),
                ).limit(0)
            )
        )
    cent_lit = _centroid_array_literal(cent_rows)

    # per-query nprobe nearest buckets: sort the same literal array by
    # (-sim, cid) and slice — no window, no shuffle on the query side.
    # A zero norm gives a NULL sim, which struct order would sort FIRST;
    # +inf sorts it after every real centroid
    qv = F.col("qv")
    # the query vector and its norm are bound once per query row
    # (binding.let) instead of being evaluated once per centroid;
    # centroid norm is a plan literal — same exact doubles as
    # cosine_expr (see _fold_norm_py)
    probes_arr = let(
        qv,
        lambda q: let(
            norm_expr(q),
            lambda qn: F.slice(
                F.array_sort(
                    F.transform(
                        cent_lit,
                        lambda c: F.struct(
                            F.coalesce(
                                -F.try_divide(dot_expr(q, c["vec"]), qn * c["nrm"]),
                                F.lit(float("inf")),
                            ).alias("negsim"),
                            c["cid"].alias("cid"),
                        ),
                    )
                ),
                1,
                nprobe,
            ),
        ),
    )
    # __qn carries the query norm past the join to the candidate scoring
    probes = queries.select(
        F.col(qid).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("__qn", norm_expr(qv)).select(
        "query_id",
        "qv",
        "__qn",
        F.explode(F.transform(probes_arr, lambda x: x["cid"])).alias("bucket"),
    )

    # candidate scoring: fold each side's norm once per ROW (corpus row
    # / probe row) instead of once per (query, candidate) pair; the
    # division keeps cosine_expr's operand order, so every double is
    # bit-identical and the (cosine desc, id) ranking cannot move
    scored = (
        assigned.withColumn("__cn", norm_expr(F.col("cv")))
        .join(F.broadcast(probes), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.try_divide(
                dot_expr(F.col("qv"), F.col("cv")), F.col("__qn") * F.col("__cn")
            ).alias("cosine"),
        )
    )
    return _top_k(scored, k)


def ivf_bucket_candidate_pairs(
    corpus: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
) -> DataFrame:
    """ANN blocking for embedding dedup: vectors sharing an IVF bucket
    become candidate pairs (id_a < id_b) — the embedding analogue of LSH
    banding. Feed the result to
    ``dedup.embedding_near_duplicates(pairs=...)`` for exact cosine
    verification; the quadratic self-join collapses to per-bucket joins.

    Each vector lands in exactly one bucket, so pairs are already
    distinct. The bucket self-join shuffles on the bucket key (C
    values); AQE skew-split covers hot buckets, same as the LSH path."""
    assigned, _ = ivf_assign(
        corpus, id_col=id_col, vec_col=vec_col, n_centroids=n_centroids
    )
    from .dedup import self_join_pairs

    # the argmax has no exchange of its own to reuse: without this
    # shuffle the planner broadcasts one side and runs the argmax twice
    buckets = assigned.select(F.col(id_col), "bucket").repartition("bucket")
    return self_join_pairs(buckets, id_col, ["bucket"]).select(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
    )


def label_centroids(
    df: DataFrame,
    *,
    vec_col: str,
    label_col: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-class embedding centroids in EXACT integer arithmetic — the
    class-prototype computation behind nearest-centroid classification,
    per-class drift monitoring, and IVF seeding over labeled corpora.

    Output: one row per (label, dim): (label, dim, sum_q, n, centroid)
    — long format, n_labels x dim rows (driver-small for any real
    label space).

    Distribution: ``posexplode`` fans each vector into (label, dim,
    component) rows and ONE hash aggregate on (label, dim) does the
    rest — BIGINT sums combine map-side, so the shuffle carries only
    n_labels x dim partial rows per task regardless of corpus size.

    Determinism: float sums are accumulation-order-dependent, so a
    naive ``avg(component)`` can never hash-match an oracle. Components
    are floor-quantized at ``scale`` (floor, not round — no half-rule
    for engines to disagree on; the float->double widening and the
    double multiply below it are IEEE-exact in any engine), summed as
    BIGINTs (exact, order-free), and the centroid is ONE double
    division of exact integers — bit-identical cross-engine.
    """
    ex = (
        df.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(label_col).alias("label"),
            F.posexplode(F.col(vec_col)).alias("dim", "val"),
        )
        .select(
            "label",
            F.col("dim").cast("int").alias("dim"),
            F.floor(F.col("val").cast("double") * F.lit(float(scale)))
            .cast("bigint")
            .alias("q"),
        )
    )
    return ex.groupBy("label", "dim").agg(
        F.sum("q").alias("sum_q"),
        F.count(F.lit(1)).alias("n"),
        (
            F.sum("q").cast("double")
            / (F.count(F.lit(1)) * F.lit(int(scale))).cast("double")
        ).alias("centroid"),
    )


def centroid_distance_outliers(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    label_col: str,
    threshold: float,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-vector squared distance to its OWN class centroid, with an
    outlier flag — the embedding-space label-noise / OOD triage signal:
    a vector far from its class prototype is a mislabel or an
    out-of-distribution sample, and at training-corpus scale this is
    the cheap first filter before any human or model-based relabeling.

    Exactness: the centroid is snapped to the quantization grid
    (``c_q = floor(sum_q / n)`` per dim, on :func:`label_centroids`'
    exact BIGINT sums), so the distance is the exact integer
    ``dist2_q = sum_d (q_d - c_q_d)^2`` in grid units — hash-identical
    in any engine, unlike any float-accumulated distance. The flag is
    ``dist2_q > (threshold*scale)^2`` with the right side one IEEE
    double product. Headroom: per-dim diff^2 * dims must stay under
    2^63 (|component| * scale below ~1e8 at 64 dims) and |sum_q| below
    2^53 for the double-division floor — both orders of magnitude past
    real embedding corpora.

    Output: (id, label, dist2_q bigint, dist double, is_outlier bool);
    ``dist`` is the one double sqrt back in input units (display only —
    the flag never consults it).

    Distribution: centroids are (n_labels x dims) rows, joined to the
    second pass on (label, dim); AQE broadcasts them from their measured
    shuffle size, and labels as many as user-ids stay a shuffle join.
    Two passes over the exploded vectors (centroid agg + distance agg),
    both map-side-combining hash aggregates; at 100 TB persist the slim
    (id, label, dim, q) projection between them."""
    cents = label_centroids(
        df, vec_col=vec_col, label_col=label_col, scale=scale
    ).select(
        "label",
        "dim",
        F.floor(F.col("sum_q").cast("double") / F.col("n").cast("double"))
        .cast("bigint")
        .alias("c_q"),
    )
    ex = (
        df.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col),
            F.col(label_col).alias("label"),
            F.posexplode(F.col(vec_col)).alias("dim", "val"),
        )
        .select(
            F.col(id_col),
            "label",
            F.col("dim").cast("int").alias("dim"),
            F.floor(F.col("val").cast("double") * F.lit(float(scale)))
            .cast("bigint")
            .alias("q"),
        )
    )
    joined = ex.join(cents, ["label", "dim"])
    d = F.col("q") - F.col("c_q")
    per_vec = joined.groupBy(id_col, "label").agg(
        F.sum(d * d).alias("dist2_q")
    )
    thr_q = float(threshold) * float(scale)
    return per_vec.select(
        F.col(id_col),
        "label",
        F.col("dist2_q").cast("bigint").alias("dist2_q"),
        (F.sqrt(F.col("dist2_q").cast("double")) / F.lit(float(scale))).alias(
            "dist"
        ),
        (F.col("dist2_q").cast("double") > F.lit(thr_q * thr_q)).alias(
            "is_outlier"
        ),
    )


def embedding_validation(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    expected_dim: int,
    scale: int = 1_000,
) -> DataFrame:
    """Vector-payload constraint check — the north rule's cast kernel
    applied to embedding columns: per vector (id, dim, dim_ok,
    n_null_components, has_nan, has_inf, micro_sumsq, zero_norm, ok).
    A truncated vector, a NaN from a failed encoder, an all-zero row
    from a crashed batch — each is a concrete training-corpus defect
    this surfaces as a typed violation instead of a silent cosine of
    garbage downstream.

    All map-side Column expressions over the array — no explode, no
    shuffle, pipelines from the scan. The norm is reported as
    ``micro_sumsq``: components floor-quantized at ``scale`` (same
    exact-integer discipline as :func:`label_centroids` — float sums
    are order-dependent, BIGINT sums of quantized components are not),
    squared and summed as BIGINTs, NULL when the vector has
    NaN/Inf/null components (quantizing those is engine-UB).
    ``zero_norm`` flags vectors whose every component quantizes to 0 —
    |x| < 1/scale across the board, the "embedding service returned
    zeros" regression."""
    vec = F.col(vec_col)
    dim = F.size(vec)
    dbl = lambda x: x.cast("double")  # noqa: E731
    has_nan = F.exists(vec, lambda x: F.isnan(dbl(x)))
    has_inf = F.exists(vec, lambda x: F.abs(dbl(x)) == F.lit(float("inf")))
    n_null = F.size(F.filter(vec, lambda x: x.isNull()))
    q = lambda x: F.floor(dbl(x) * F.lit(float(scale))).cast("bigint")  # noqa: E731
    sumsq = F.aggregate(
        vec, F.lit(0).cast("bigint"), lambda acc, x: acc + q(x) * q(x)
    )
    clean = ~has_nan & ~has_inf & (n_null == 0)
    micro_sumsq = F.when(vec.isNotNull() & clean, sumsq)
    dim_ok = dim == F.lit(int(expected_dim))
    return df.select(
        F.col(id_col),
        dim.cast("int").alias("dim"),
        F.coalesce(dim_ok, F.lit(False)).alias("dim_ok"),
        n_null.cast("int").alias("n_null_components"),
        F.coalesce(has_nan, F.lit(False)).alias("has_nan"),
        F.coalesce(has_inf, F.lit(False)).alias("has_inf"),
        micro_sumsq.alias("micro_sumsq"),
        F.coalesce(micro_sumsq == 0, F.lit(False)).alias("zero_norm"),
        (
            F.coalesce(dim_ok, F.lit(False))
            & F.coalesce(clean, F.lit(False))
            & F.coalesce(micro_sumsq != 0, F.lit(False))
        ).alias("ok"),
    )
