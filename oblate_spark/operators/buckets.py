"""Aspect-ratio bucketing + deterministic batch packing for image
training pipelines.

Vision training at scale (SDXL-style aspect bucketing, NaViT packing)
groups images into a small set of target aspect-ratio buckets so each
training batch shares one resize target — random crops of mixed-ratio
images waste pixels and bias composition. The two operators here:

* :func:`assign_aspect_bucket` — pure Column expression mapping each
  (w, h) to the nearest bucket by EXACT integer cross-multiplication
  (``|w*bh - h*bw|``, scaled by the bucket's own magnitude), so bucket
  assignment is bit-identical in any engine — no float ratio, no libm.
* :func:`aspect_bucket_batches` — assigns every image a global
  (bucket, batch_id, slot) coordinate via a SKEW-FREE distributed
  rank. The naive formulation — ``row_number() OVER (PARTITION BY
  bucket ORDER BY id)`` — is a scale-killer: with ~10 buckets over
  10^12 rows every window task owns 10^11 rows. Instead each bucket is
  split into ``n_shards`` uniform hash shards; the window partitions
  by (bucket, shard) — parallelism B*S with uniform shard sizes — and
  a bounded (B*S)-row count aggregate supplies per-shard base offsets
  so the shard-local row_number lifts to a global per-bucket rank.
  The resulting total order per bucket is (shard, order key): arbitrary
  but deterministic, which is exactly what batch packing needs (batches
  must be stable and well-formed, not canonically sorted).

No counterpart operator exists in the reference (izxxr/oblate is a
record-validation library); this is part of the training-pipeline
extension surface (SURVEY.md §2, LLM-data-pipeline operators).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..session import local_frame

__all__ = [
    "DEFAULT_BUCKETS",
    "assign_aspect_bucket",
    "aspect_bucket_batches",
]

#: SDXL-ish target shapes, square first; order is the tie-break.
DEFAULT_BUCKETS: tuple[tuple[int, int], ...] = (
    (1024, 1024),
    (1152, 896),
    (896, 1152),
    (1216, 832),
    (832, 1216),
    (1344, 768),
    (768, 1344),
    (1536, 640),
    (640, 1536),
)


def assign_aspect_bucket(
    w: Column, h: Column, buckets: Sequence[tuple[int, int]]
) -> Column:
    """Index (0-based) of the bucket whose aspect ratio is nearest to
    w/h, in exact integer arithmetic.

    Distance to bucket i is ``|w/h - bw_i/bh_i|``; multiplying through
    by ``h * LCM(all bh)`` puts every bucket's distance on ONE common
    integer scale — ``cost_i = |w*bh_i - h*bw_i| * (LCM/bh_i)`` — so
    the argmin is an exact BIGINT ``array_position(costs,
    array_min(costs))``: no division, no floats, linear-size
    expression, and first-minimum semantics keep the EARLIER bucket
    index on ties (square-first in :data:`DEFAULT_BUCKETS`). The SQL
    oracle restates the identical formula.
    """
    if not buckets:
        raise ValueError("buckets must be non-empty")
    import math

    # put every bucket's |w/h - bw/bh| on ONE common integer scale:
    # cost_i = |w*bh_i - h*bw_i| * (LCM(all bh)/bh_i)  ==  |w/h - ratio_i|
    # scaled by h*LCM — exact BIGINTs, linear-size expression tree (a
    # when/otherwise argmin fold doubles the tree per bucket and was
    # measured at 14 MiB task binaries for 9 buckets). array_position
    # returns the FIRST minimum, so ties keep the earlier bucket index.
    lcm = math.lcm(*[bh for _, bh in buckets])
    costs = F.array(
        *[
            F.abs(
                w.cast("bigint") * F.lit(bh) - h.cast("bigint") * F.lit(bw)
            )
            * F.lit(lcm // bh)
            for bw, bh in buckets
        ]
    )
    return (
        F.array_position(costs, F.array_min(costs)).cast("int") - 1
    ).alias("bucket_id")


def aspect_bucket_batches(
    df: DataFrame,
    *,
    id_col: str,
    w_col: str,
    h_col: str,
    buckets: Sequence[tuple[int, int]] = DEFAULT_BUCKETS,
    batch_size: int = 64,
    n_shards: int = 64,
    shard: Optional[Column] = None,
) -> DataFrame:
    """Assign every row a deterministic (bucket, batch_id, slot)
    training-batch coordinate.

    Output: (id, w, h, bucket_id int, bucket_w int, bucket_h int,
    rank bigint, batch_id bigint, slot int) — ``rank`` is the 0-based
    global position within the bucket under the total order
    (shard asc, id asc); ``batch_id = rank // batch_size``;
    ``slot = rank % batch_size``. Per bucket, every batch except
    possibly the last is exactly full; callers drop or pad the final
    partial batch.

    ``shard`` defaults to ``pmod(xxhash64(id), n_shards)`` (uniform,
    engine-private); pass an explicit Column (e.g. an arithmetic
    expression on a numeric id) when a cross-engine-reproducible order
    is required — the oracle tests do exactly that. ``id_col`` values
    must be unique per (bucket, shard) for the rank to be a total
    order.

    Distribution: one slim projection (id, w, h → bucket, shard), one
    bounded groupBy(bucket, shard) count — B*S rows collected to build
    the offset table, broadcast back — and ONE window shuffled on
    (bucket, shard): B*S uniform partitions, never a per-bucket
    serialization. The input is scanned twice (count pass + rank pass)
    over pruned columns only; at 100 TB persist the slim projection or
    let the parquet column pruning make the second scan cheap — both
    scans read 3 columns regardless of payload width (bytes stay
    untouched).
    """
    if batch_size <= 0:
        raise ValueError("batch_size must be positive")
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    bucket = assign_aspect_bucket(F.col(w_col), F.col(h_col), buckets)
    shard_col = (
        shard
        if shard is not None
        else F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards))
    )
    slim = df.select(
        F.col(id_col),
        F.col(w_col),
        F.col(h_col),
        bucket.cast("int").alias("bucket_id"),
        shard_col.cast("int").alias("__shard"),
    )

    # bounded collect: B*S rows (bucket count x shard count)
    counts = (
        slim.groupBy("bucket_id", "__shard")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .collect()
    )
    by_bucket: dict[int, list[tuple[int, int]]] = {}
    for r in counts:
        by_bucket.setdefault(r["bucket_id"], []).append(
            (r["__shard"], r["__cnt"])
        )
    offset_rows = []
    for b, pairs in by_bucket.items():
        acc = 0
        for s, cnt in sorted(pairs):
            offset_rows.append((b, s, acc))
            acc += cnt
    offsets = local_frame(
        df.sparkSession,
        offset_rows or [(0, 0, 0)],
        "bucket_id int, __shard int, __offset bigint",
    )

    win = Window.partitionBy("bucket_id", "__shard").orderBy(id_col)
    ranked = (
        slim.join(F.broadcast(offsets), ["bucket_id", "__shard"], "left")
        .withColumn(
            "rank",
            (F.coalesce("__offset", F.lit(0)) + F.row_number().over(win) - 1)
            .cast("bigint"),
        )
    )
    bucket_w = F.element_at(
        F.array(*[F.lit(bw) for bw, _ in buckets]), F.col("bucket_id") + 1
    )
    bucket_h = F.element_at(
        F.array(*[F.lit(bh) for _, bh in buckets]), F.col("bucket_id") + 1
    )
    return ranked.select(
        F.col(id_col),
        F.col(w_col),
        F.col(h_col),
        "bucket_id",
        bucket_w.cast("int").alias("bucket_w"),
        bucket_h.cast("int").alias("bucket_h"),
        "rank",
        F.floor(F.col("rank") / batch_size).cast("bigint").alias("batch_id"),
        (F.col("rank") % batch_size).cast("int").alias("slot"),
    )
