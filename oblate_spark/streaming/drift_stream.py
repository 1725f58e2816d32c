"""Streaming distribution-drift monitoring.

The batch drift operators (operators.drift) reduce a column to <= nbins
counts before any math; the streaming form does the same per
watermarked tumbling window — so the sink receives a tiny
(window, bin, cnt) stream, and PSI against a frozen reference
distribution is driver-side arithmetic per window.

Pattern at scale: the reference histogram comes from a validated
snapshot (e.g. last week's table); the live stream's windows are scored
as they close, and a window whose PSI exceeds the threshold pages
before the bad data lands in training.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import DataFrame, functions as F

from ..operators.drift import bin_expr, psi_from_probs

__all__ = ["windowed_bin_counts", "psi_per_window"]


def windowed_bin_counts(
    stream: DataFrame,
    *,
    col: str,
    ts_col: str,
    lo: float,
    hi: float,
    nbins: int = 32,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """(window_start, window_end, bin, cnt): watermarked tumbling-window
    fixed-width histogram — identical binning to the batch
    ``fixed_width_histogram``, so batch and stream agree exactly on the
    same data. Late rows beyond the watermark are dropped (documented
    Structured Streaming semantics)."""
    ev = stream.withColumn("__ts", F.col(ts_col).cast("timestamp")).withWatermark(
        "__ts", watermark
    )
    return (
        ev.filter(F.col(col).isNotNull())
        .groupBy(
            F.window("__ts", window).alias("w"),
            bin_expr(F.col(col), lo, hi, nbins).alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "bin",
            "cnt",
        )
    )


def psi_per_window(
    rows: Sequence,
    reference_probs: Mapping[int, float] | Sequence[float],
    *,
    nbins: int,
    eps: float = 1e-6,
) -> dict:
    """Collected (window_start, bin, cnt) rows -> {window_start: psi}
    against a frozen reference distribution (bin -> probability).
    Driver-side arithmetic over <= windows x nbins rows."""
    if not isinstance(reference_probs, Mapping):
        reference_probs = dict(enumerate(reference_probs))
    per_window: dict = {}
    for r in rows:
        per_window.setdefault(r["window_start"], {})[int(r["bin"])] = float(r["cnt"])
    pe = [float(reference_probs.get(b, 0.0)) for b in range(nbins)]
    out = {}
    for w, counts in per_window.items():
        total = sum(counts.values()) or 1.0
        out[w] = psi_from_probs(pe, [counts.get(b, 0.0) / total for b in range(nbins)], eps)
    return out
