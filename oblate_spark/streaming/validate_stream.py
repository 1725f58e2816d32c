"""Structured-Streaming validation.

The compiled plan is pure Column expressions, so the SAME plan that
validates a batch DataFrame validates a stream — ``validate_stream``
just applies it to a ``readStream`` frame. Violation roll-ups become
watermarked windowed aggregations (late data handled by the watermark);
per-batch verdicts can be emitted through ``foreachBatch`` when a sink
needs the exploded violation rows.

The reference has no streaming surface (single-row synchronous library);
this module is the Axis-B generalization of its per-instance
ValidationError to an unbounded input (SURVEY.md §2.7).
"""

from __future__ import annotations

from typing import Any, Optional

from pyspark.sql import DataFrame, functions as F

__all__ = ["validate_stream", "violation_counts_windowed", "valid_invalid_split"]


def validate_stream(
    stream_df: DataFrame,
    schema_cls: Any,
    *,
    mode: str = "typed",
    row_id: Optional[str] = None,
    extra_columns_ok: tuple[str, ...] = ("row_id",),
) -> DataFrame:
    """Annotate a streaming DataFrame with ``_violations`` and ``_valid``:
    ``engine.validate(...).annotated``, so a stream shares the batch
    path's compiled-plan cache, staged helper columns and SchemaContext.

    Stateless: every check is a projection, so this adds no streaming
    state and preserves the source's watermark/event-time columns."""
    from ..engine import validate

    return validate(
        stream_df, schema_cls, mode=mode, row_id=row_id, extra_columns_ok=extra_columns_ok
    ).annotated


def violation_counts_windowed(
    annotated_stream: DataFrame,
    *,
    ts_col: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window violation counts per error code —
    the streaming form of ``ValidationResult.verdicts()``. Late rows
    beyond the watermark are dropped (exactly the documented Structured
    Streaming semantics); output mode 'update' or 'append' both work."""
    # watermarks require TIMESTAMP; parquet sources commonly surface NTZ
    ts_casted = annotated_stream.withColumn("__ts", F.col(ts_col).cast("timestamp"))
    exploded = ts_casted.withWatermark("__ts", watermark).select(
        F.col("__ts"), F.explode_outer("_violations.error_code").alias("error_code")
    )
    return exploded.groupBy(
        F.window(F.col("__ts"), window).alias("window"),
        F.coalesce(F.col("error_code"), F.lit("__ok__")).alias("error_code"),
    ).agg(F.count(F.lit(1)).alias("cnt"))


def valid_invalid_split(annotated_stream: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Route a validated stream to clean/quarantine sinks."""
    clean = annotated_stream.filter(F.col("_valid")).drop("_violations", "_valid", "_row_id")
    quarantine = annotated_stream.filter(~F.col("_valid"))
    return clean, quarantine
