"""Table-level constraint operators (Axis B of BASELINE.json north_rule).

These lift the reference's single-row checks to whole-table constraints
the reference cannot express (SURVEY.md §2.7): per-column stats,
uniqueness, referential integrity.

Scale notes (designed for ~100 TB / 1000 executors, tested at sf0.1):

* ``column_profile`` — ONE pass over the table, all columns aggregated
  map-side-combinably; no shuffle beyond the final single-row agg.
  approx_count_distinct = HyperLogLog++ (constant memory per column).
* ``duplicate_keys`` — one count-aggregation; map-side partial agg makes
  it skew-safe (a hot key, e.g. the phash shared by 5% of rows in
  FIXTURES.md F1, contributes one partial row per mapper). AQE
  skew-split covers the join-back.
* ``referential_violations`` — LEFT ANTI join against the *distinct
  projection* of the parent key (column pruning: only the key column is
  scanned on the parent); AQE broadcasts the parent keys when their
  measured size is small.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, functions as F

from ..session import local_frame
from .drift import ACCURACY

__all__ = [
    "column_profile",
    "duplicate_keys",
    "multi_key_uniqueness_violations",
    "incremental_uniqueness_violations",
    "referential_violations",
    "functional_dependency_violations",
    "null_implication_violations",
    "cross_table_violations",
    "correlation_profile",
    "categorical_entropy",
    "suggest_constraints",
    "uniqueness_metrics",
    "pattern_ratio",
    "grouped_completeness",
    "key_skew_profile",
    "freshness_check",
    "frequent_values_profile",
    "TYPE_PATTERNS",
    "type_inference_profile",
    "iqr_outlier_profile",
    "mad_outlier_profile",
]


def column_profile(
    df: DataFrame,
    cols: Optional[Sequence[str]] = None,
    *,
    exact_distinct: bool = False,
    approx_rsd: float = 0.05,
) -> DataFrame:
    """Per-column min/max/null-rate/distinct profile in a single pass.

    Output: (column, min_value, max_value, null_rate, distinct_count,
    row_count) — min/max stringified so heterogeneous columns stack into
    one frame. ``exact_distinct`` switches HLL++ for an exact
    count(DISTINCT) (used when comparing against an exact oracle).
    """
    if cols is None:
        cols = df.columns
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        col = F.col(c)
        aggs.append(F.min(col).cast("string").alias(f"{c}__min"))
        aggs.append(F.max(col).cast("string").alias(f"{c}__max"))
        aggs.append(F.sum(col.isNull().cast("long")).alias(f"{c}__nulls"))
        if not exact_distinct:
            aggs.append(F.approx_count_distinct(col, rsd=approx_rsd).alias(f"{c}__distinct"))
    wide = df.agg(*aggs)
    if exact_distinct:
        # one single-distinct aggregate per column, assembled by
        # crossJoin of 1-row frames — NOT one multi-distinct agg. Spark
        # plans N distincts in one agg via Expand: the scan output is
        # multiplied (N+1)x and sort-aggregated on composite keys
        # (measured 6x slower at sf0.1, and the row multiplication is
        # the difference between one table-width shuffle and N
        # distinct-values-only shuffles at 100 TB). Each single-distinct
        # is rewritten to a two-stage HashAggregate over ONE pruned
        # column with map-side partial distinct.
        for c in cols:
            wide = wide.crossJoin(
                df.agg(F.count_distinct(F.col(c)).alias(f"{c}__distinct"))
            )

    # unpivot the single wide row into one row per column (stack is a
    # projection — no extra pass over the data)
    stack_args = []
    for c in cols:
        stack_args.append(f"'{c}', `{c}__min`, `{c}__max`, `{c}__nulls`, `{c}__distinct`")
    expr = (
        f"stack({len(cols)}, {', '.join(stack_args)}) as "
        "(column, min_value, max_value, null_count, distinct_count)"
    )
    return wide.selectExpr("__n as row_count", expr).select(
        "column",
        "min_value",
        "max_value",
        (F.col("null_count") / F.col("row_count")).alias("null_rate"),
        "distinct_count",
        "row_count",
    )


def duplicate_keys(df: DataFrame, key_cols: Sequence[str] | str) -> DataFrame:
    """Keys appearing more than once: (key..., dup_count).

    Skew analysis: COUNT is algebraic, so Spark's map-side partial
    aggregation already bounds a hot key's shuffle volume to one partial
    row per mapper — a plain groupBy is skew-safe and one stage cheaper
    than a two-phase salted count.
    """
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def referential_violations(
    child: DataFrame,
    parent: DataFrame,
    *,
    fk: str,
    pk: str,
    row_id: Optional[str] = None,
) -> DataFrame:
    """Child rows whose FK has no matching parent PK (dangling
    references), via LEFT ANTI join against the parent's distinct keys.

    NULL FKs are not violations (SQL FK semantics). The parent side is
    pruned to its key column before the join so the scan reads one
    column; AQE picks broadcast vs sort-merge at runtime.
    """
    parent_keys = parent.select(F.col(pk).alias(fk)).distinct()
    dangling = child.filter(F.col(fk).isNotNull()).join(parent_keys, on=fk, how="left_anti")
    if row_id is None:
        return dangling
    return dangling.select(
        F.col(row_id).cast("string").alias("row_id"),
        F.lit(fk).alias("field_key"),
        F.lit("referential.orphan").alias("error_code"),
        F.concat(
            F.lit(f"Value of {fk} has no matching {pk}: "), F.col(fk).cast("string")
        ).alias("message"),
        F.col(fk).cast("string").alias("value_repr"),
    )


def multi_key_uniqueness_violations(
    df: DataFrame,
    keys: Sequence[str],
    *,
    row_id: str,
) -> DataFrame:
    """Uniqueness violations for SEVERAL key columns in ONE aggregation.

    Instead of one groupBy + join-back per key (2 shuffles + 2 joins for
    image_id + phash), the row explodes to (key_name, key_value) pairs
    and the duplicate count is a count() WINDOW over the single
    (name, value) shuffle those pairs need anyway (round 6: the earlier
    groupBy + join-back computed the explode twice and shuffled the key
    twice). Row lineage survives because the window keeps every row.
    Same skew properties as duplicate_keys; a hot key is one window
    partition, which the count traverses in one pass."""
    from pyspark.sql import Window

    pairs = df.select(
        F.col(row_id).cast("string").alias("row_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("field_key"),
                        F.col(k).cast("string").alias("key_value"),
                    )
                    for k in keys
                ]
            )
        ).alias("kv"),
    ).select("row_id", "kv.field_key", "kv.key_value")
    cnt = F.count(F.lit(1)).over(Window.partitionBy("field_key", "key_value"))
    return (
        pairs.withColumn("dup_count", cnt)
        .filter(F.col("key_value").isNotNull() & (F.col("dup_count") > 1))
        .select(
            "row_id",
            "field_key",
            F.lit("unique.duplicate").alias("error_code"),
            F.concat(
                F.lit("Duplicate value for unique key ("),
                F.col("field_key"),
                F.lit("): appears "),
                F.col("dup_count").cast("string"),
                F.lit(" times"),
            ).alias("message"),
            F.lit(None).cast("string").alias("value_repr"),
        )
    )


def incremental_uniqueness_violations(
    batch: DataFrame,
    history: DataFrame,
    keys: Sequence[str],
    *,
    row_id: str,
    max_broadcast_keys: int = 5_000_000,
) -> DataFrame:
    """Uniqueness violations for an APPEND BATCH: duplicates within the
    batch plus collisions against the already-committed table — without
    ever shuffling the table.

    Validating only the delta (checkpoint.IncrementalValidator) would
    otherwise miss a new row that reuses an OLD image_id/phash. The
    table side is probed with one column-pruned scan per key through a
    broadcast semi-join against the (small) batch key set, so the big
    side streams map-side only — no shuffle, no sort. Colliding key
    values (normally tiny) broadcast back onto the batch to restore row
    lineage. At 10^12 rows the same shape holds: broadcast the delta,
    stream the table; bucketing the table by key or a bloom index turns
    the probe scan into partial reads, but never changes the plan shape.

    Emits the engine's violation contract (row_id, field_key,
    error_code, message, value_repr): ``unique.duplicate`` within the
    batch, ``unique.exists`` against history.

    The broadcast shape assumes delta ≪ table. A backfill-sized batch
    would exceed the driver/executor broadcast limit, so the batch's
    per-key distinct counts gate the strategy: above
    ``max_broadcast_keys`` the probe falls back to a plain shuffle
    join and lets AQE pick the strategy, trading the map-side-only
    table scan for not OOMing the driver. The gate itself is ONE
    approx_count_distinct pass over all keys together (HLL partials,
    no Expand, no shuffle of the batch) — an exact per-key
    count()/distinct() here cost one full Spark job per key per append
    and recomputed the uncached batch lineage each time. The ±5% HLL
    error is absorbed by a 25% safety margin on the threshold; a
    borderline batch at worst falls back to the (always-correct)
    shuffle join.

    This is the package's one explicit broadcast guard; every other
    join leaves the choice to AQE. Here the runtime choice cannot give
    the plan: the planner sizes the batch key set by its file bytes,
    while the gate counts keys, so a backfill batch above 10 MB still
    broadcasts and the history table is never shuffled. AQE's first
    round would already shuffle both sides of a sort-merge join.
    """
    parts = [
        multi_key_uniqueness_violations(
            batch.select(row_id, *keys), keys, row_id=row_id
        )
    ]
    approx = batch.agg(
        *[F.approx_count_distinct(k).alias(k) for k in keys]
    ).collect()[0]  # bounded collect: one scalar per key, single job
    for k in keys:
        batch_keys = batch.select(k).where(F.col(k).isNotNull()).distinct()
        small = int(approx[k]) <= int(max_broadcast_keys * 0.75)
        probe = F.broadcast(batch_keys) if small else batch_keys
        collided = (
            history.select(k)
            .join(probe, on=k, how="leftsemi")
            .distinct()
        )
        # collided ⊆ batch_keys, so the same size decision applies
        parts.append(
            batch.select(F.col(row_id).cast("string").alias("row_id"), k)
            .join(F.broadcast(collided) if small else collided, on=k)
            .select(
                "row_id",
                F.lit(k).alias("field_key"),
                F.lit("unique.exists").alias("error_code"),
                F.concat(
                    F.lit("Value for unique key ("),
                    F.lit(k),
                    F.lit(") already present in table: "),
                    F.col(k).cast("string"),
                ).alias("message"),
                F.col(k).cast("string").alias("value_repr"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def functional_dependency_violations(
    df: DataFrame,
    lhs: Sequence[str] | str,
    rhs: str,
) -> DataFrame:
    """Violations of the functional dependency ``lhs -> rhs``: LHS key
    values that map to MORE than one distinct RHS value —
    (lhs..., n_rhs_values, n_rows) ordered nowhere (caller sorts).

    The data-quality form of "column X determines column Y" (e.g.
    image_id -> phash, order key -> customer key). One groupBy(lhs)
    with a single exact countDistinct — Spark plans the distinct as a
    partial dedup on (lhs, rhs) before the final count, so a hot LHS
    never funnels raw rows into one reducer. NULL RHS values count as
    one distinct value (SQL countDistinct drops them; here NULL is a
    value a determinant maps to — mixed NULL/non-NULL IS a violation),
    implemented as an is-null flag counted alongside.
    """
    if isinstance(lhs, str):
        lhs = [lhs]
    n_distinct = (
        F.countDistinct(F.col(rhs))
        + F.max(F.when(F.col(rhs).isNull(), 1).otherwise(0))
    ).alias("n_rhs_values")
    return (
        df.groupBy(*[F.col(c) for c in lhs])
        .agg(n_distinct, F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rhs_values") > 1)
    )


def null_implication_violations(
    df: DataFrame,
    *,
    when_null: str,
    then_null: str,
    row_id: str,
) -> DataFrame:
    """Rows violating "if ``when_null`` IS NULL then ``then_null`` must
    be NULL" — the cross-column completeness contract (e.g. a missing
    caption must not carry a caption_lang). Emits the engine's
    violation contract; a single codegen'd filter, no shuffle."""
    return (
        df.filter(F.col(when_null).isNull() & F.col(then_null).isNotNull())
        .select(
            F.col(row_id).cast("string").alias("row_id"),
            F.lit(then_null).alias("field_key"),
            F.lit("implication.violated").alias("error_code"),
            F.concat(
                F.lit("Column ("), F.lit(then_null),
                F.lit(") must be null when ("), F.lit(when_null),
                F.lit(") is null"),
            ).alias("message"),
            F.col(then_null).cast("string").alias("value_repr"),
        )
    )


def cross_table_violations(
    fact: DataFrame,
    dim: DataFrame,
    *,
    fact_key: str,
    dim_key: str,
    must_hold,
    row_cols: Sequence,
) -> DataFrame:
    """Row-level constraints SPANNING two tables: each fact row is
    checked against its parent dim row and rows where ``must_hold``
    fails come back as violations (the reference's per-field validator
    contract lifted across a join — e.g. "a lineitem may not ship more
    than 90 days after its order was placed", "an image row's caption
    language must match its document's language").

    ``must_hold(fact, dim) -> Column`` builds the constraint from the
    two frames (so same-named columns stay unambiguous); ``row_cols``
    are the output columns (plain names resolve against the join,
    Columns pass through for computed evidence like the day gap).

    Scale: ONE equi-join on the key — Catalyst picks broadcast when
    the dim fits (AQE re-plans at runtime), sort-merge otherwise, and
    the NOT-predicate filter runs inside the join's codegen stage.
    Rows with no parent are NOT reported here (that is
    ``referential_violations``' job); an inner join keeps the two
    failure modes separate, exactly like the reference's per-check
    error codes."""
    joined = fact.join(dim, fact[fact_key] == dim[dim_key], "inner")
    cond = must_hold(fact, dim)
    return joined.filter(~cond).select(
        *[c if not isinstance(c, str) else F.col(c) for c in row_cols]
    )


def correlation_profile(
    df: DataFrame,
    pairs: Sequence[tuple[str, str]],
) -> DataFrame:
    """Pearson correlation per column pair, computed from EXACT integer
    sums — (x, y, n, corr) per pair. The input columns must be
    integer-valued (scale floats yourself: cents, grid units); sums
    accumulate as DECIMAL(38,0) so they are exact at any row count, and
    only the final closed-form formula drops to IEEE doubles — the same
    exact-sums-then-float contract as the PSNR and centroid-distance
    gates, making the result reproducible across engines (an oracle can
    mirror it bit-for-bit) where a streaming co-moment fold is not.

    Scale: ONE full-width hash aggregate for ALL pairs together (6
    algebraic sums per pair, map-side combined) — a 100 TB table is one
    scan regardless of how many pairs are profiled, vs ``df.stat.corr``
    which plans one job per pair."""
    aggs = []
    for i, (x, y) in enumerate(pairs):
        xd = F.col(x).cast("decimal(38,0)")
        yd = F.col(y).cast("decimal(38,0)")
        both = F.col(x).isNotNull() & F.col(y).isNotNull()
        aggs += [
            F.count(F.when(both, 1)).alias(f"n_{i}"),
            F.sum(F.when(both, xd)).alias(f"sx_{i}"),
            F.sum(F.when(both, yd)).alias(f"sy_{i}"),
            F.sum(F.when(both, xd * xd)).alias(f"sxx_{i}"),
            F.sum(F.when(both, yd * yd)).alias(f"syy_{i}"),
            F.sum(F.when(both, xd * yd)).alias(f"sxy_{i}"),
        ]
    wide = df.agg(*aggs)
    # finish per-pair in ONE projection over the single wide row, then
    # stack-unpivot to (x, y, n, corr) — no union of selects (each
    # branch would re-plan the aggregate subtree) and no second pass.
    finals = []
    for i in range(len(pairs)):
        n = F.col(f"n_{i}").cast("double")
        sx = F.col(f"sx_{i}").cast("double")
        sy = F.col(f"sy_{i}").cast("double")
        sxx = F.col(f"sxx_{i}").cast("double")
        syy = F.col(f"syy_{i}").cast("double")
        sxy = F.col(f"sxy_{i}").cast("double")
        finals.append(F.col(f"n_{i}").cast("bigint").alias(f"nn_{i}"))
        finals.append(
            F.round(
                (n * sxy - sx * sy)
                / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
                6,
            ).alias(f"corr_{i}")
        )
    stacked = ", ".join(
        f"'{x}', '{y}', nn_{i}, corr_{i}" for i, (x, y) in enumerate(pairs)
    )
    return wide.select(*finals).selectExpr(
        f"stack({len(pairs)}, {stacked}) as (x, y, n, corr)"
    )


def categorical_entropy(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Shannon entropy (nats) of each categorical column — (column,
    n_values, n_rows, entropy) — the data-profiling signal for "did
    this column collapse to a constant / explode into an id" that
    min/max/null-rate cannot see. NULLs are excluded (entropy of the
    observed distribution).

    Computed as ln(n) - Σ(cnt·ln cnt)/n from per-value counts, in ONE
    pass for ALL columns: explode each row into (column, stringified
    value) pairs inside the scan stage, then two hash aggregates —
    per-(column,value) counts (map-side combined, so the shuffle
    carries per-partition distinct counts, not rows) and the tiny
    per-column fold over |distinct| rows. One scan regardless of how
    many columns are profiled — at 100 TB the scan IS the cost, and a
    per-column loop would multiply it. Values are compared stringified
    (bijective for the primitive types this profiles, so counts are
    unchanged). Rounded to 6 dp for cross-engine reproducibility (ln
    is correctly rounded in practice on both JVM and libm; the
    rounding absorbs the remaining ulp)."""
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"), F.col(c).cast("string").alias("v")
            )
            for c in cols
        ]
    )
    counts = (
        df.select(F.explode(pairs).alias("e"))
        .select("e.column", "e.v")
        .filter(F.col("v").isNotNull())
        .groupBy("column", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return counts.groupBy("column").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_values"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.round(
            F.log(F.sum("cnt").cast("double"))
            - F.sum(F.col("cnt").cast("double") * F.log(F.col("cnt").cast("double")))
            / F.sum("cnt").cast("double"),
            6,
        ).alias("entropy"),
    )


def suggest_constraints(
    df: DataFrame,
    cols: Optional[Sequence[str]] = None,
    *,
    max_value_set: int = 10,
) -> DataFrame:
    """Constraint SUGGESTION: profile the table once and propose the
    checks a user would then enforce — (column, code, expression) rows.
    The profiling half of the reference's declare-then-validate loop
    (you read the data's actual shape, then pin it as a Schema):

    - ``not_null``   — column has zero NULLs
    - ``unique``     — distinct == non-null count (and any non-nulls)
    - ``value_set``  — ≤ ``max_value_set`` distinct values: suggests
      the reference's `fields.Literal(...)` / IN-list
    - ``range``      — integer-typed columns: BETWEEN observed min/max
      (the reference's `validate.Range`); restricted to integer types
      so the rendered bounds are textually exact

    Scale: ONE full-width aggregate for n/non-null/min/max of every
    column plus one single-distinct aggregate per column (crossJoined
    1-row frames — never a multi-distinct Expand, see column_profile),
    then a ≤``max_value_set``-row distinct collect per qualifying
    column. Driver work is O(n_cols · max_value_set) scalars — bounded
    and collected deliberately; the table itself is scanned, never
    collected."""
    if cols is None:
        cols = df.columns
    int_types = {"tinyint", "smallint", "int", "bigint"}
    dtypes = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"{c}__nn"))
        aggs.append(F.min(F.col(c)).cast("string").alias(f"{c}__min"))
        aggs.append(F.max(F.col(c)).cast("string").alias(f"{c}__max"))
    wide = df.agg(*aggs)
    for c in cols:
        wide = wide.crossJoin(
            df.agg(F.count_distinct(F.col(c)).alias(f"{c}__distinct"))
        )
    p = wide.collect()[0]  # bounded: one wide row of per-column scalars
    n = p["__n"]
    out: list[tuple] = []
    for c in cols:
        nn, d = p[f"{c}__nn"], p[f"{c}__distinct"]
        if nn == n and n > 0:
            out.append((c, "not_null", f"{c} IS NOT NULL"))
        if nn > 0 and d == nn:
            out.append((c, "unique", f"{c} IS UNIQUE"))
        if 0 < d <= max_value_set:
            vals = sorted(
                r[0]
                for r in df.select(F.col(c).cast("string"))
                .filter(F.col(c).isNotNull())
                .distinct()
                .collect()  # bounded: d <= max_value_set rows
            )
            quoted = ", ".join(f"'{v}'" for v in vals)
            out.append((c, "value_set", f"{c} IN ({quoted})"))
        if nn > 0 and dtypes.get(c) in int_types:
            out.append(
                (c, "range", f"{c} BETWEEN {p[f'{c}__min']} AND {p[f'{c}__max']}")
            )
    return local_frame(df.sparkSession, out, "column string, code string, expression string")


def uniqueness_metrics(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Deequ-class column metrics in ONE scan for ALL columns —
    (column, n_rows, n_nonnull, n_distinct, n_unique_once,
    completeness, distinctness, uniqueness):

    - completeness = non-null / rows
    - distinctness = distinct / non-null ("how id-like")
    - uniqueness   = values occurring EXACTLY once / non-null (the
      Deequ metric that distinguishes "almost a key with a few hot
      dups" from "uniformly repeated")

    Same single-pass shape as :func:`categorical_entropy`: explode to
    (column, stringified value) inside the scan stage (NULLs kept so
    completeness falls out of the same pass), map-side-combined
    per-value counts, then a tiny per-column fold over |distinct|
    rows. Ratios rounded 6dp; counts exact BIGINTs."""
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"), F.col(c).cast("string").alias("v")
            )
            for c in cols
        ]
    )
    counts = (
        df.select(F.explode(pairs).alias("e"))
        .select("e.column", "e.v")
        .groupBy("column", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    nn = F.sum(F.when(F.col("v").isNotNull(), F.col("cnt")).otherwise(0))
    return counts.groupBy("column").agg(
        F.sum("cnt").cast("bigint").alias("n_rows"),
        nn.cast("bigint").alias("n_nonnull"),
        F.count(F.when(F.col("v").isNotNull(), 1)).cast("bigint").alias("n_distinct"),
        F.count(F.when(F.col("v").isNotNull() & (F.col("cnt") == 1), 1))
        .cast("bigint")
        .alias("n_unique_once"),
        F.round(nn.cast("double") / F.sum("cnt").cast("double"), 6).alias(
            "completeness"
        ),
        F.round(
            F.count(F.when(F.col("v").isNotNull(), 1)).cast("double")
            / nn.cast("double"),
            6,
        ).alias("distinctness"),
        F.round(
            F.count(F.when(F.col("v").isNotNull() & (F.col("cnt") == 1), 1))
            .cast("double")
            / nn.cast("double"),
            6,
        ).alias("uniqueness"),
    )


def pattern_ratio(df: DataFrame, col: str, pattern: str) -> DataFrame:
    """Format-compliance metric: what fraction of ``col``'s non-null
    values fully match ``pattern`` — (n_nonnull, n_matching, ratio).
    The distributed form of the reference's `validate.Regex` "full
    match" mode as a METRIC instead of per-row violations (pair with
    the validator when you need the rows themselves).

    One codegen'd conditional aggregate — map-only, combinable, the
    regex runs inside the scan stage. Stick to portable regex
    constructs (classes, anchors, quantifiers) if an external oracle
    must agree; Java and RE2 dialects diverge on exotica."""
    m = F.col(col).rlike(pattern)
    return df.agg(
        F.count(F.col(col)).cast("bigint").alias("n_nonnull"),
        F.count(F.when(m, 1)).cast("bigint").alias("n_matching"),
        F.round(
            F.count(F.when(m, 1)).cast("double")
            / F.count(F.col(col)).cast("double"),
            6,
        ).alias("ratio"),
    )


def grouped_completeness(
    df: DataFrame,
    group_col: str,
    cols: Sequence[str],
    *,
    min_completeness: float = 1.0,
) -> DataFrame:
    """Per-GROUP completeness — (group, column, n_rows, n_nonnull,
    completeness, below_threshold) for every (group, column) pair. The
    question a global null-rate hides: WHICH ingest day / source / shard
    broke the column. A feed that nulls captions for one day moves a
    10^12-row table's global rate by 1e-3 (invisible) but that day's
    rate to 0 (flagged here).

    ONE groupBy over the table with a conditional-count pair per column,
    then a stack unpivot of the |groups| x width frame — map-side
    combinable, the shuffle carries |groups| rows, and adding columns
    adds zero passes. Ratio rounded 6dp."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"{c}__nn"))
    wide = df.groupBy(F.col(group_col).alias("group")).agg(*aggs)
    stacked = ", ".join(f"'{c}', `{c}__nn`" for c in cols)
    return (
        wide.selectExpr(
            "`group`",
            "__n",
            f"stack({len(cols)}, {stacked}) as (column, n_nonnull)",
        )
        .select(
            "group",
            "column",
            F.col("__n").cast("bigint").alias("n_rows"),
            F.col("n_nonnull").cast("bigint").alias("n_nonnull"),
            F.round(
                F.col("n_nonnull").cast("double") / F.col("__n").cast("double"),
                6,
            ).alias("completeness"),
            (
                F.col("n_nonnull").cast("double") / F.col("__n").cast("double")
                < F.lit(float(min_completeness))
            ).alias("below_threshold"),
        )
    )


def key_skew_profile(df: DataFrame, key: str, *, top_n: int = 10) -> DataFrame:
    """Top-N heaviest values of a join/partition key — the pre-shuffle
    audit that decides whether a 100 TB join needs salting, AQE
    skew-split, or nothing. Output per heavy key: (rank, key_value,
    n_rows, share, skew) plus the table-level (n_keys, total_rows);
    ``skew`` = n_rows / (total/n_keys), i.e. how many times heavier than
    the uniform-key expectation — skew ≈ 1 everywhere means shuffle
    freely, skew ≫ cores on rank 1 means that key serializes a stage.

    Plan shape: one map-side-combinable groupBy(key) (a hot key
    contributes one partial row per mapper, so profiling the skew never
    suffers it), then ``orderBy + limit`` — Spark plans that as
    TakeOrderedAndProject, a distributed per-partition top-N merged on
    the driver, NOT a global sort; a billion-key table never single-
    tasks. The two table-level scalars aggregate the slim counts frame
    and cross-join back (1 row, broadcast). Rank is dense over
    (n_rows desc, key asc) so ties are deterministic; the key is cast
    to string so one profile schema fits any key type. NULL keys are
    profiled too (often THE hot key) and sort first among ties."""
    counts = df.groupBy(F.col(key).cast("string").alias("key_value")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    totals = counts.agg(
        F.sum("n_rows").cast("bigint").alias("total_rows"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    top = counts.orderBy(
        F.desc("n_rows"), F.asc_nulls_first("key_value")
    ).limit(int(top_n))
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("n_rows"), F.asc_nulls_first("key_value"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("int"))
        .crossJoin(F.broadcast(totals))
        .select(
            "rank",
            "key_value",
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.round(
                F.col("n_rows").cast("double")
                / F.col("total_rows").cast("double"),
                6,
            ).alias("share"),
            F.round(
                F.col("n_rows").cast("double")
                * F.col("n_keys").cast("double")
                / F.col("total_rows").cast("double"),
                6,
            ).alias("skew"),
            "n_keys",
            "total_rows",
        )
    )


def freshness_check(
    df: DataFrame,
    *,
    ts_col: str,
    group_col: str,
    as_of,
    max_lag_seconds: int,
) -> DataFrame:
    """Per-group data freshness: (group, last_ts, lag_seconds, stale) —
    the "did source X stop delivering" check. ``as_of`` is an explicit
    reference instant (datetime or ISO string), never wall-clock: the
    check is deterministic and replayable, and a backfill audit can ask
    "was src7 stale as of last Tuesday".

    lag is computed at MICROSECOND granularity then floor-divided to
    seconds: microsecond diff equals the exact integer difference of
    the timestamps' micros in any engine (second-granularity datediffs
    count boundary crossings differently across engines). One
    map-side-combinable max() per group — shuffle carries |groups|
    rows."""
    if hasattr(as_of, "isoformat"):
        as_of = as_of.isoformat(sep=" ")
    # the as_of literal takes the ts column's OWN type: parquet surfaces
    # TIMESTAMP_NTZ, and diffing an ntz column against a session-local
    # TIMESTAMP literal would make the lag depend on the session tz
    ts_type = df.schema[ts_col].dataType.simpleString()
    last = df.groupBy(F.col(group_col).alias("group")).agg(
        F.max(ts_col).alias("last_ts")
    )
    lag_us = F.expr(
        f"timestampdiff(MICROSECOND, last_ts, cast('{as_of}' as {ts_type}))"
    )
    lag_s = F.floor(lag_us / F.lit(1_000_000.0)).cast("bigint")
    return last.select(
        "group",
        "last_ts",
        lag_s.alias("lag_seconds"),
        (lag_s > F.lit(int(max_lag_seconds))).alias("stale"),
    )


def frequent_values_profile(
    df: DataFrame, cols: Sequence[str], *, k: int = 5
) -> DataFrame:
    """Top-k most frequent values PER COLUMN in one scan: (column,
    value, n_rows, rank) — the value-histogram panel of a data profiler
    (Deequ's frequent-items analyzer). Values are cast to string so one
    schema profiles any column mix; NULL is profiled as a value (a
    90%-null column's top "value" IS null — hiding it defeats the
    profile) and sorts first among count ties.

    One projection stacks the columns to (column, value) rows — a
    |cols|-way fan-out that stays map-side — then ONE combinable
    groupBy(column, value) and a per-column window over the slim counts
    frame, rank = row_number by (count desc, value asc). The raw-table
    shuffle carries one row per (column, distinct value); the window
    partitions by column, so no global sort anywhere."""
    pairs = ", ".join(
        f"'{c}', cast(`{c}` as string)" for c in cols
    )
    stacked = df.selectExpr(
        f"stack({len(cols)}, {pairs}) as (column, value)"
    )
    counts = stacked.groupBy("column", "value").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("column").orderBy(
        F.desc("n_rows"), F.asc_nulls_first("value")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= int(k))
        .select("column", "value", "n_rows", "rank")
    )


#: engine-agnostic lexical type patterns (RE2-safe: no lookarounds) —
#: the same strings run under Java regex and DuckDB RE2, so a SQL
#: oracle reproduces the inference bit-for-bit.
TYPE_PATTERNS = {
    "int": r"^[+-]?\d+$",
    "float": r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$",
    "bool": r"^(true|false|TRUE|FALSE|True|False)$",
    "date": r"^\d{4}-\d{2}-\d{2}$",
}


def type_inference_profile(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Lexical type inference over string columns — the "this CSV/staged
    column is really an int" profiler: per column, the fraction of
    non-null values matching int/float/bool/date patterns and the
    inferred type (first of int, date, bool, float, string whose
    pattern matches EVERY non-null value; int precedes float because
    every int lexes as a float). The staged-ingest companion to the
    typed validators: run it on a landed all-string table to propose
    the schema the validators then enforce.

    ONE aggregation pass: per column a conditional count per pattern,
    stack-unpivoted to (column, ...) rows — adding columns adds zero
    passes, the shuffle carries one row total (no groupBy key). All
    fractions are exact-count quotients rounded 6dp."""
    aggs = []
    for c in cols:
        col = F.col(c).cast("string")
        aggs.append(F.count(F.lit(1)).alias(f"{c}__n"))
        aggs.append(F.count(col).alias(f"{c}__nn"))
        for t, pat in TYPE_PATTERNS.items():
            aggs.append(
                F.sum(
                    F.when(col.rlike(pat), 1).otherwise(0)
                ).alias(f"{c}__{t}")
            )
    wide = df.agg(*aggs)
    tuples = ", ".join(
        f"'{c}', `{c}__n`, `{c}__nn`, `{c}__int`, `{c}__float`, "
        f"`{c}__bool`, `{c}__date`"
        for c in cols
    )
    stacked = wide.selectExpr(
        f"stack({len(cols)}, {tuples}) as "
        "(column, n, nn, c_int, c_float, c_bool, c_date)"
    )
    nn = F.col("nn").cast("double")
    frac = lambda c: F.round(  # noqa: E731
        F.when(F.col("nn") > 0, F.col(c).cast("double") / nn).otherwise(0.0), 6
    )
    full = lambda c: (F.col("nn") > 0) & (F.col(c) == F.col("nn"))  # noqa: E731
    inferred = (
        F.when(full("c_int"), "int")
        .when(full("c_date"), "date")
        .when(full("c_bool"), "bool")
        .when(full("c_float"), "float")
        .otherwise("string")
    )
    return stacked.select(
        "column",
        F.col("n").cast("bigint").alias("n_rows"),
        F.col("nn").cast("bigint").alias("n_nonnull"),
        frac("c_int").alias("frac_int"),
        frac("c_float").alias("frac_float"),
        frac("c_bool").alias("frac_bool"),
        frac("c_date").alias("frac_date"),
        inferred.alias("inferred_type"),
    )


def iqr_outlier_profile(
    df: DataFrame,
    cols: Sequence[str],
    *,
    k: float = 1.5,
    exact: bool = True,
) -> DataFrame:
    """Tukey-fence outlier profile per numeric column: (column, q1, q3,
    lo_fence, hi_fence, n_below, n_above) with fences at q1 - k*IQR /
    q3 + k*IQR.

    Two passes, each a single whole-table aggregate over ALL columns
    together: (1) quartiles, collected to the driver (bounded: 2
    scalars per column) so pass (2) can count fence crossings with
    literal comparisons inside one codegen'd aggregate — no join, no
    per-column jobs.

    ``exact=True`` uses the exact ``percentile`` aggregate — right for
    oracle comparison and for integer/low-cardinality inputs (Spark's
    implementation buffers per-partition value->count maps, so its
    memory is O(distinct values), not O(rows)). At web scale over
    high-cardinality doubles pass ``exact=False`` for the mergeable
    ``percentile_approx`` sketch at ``drift.ACCURACY`` instead.

    Exactness contract (how the DuckDB oracle matches bit-for-bit):
    feed integer-valued columns (e.g. prices scaled to cents) and keep
    ``k`` dyadic (1.5 default). Quartile interpolation fractions are
    then dyadic (0, .25, .5, .75), every product/sum below 2^53 is
    exact in ieee754, and both engines' linear interpolation — in any
    evaluation order — lands on the identical double."""
    p = [0.25, 0.75]
    if exact:
        # the exact path makes TWO serial whole-table passes (quartiles,
        # then fence counts with literal fences); materialize the narrow
        # numeric projection once so pass 2 reads columnar memory, not
        # the parquet scan + projection again (round 6). The exact path
        # is the oracle/integer-input mode by contract — the web-scale
        # path (exact=False) stays scan-driven and un-materialized.
        df = df.select(*[F.col(c) for c in cols]).localCheckpoint(eager=True)
        qagg = [F.percentile(F.col(c), p).alias(c) for c in cols]
    else:
        qagg = [F.percentile_approx(F.col(c), p, ACCURACY).alias(c) for c in cols]
    qrow = df.agg(*qagg).first()  # bounded collect: 2 scalars per column

    aggs = []
    fences: dict[str, tuple] = {}
    for c in cols:
        q1, q3 = (qrow[c] or (None, None))[0], (qrow[c] or (None, None))[1]
        if q1 is None or q3 is None:
            lo = hi = None
        else:
            iqr = q3 - q1
            lo, hi = q1 - k * iqr, q3 + k * iqr
        fences[c] = (q1, q3, lo, hi)
        below = F.lit(False) if lo is None else F.col(c) < F.lit(lo)
        above = F.lit(False) if hi is None else F.col(c) > F.lit(hi)
        aggs.append(F.sum(F.when(below, 1).otherwise(0)).alias(f"{c}__below"))
        aggs.append(F.sum(F.when(above, 1).otherwise(0)).alias(f"{c}__above"))
    wide = df.agg(*aggs)

    tuples = ", ".join(f"'{c}', `{c}__below`, `{c}__above`" for c in cols)
    stacked = wide.selectExpr(
        f"stack({len(cols)}, {tuples}) as (column, n_below, n_above)"
    )
    q1c = F.create_map(
        *[x for c in cols for x in (F.lit(c), F.lit(fences[c][0]))]
    )
    q3c = F.create_map(
        *[x for c in cols for x in (F.lit(c), F.lit(fences[c][1]))]
    )
    loc = F.create_map(
        *[x for c in cols for x in (F.lit(c), F.lit(fences[c][2]))]
    )
    hic = F.create_map(
        *[x for c in cols for x in (F.lit(c), F.lit(fences[c][3]))]
    )
    key = F.col("column")
    return stacked.select(
        "column",
        q1c[key].cast("double").alias("q1"),
        q3c[key].cast("double").alias("q3"),
        loc[key].cast("double").alias("lo_fence"),
        hic[key].cast("double").alias("hi_fence"),
        F.col("n_below").cast("bigint").alias("n_below"),
        F.col("n_above").cast("bigint").alias("n_above"),
    )


def mad_outlier_profile(
    df: DataFrame,
    cols: Sequence[str],
    *,
    k: float = 5.0,
    exact: bool = True,
) -> DataFrame:
    """Median/MAD robust outlier profile per numeric column: (column,
    median, mad, lo_fence, hi_fence, n_below, n_above) with fences at
    median ± k·MAD — the modified-z-score family (k=5 MADs ≈ the
    classic 3.5 threshold on 0.6745·dev/MAD, kept DYADIC so the exact
    path stays oracle-reproducible where the 0.6745/1.4826 constants
    never could).

    Three passes, each ONE whole-table aggregate over all columns
    (medians → MADs over |x - median| with literal medians → fence
    counts with literal fences); driver traffic is 2 scalars per column
    per pass. ``exact=False`` swaps both percentiles for the mergeable
    ``percentile_approx`` sketch (at ``drift.ACCURACY``) for web-scale
    high-cardinality inputs.

    Exactness contract: integer-valued inputs make the median a
    multiple of 0.5, |x - median| a multiple of 0.5, the MAD a multiple
    of 0.25, and k·MAD exact for dyadic k — every comparison lands on
    the identical double in any engine."""

    def _median(col):
        if exact:
            return F.percentile(col, 0.5)
        return F.percentile_approx(col, 0.5, ACCURACY)

    if exact:
        # three serial whole-table passes (median -> MAD -> fences);
        # same narrow-projection materialization as iqr_outlier_profile
        df = df.select(*[F.col(c) for c in cols]).localCheckpoint(eager=True)
    med_row = df.agg(
        *[_median(F.col(c)).alias(c) for c in cols]
    ).first()  # bounded collect: 1 scalar per column
    meds = {c: med_row[c] for c in cols}

    mad_aggs = []
    for c in cols:
        if meds[c] is None:
            mad_aggs.append(F.lit(None).cast("double").alias(c))
        else:
            mad_aggs.append(
                _median(F.abs(F.col(c) - F.lit(meds[c]))).alias(c)
            )
    mad_row = df.agg(*mad_aggs).first()  # bounded collect: 1 scalar per column

    aggs = []
    fences: dict[str, tuple] = {}
    for c in cols:
        med, mad = meds[c], mad_row[c]
        if med is None or mad is None:
            lo = hi = None
        else:
            lo, hi = med - k * mad, med + k * mad
        fences[c] = (med, mad, lo, hi)
        below = F.lit(False) if lo is None else F.col(c) < F.lit(lo)
        above = F.lit(False) if hi is None else F.col(c) > F.lit(hi)
        aggs.append(F.sum(F.when(below, 1).otherwise(0)).alias(f"{c}__below"))
        aggs.append(F.sum(F.when(above, 1).otherwise(0)).alias(f"{c}__above"))
    wide = df.agg(*aggs)

    tuples = ", ".join(f"'{c}', `{c}__below`, `{c}__above`" for c in cols)
    stacked = wide.selectExpr(
        f"stack({len(cols)}, {tuples}) as (column, n_below, n_above)"
    )
    key = F.col("column")

    def _map(idx):
        return F.create_map(
            *[x for c in cols for x in (F.lit(c), F.lit(fences[c][idx]))]
        )

    return stacked.select(
        "column",
        _map(0)[key].cast("double").alias("median"),
        _map(1)[key].cast("double").alias("mad"),
        _map(2)[key].cast("double").alias("lo_fence"),
        _map(3)[key].cast("double").alias("hi_fence"),
        F.col("n_below").cast("bigint").alias("n_below"),
        F.col("n_above").cast("bigint").alias("n_above"),
    )
