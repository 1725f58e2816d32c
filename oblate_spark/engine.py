"""Execution engine: apply a compiled plan to a DataFrame.

``validate(df, Schema)`` is the distributed analogue of the reference's
``Schema(data)`` constructor (oblate/schema.py:116-134): one logical
plan — read -> per-field check expressions -> violations flatten ->
verdict aggregation — that Catalyst optimizes end-to-end. A run yields:

* ``annotated``   — input + ``_violations`` array + ``_valid`` flag
* ``violations``  — exploded violation rows
  ``(row_id, field_key, error_code, message, value_repr, partition_id)``
  (the distributed form of ``ValidationError.raw()``,
  oblate/exceptions.py:271-294)
* ``verdicts()``  — per-partition pass/fail roll-up with violation
  counts by error code (north-rule "per-partition pass/fail verdicts")
* ``raw()``       — driver-side nested-dict roll-up, exact parity with
  the reference's raw() shape incl. nested Object paths.

Scale notes: the violations column is computed in the same stage as the
scan (no shuffle); ``verdicts()`` is a single map-side-combinable
aggregation keyed by partition id (no skew — partition ids are unique);
``valid_rows``/``invalid_rows`` are filters over the annotated frame so
Catalyst prunes the violations computation where possible.
"""

from __future__ import annotations

import dataclasses
import weakref
from dataclasses import dataclass
from typing import Any, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .compiler import CompiledPlan, _walk_fields, compile_plan, reads_run_state

__all__ = ["ValidationResult", "validate", "raw_from_violations"]

#: local MISSING sentinel for get_value_for's default (the reference's
#: MISSING, oblate/utils.py:41-54)
_MISSING_SENTINEL = object()


def _resolve_row_id(df: DataFrame, row_id: Optional[str]) -> Column:
    if row_id is not None:
        return F.col(row_id).cast("string")
    if "row_id" in df.columns:
        return F.col("row_id").cast("string")
    if "image_id" in df.columns:
        return F.col("image_id").cast("string")
    # content-derived id: stable across retries/partitioning, unlike
    # monotonically_increasing_id (SURVEY.md §7.3 contextvars note)
    return F.sha2(F.to_json(F.struct(*[F.col(c) for c in df.columns])), 256)


@dataclass
class ValidationResult:
    annotated: DataFrame
    plan: CompiledPlan
    #: per-run SchemaContext (user state passed as validate(state=...));
    #: reference oblate/contexts.py:42-83
    context: Any = None

    @property
    def violations(self) -> DataFrame:
        v = self.annotated.select(
            F.col("_row_id").alias("row_id"),
            F.explode("_violations").alias("v"),
            F.spark_partition_id().alias("partition_id"),
        )
        return v.select(
            "row_id",
            F.col("v.field_key").alias("field_key"),
            F.col("v.error_code").alias("error_code"),
            F.col("v.message").alias("message"),
            F.col("v.value_repr").alias("value_repr"),
            "partition_id",
        )

    @property
    def valid_rows(self) -> DataFrame:
        return self.annotated.filter(F.col("_valid")).drop("_violations", "_valid", "_row_id")

    @property
    def invalid_rows(self) -> DataFrame:
        return self.annotated.filter(~F.col("_valid")).drop("_violations", "_valid", "_row_id")

    def verdicts(self) -> DataFrame:
        """Per-partition pass/fail roll-up (FIXTURES.md contract:
        verdicts(partition_id, rows, passed, failed, violation_counts))."""
        exploded = self.annotated.select(
            F.spark_partition_id().alias("partition_id"),
            F.col("_valid"),
            F.col("_violations"),
        )
        per_code = exploded.select(
            "partition_id",
            "_valid",
            F.explode_outer(F.col("_violations.error_code")).alias("error_code"),
        )
        counts = (
            per_code.groupBy("partition_id", "error_code")
            .count()
            .filter(F.col("error_code").isNotNull())
            .groupBy("partition_id")
            .agg(F.map_from_entries(F.collect_list(F.struct("error_code", "count"))).alias("violation_counts"))
        )
        base = exploded.groupBy("partition_id").agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("_valid").cast("long")).alias("passed"),
            F.sum((~F.col("_valid")).cast("long")).alias("failed"),
        )
        return base.join(counts, "partition_id", "left")

    def metrics(self) -> dict:
        row = self.annotated.agg(
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(F.sum(F.col("_valid").cast("long")), F.lit(0)).alias("passed"),
            F.coalesce(F.sum(F.size("_violations")), F.lit(0)).alias("violations"),
        ).collect()[0]
        return {"rows": row["rows"], "passed": row["passed"], "violations": row["violations"]}

    def raw(self) -> dict:
        """Driver-side roll-up ``{row_id: {field_key: [msg, ...]}}`` with
        nested dicts for dotted Object paths — parity with
        ``ValidationError.raw()`` (oblate/exceptions.py:271-294).
        Collects: test/debug use only. ``config.violation_formatter``
        (a callable taking the violation row as a dict, returning the
        display string) customizes every message in the report — the
        engine's pluggable-error-formatter hook (reference
        configs.py:113-125)."""
        from .schema import config

        fmt = config.violation_formatter
        rows = self.violations.collect()
        if fmt is not None:
            triples = [
                (r["row_id"], r["field_key"], fmt(r.asDict())) for r in rows
            ]
        else:
            triples = [(r["row_id"], r["field_key"], r["message"]) for r in rows]
        return raw_from_violations(triples)

    def get_value_for(self, row_id: str, field_name: str, default: Any = _MISSING_SENTINEL):
        """Point lookup of one field's loaded value for one row —
        reference ``Schema.get_value_for`` (oblate/schema.py:352-383).
        ``field_name`` may be the attribute name or the load_key.
        Raises RuntimeError for an unknown field, ``FieldNotSet`` when
        the field has no value in this run (column absent, no default)
        unless ``default`` is given, KeyError for an unknown row_id.

        .. warning:: Each call launches a full-scan Spark job (a
           distributed table has no O(1) row handle) — this is a
           parity/debug surface. Looping over row_ids is a job per
           iteration; use :meth:`get_values_for` to answer N lookups in
           ONE job."""
        from .errors import FieldNotSet

        cls = self.plan.schema_cls
        fld = cls.__fields__.get(field_name) or cls.__load_fields__.get(field_name)
        if fld is None:
            raise RuntimeError(f"Invalid field name {field_name!r}")
        key = fld.load_key
        if key not in self.plan.loaded:
            if default is not _MISSING_SENTINEL:
                return default
            raise FieldNotSet(fld, cls, field_name)
        base = self.plan.with_helpers(self.annotated)  # loaded exprs may reference helpers
        rows = (
            base.filter(F.col("_row_id") == str(row_id))
            .select(self.plan.loaded[key].alias("v"))
            .limit(1)
            .collect()
        )
        if not rows:
            raise KeyError(f"row_id {row_id!r} not found")
        return rows[0]["v"]

    def get_values_for(
        self, row_ids: Sequence[str], field_name: str, default: Any = _MISSING_SENTINEL
    ) -> dict:
        """Batched :meth:`get_value_for`: answers N point lookups in ONE
        Spark job — an ``IN``-list predicate on the id column, which
        Catalyst pushes into the scan (for very large id sets a
        broadcast semi-join would replace it; the job count is the same).
        Returns ``{row_id: value}`` for the ids that exist; absent
        ids are simply missing from the dict (no per-id KeyError).
        Field-resolution semantics match ``get_value_for``."""
        from .errors import FieldNotSet

        cls = self.plan.schema_cls
        fld = cls.__fields__.get(field_name) or cls.__load_fields__.get(field_name)
        if fld is None:
            raise RuntimeError(f"Invalid field name {field_name!r}")
        key = fld.load_key
        if key not in self.plan.loaded:
            if default is not _MISSING_SENTINEL:
                return {str(r): default for r in row_ids}
            raise FieldNotSet(fld, cls, field_name)
        ids = [str(r) for r in row_ids]
        if not ids:
            return {}
        base = self.plan.with_helpers(self.annotated)  # loaded exprs may reference helpers
        rows = (
            base.filter(F.col("_row_id").isin(ids))
            .select(F.col("_row_id").alias("k"), self.plan.loaded[key].alias("v"))
            .collect()
        )
        return {r["k"]: r["v"] for r in rows}


def raw_from_violations(rows: list[tuple[str, str, str]]) -> dict:
    """Build the reference raw() shape from (row_id, field_key, message)
    triples. Dotted keys nest: ('author.id', m) ->
    {'author': [{'id': [m]}]} (tests/test_fields_nesting.py:48-53)."""
    out: dict[str, dict] = {}
    nested_cache: dict[tuple[str, str], dict] = {}
    for row_id, field_key, message in rows:
        per_row = out.setdefault(row_id, {})
        if "." in field_key:
            head, rest = field_key.split(".", 1)
            cache_key = (row_id, head)
            nested = nested_cache.get(cache_key)
            if nested is None:
                nested = {}
                nested_cache[cache_key] = nested
                per_row.setdefault(head, []).append(nested)
            _nest_into(nested, rest, message)
        else:
            per_row.setdefault(field_key, []).append(message)
    return out


def _nest_into(d: dict, key_path: str, message: str) -> None:
    if "." in key_path:
        head, rest = key_path.split(".", 1)
        holder = d.setdefault(head, [])
        if holder and isinstance(holder[-1], dict):
            _nest_into(holder[-1], rest, message)
        else:
            sub: dict = {}
            holder.append(sub)
            _nest_into(sub, rest, message)
    else:
        d.setdefault(key_path, []).append(message)


#: schema class -> {(SparkContext, mode, is_update, ignore_extra,
#: extra_columns_ok, input schema): (fields and validators compiled,
#: plan without its schema class, violations column)}. Weak on the
#: class, so a class built at run time is not kept alive by its plans
#: (which therefore must not reference it); the SparkContext in the key
#: is held and compared by identity, so a stopped context's entry never
#: matches a later context's.
_PLANS: "weakref.WeakKeyDictionary[Any, dict]" = weakref.WeakKeyDictionary()


def _compiled(
    schema_cls: Any, df: DataFrame, *, mode: str, extra_columns_ok: tuple, ignore_extra: bool,
    is_update: bool,
) -> tuple[CompiledPlan, Column]:
    """``schema_cls``'s plan over ``df`` and its violations column,
    compiled once per key of ``_PLANS`` unless a compile-time hook can
    see per-run state (:func:`compiler.reads_run_state`)."""

    def compile_() -> tuple[CompiledPlan, Column]:
        plan = compile_plan(
            schema_cls, df, mode=mode, extra_columns_ok=extra_columns_ok,
            is_update=is_update, ignore_extra=ignore_extra,
        )
        return plan, plan.violations_column()

    if reads_run_state(schema_cls):
        return compile_()
    sc = df.sparkSession.sparkContext
    key = (sc, mode, is_update, ignore_extra, tuple(extra_columns_ok), df.schema)
    # add/remove/clear_validator after a compile must recompile
    parts = [obj for f in _walk_fields(schema_cls) for obj in (f, *f.validators)]
    plans = _PLANS.setdefault(schema_cls, {})
    hit = plans.get(key)
    if hit is not None and len(hit[0]) == len(parts) and all(a is b for a, b in zip(hit[0], parts)):
        return dataclasses.replace(hit[1], schema_cls=schema_cls), hit[2]
    plan, violations_col = compile_()
    for stale in [k for k in plans if k[0] is not sc]:
        del plans[stale]
    plans[key] = (parts, dataclasses.replace(plan, schema_cls=None), violations_col)
    return plan, violations_col


def validate(
    df: DataFrame,
    schema_cls: Any,
    *,
    mode: str = "typed",
    row_id: Optional[str] = None,
    extra_columns_ok: tuple[str, ...] = ("row_id",),
    ignore_extra: Optional[bool] = None,
    is_update: bool = False,
    state: Any = None,
) -> ValidationResult:
    """Compile and apply ``schema_cls``'s plan to ``df``.

    ``is_update=True`` validates a change-set: absent columns mean
    "unchanged", so required/default semantics for them are skipped
    (reference Schema.update parity, oblate/schema.py:385-436).

    ``state`` is arbitrary per-run user state (reference
    ``Schema(data, state=...)``, oblate/contexts.py:42-83): published to
    custom validators and ``format_error`` overrides for the duration of
    plan compilation via :func:`contexts.current_schema_context`, and
    kept on the returned result as ``.context``.

    The compiled plan is reused: a repeat call with the same schema
    class, ``mode``, ``is_update``, ``ignore_extra``,
    ``extra_columns_ok``, input ``df.schema``, validator objects on every
    field (nested schemas included) and SparkContext applies the check
    Columns of the first call instead of rebuilding them over py4j.
    ``add_validator``/``remove_validator``/``clear_validators``
    recompile; a validator's ``build`` and the fields' other attributes
    are read at the first compile only. A schema whose compile can see
    per-run state — a validator taking the SchemaContext, or a
    ``format_error`` override — is compiled on every call. Declare a
    schema class once: a class built per call never hits."""
    from .contexts import SchemaContext, _reset_current, _set_current

    if ignore_extra is None:
        ignore_extra = schema_cls.__config__.ignore_extra
    ctx = SchemaContext(schema_cls, state=state)
    token = _set_current(ctx)
    try:
        plan, violations_col = _compiled(
            schema_cls, df, mode=mode, extra_columns_ok=extra_columns_ok,
            ignore_extra=bool(ignore_extra), is_update=is_update,
        )
    finally:
        _reset_current(token)
    ctx._initialized = True
    # staged-mode helper columns are dropped from the visible frame below
    annotated = plan.with_helpers(df).withColumns(
        {
            "_row_id": _resolve_row_id(df, row_id),
            "_violations": violations_col,
        }
    ).withColumn("_valid", F.size("_violations") == 0)
    if plan.prelude:
        annotated = annotated.drop(*plan.prelude_columns())
    return ValidationResult(annotated=annotated, plan=plan, context=ctx)
