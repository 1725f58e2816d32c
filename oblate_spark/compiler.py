"""Plan compiler: Schema specs -> Spark Column check expressions.

The reference validates row-at-a-time with full error accumulation
(oblate/schema.py:170-284). Catalyst's boolean operators short-circuit,
so checks are compiled *as data*: every field contributes an
``array<struct<field_key,error_code,message,value_repr>>`` of its
violations (empty = pass); arrays are flattened into one ``_violations``
column. That preserves the reference's "report everything" contract
(no fail-fast across fields or validators, oblate/fields/base.py:212-224)
while keeping every check inside whole-stage codegen.

Ordering semantics compiled into each field's CASE tree
(oblate/schema.py:226-284):

1. NULL + ``null_is_missing``  -> required error / default fill
2. NULL + ``none=False``       -> none_disallowed, nothing else runs
3. raw validators on the pre-cast value (accumulate)
4. type kernel (strict check or try_cast coercion)
5. type error present -> non-raw validators suppressed
6. non-raw validators on the loaded value (accumulate)
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Any, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .errors import ErrorCode
from .fields import (
    Field, Object, StagedToken, json_inner_string, json_token_type, json_value_repr,
)

__all__ = ["CHECK_DDL", "CompiledPlan", "SchemaCompileError", "compile_plan", "reads_run_state"]

CHECK_DDL = "struct<field_key:string,error_code:string,message:string,value_repr:string>"
KERNEL_DDL = "array<struct<key:string,code:string,message:string>>"


class SchemaCompileError(TypeError):
    """Raised when the DataFrame schema cannot satisfy the plan (the
    distributed analogue of the reference's strict-type errors manifesting
    at schema rather than row level)."""


def _empty_checks() -> Column:
    return F.array().cast(f"array<{CHECK_DDL}>")


def _check(key: Column | str, code: Column | str, message: Column | str, value_repr: Column) -> Column:
    k = F.lit(key) if isinstance(key, str) else key
    c = F.lit(code) if isinstance(code, str) else code
    m = F.lit(message) if isinstance(message, str) else message
    return F.struct(
        k.alias("field_key"),
        c.alias("error_code"),
        m.alias("message"),
        value_repr.cast("string").alias("value_repr"),
    )


@dataclass
class CompiledPlan:
    schema_cls: Any
    mode: str
    #: one Column per field/source: array<CHECK_DDL>
    check_arrays: list = dc_field(default_factory=list)
    #: load_key -> loaded-value Column (post coercion/default)
    loaded: dict = dc_field(default_factory=dict)
    #: compile-time (schema-level) violations, emitted as constant rows
    schema_violations: list = dc_field(default_factory=list)
    #: helper-column layers (staged mode: each field's StagedToken
    #: views), projected in ORDER before the check expressions and
    #: dropped afterwards — later layers reference earlier ones (trim ->
    #: token type / inner string -> value repr), so each layer is its
    #: own projection
    prelude: list = dc_field(default_factory=list)

    def prelude_columns(self) -> list:
        return [name for layer in self.prelude for name in layer]

    def with_helpers(self, df: DataFrame) -> DataFrame:
        """``df`` plus the helper columns that the check and loaded-value
        expressions reference, one projection per layer. The projections
        survive CollapseProject because the helpers are non-cheap and
        multiply referenced."""
        for layer in self.prelude:
            df = df.withColumns(layer)
        return df

    def staged_token(self, src: Column, key: str) -> StagedToken:
        """Add ``key``'s token views to the helper layers and return
        references to them."""
        while len(self.prelude) < 3:
            self.prelude.append({})
        names = (f"__sp_tr__{key}", f"__sp_jt__{key}", f"__sp_in__{key}", f"__sp_vr__{key}")
        trim, jt, inner, repr_ = (F.col(n) for n in names)
        self.prelude[0][names[0]] = F.trim(src)
        self.prelude[1][names[1]] = json_token_type(trim)
        self.prelude[1][names[2]] = json_inner_string(trim)
        self.prelude[2][names[3]] = json_value_repr(trim, jt, inner)
        return StagedToken(src=src, trim=trim, jt=jt, inner=inner, repr=repr_)

    def violations_column(self) -> Column:
        if not self.check_arrays:
            return _empty_checks()
        return F.flatten(F.array(*self.check_arrays))


def _walk_fields(schema_cls: Any, _seen: Optional[set] = None):
    """Every field reachable through ``schema_cls``, nested Object
    schemas included (cycle-safe), in declaration order."""
    seen = _seen if _seen is not None else set()
    if schema_cls in seen:
        return
    seen.add(schema_cls)
    for f in schema_cls.__fields__.values():
        yield f
        nested = getattr(f, "schema_cls", None)
        if nested is not None:
            yield from _walk_fields(nested, seen)


def _schema_wants_context(schema_cls: Any) -> bool:
    """True if any validator reachable through ``schema_cls`` (including
    nested Object fields) declares a context parameter."""
    from .contexts import wants_context

    for f in _walk_fields(schema_cls):
        for v in f.walk_validators():
            fn = getattr(v, "_fn", None)
            if fn is not None and wants_context(fn):
                return True
    return False


def reads_run_state(schema_cls: Any) -> bool:
    """True if compiling ``schema_cls`` runs a hook that can see the
    run's ``SchemaContext``: a context-taking validator or a
    ``format_error`` override (subclass method or ``format_error=``),
    nested schemas included. Such a plan is compiled per run."""
    if _schema_wants_context(schema_cls):
        return True
    return any(
        f._format_error is not None or type(f).format_error is not Field.format_error
        for f in _walk_fields(schema_cls)
    )


def _make_kernel_udf(fld: Field):
    """Arrow-batched container/nested-object kernel for one staged field.

    The per-element loop below runs *inside* a pandas batch that Spark
    ships over Arrow — the Spark plan itself stays vectorized, matching
    the north rule's "no per-row Python" constraint the same way any
    pandas UDF does.
    """
    import json

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from .pyload import load_field_value, validate_mapping

    is_object = isinstance(fld, Object)
    schema_cls = fld.schema_cls if is_object else None
    invalid_msg = fld.invalid_message if is_object else None
    # snapshot the run's SchemaContext NOW (plan compile, driver-side):
    # the kernel executes in Arrow workers where the ContextVar is unset
    # — context-aware validators must see the compile-time state via the
    # closure (same capture-by-value rule as PandasValidator.build).
    # Captured ONLY when some nested validator actually takes a context:
    # unconditional capture would cloudpickle arbitrary user state into
    # every kernel closure — unpicklable state (a session, a lock) would
    # abort runs that never use it, and large state would ship to every
    # Arrow worker for nothing.
    ctx = None
    if is_object and _schema_wants_context(schema_cls):
        from .contexts import current_schema_context

        ctx = current_schema_context()

    def kern(s):
        out: list = []
        for raw in s:
            if raw is None:
                out.append(None)
                continue
            try:
                value = json.loads(raw)
            except (ValueError, TypeError):
                out.append([{"key": "", "code": ErrorCode.TYPE_EXPR_FAILED, "message": "Must be valid JSON"}])
                continue
            if is_object:
                if not isinstance(value, dict):
                    out.append(
                        [{"key": "", "code": ErrorCode.OBJECT_INVALID_DATATYPE, "message": invalid_msg}]
                    )
                    continue
                errs = validate_mapping(schema_cls, value, ctx=ctx)
            else:
                _, errs = load_field_value(fld, value)
            out.append([{"key": k, "code": c, "message": m} for (k, c, m) in errs])
        return pd.Series(out)

    # real (non-string) annotations: `from __future__ import annotations`
    # would stringify inline hints and break pandas_udf eval-type inference
    kern.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(kern, KERNEL_DDL)


def _override_message(fld: Field, code: str, default_msg, value_repr: Column) -> Column:
    """Probe the field's ``format_error`` for ``code`` at compile time;
    a non-None result (str or Column) replaces the default message —
    reference dispatch semantics (oblate/fields/base.py:236-264) with
    zero per-row cost."""
    from .errors import ErrorContext

    res = fld.format_error(code, ErrorContext(code, fld, value_repr))
    if res is None:
        return F.lit(default_msg) if isinstance(default_msg, str) else default_msg
    return F.lit(res) if isinstance(res, str) else res


def _rewrite_error_struct(fld: Field, err: Column, value_repr: Column) -> Column:
    """Apply ``format_error`` overrides to a struct<code,message>-or-NULL
    column whose code is only known at runtime: probe every registered
    code once at compile time and build a CASE over the customized ones.
    No override -> the struct passes through untouched."""
    from .errors import ErrorContext, all_error_codes

    overrides: dict[str, Column] = {}
    for code in all_error_codes():
        res = fld.format_error(code, ErrorContext(code, fld, value_repr))
        if res is not None:
            overrides[code] = F.lit(res) if isinstance(res, str) else res
    if not overrides:
        return err
    code_col = err.getField("code")
    expr = None
    for c, m in overrides.items():
        expr = F.when(code_col == c, m) if expr is None else expr.when(code_col == c, m)
    new_msg = expr.otherwise(err.getField("message"))
    return F.when(
        err.isNotNull(), F.struct(code_col.alias("code"), new_msg.alias("message"))
    ).otherwise(F.lit(None).cast("struct<code:string,message:string>"))


def _validator_checks(fld: Field, col: Column, key: str, value_repr: Column, *, raw: bool) -> list[Column]:
    """Each validator becomes a single-element-or-empty ARRAY column
    (never a nullable struct + filter): higher-order functions like
    F.filter block whole-stage codegen, while CASE WHEN ... THEN
    array(...) ELSE array() END concats stay fully codegen'd."""
    out = []
    for v in fld.walk_validators(raw=raw):
        msg = v.build(col, fld)
        # format_error may replace the DISPLAYED message; the pass/fail
        # signal stays msg.isNotNull() from the validator itself
        shown = _override_message(fld, v.code, msg, value_repr)
        out.append(
            F.when(msg.isNotNull(), F.array(_check(key, v.code, shown, value_repr))).otherwise(
                _empty_checks()
            )
        )
    return out


def _compile_field(
    fld: Field,
    src: Column,
    key: str,
    src_dtype: Optional[T.DataType],
    tok: Optional[StagedToken] = None,
) -> tuple[Column, Column]:
    """Returns (checks_array, loaded_value) for one field. ``tok`` is the
    field's staged token (``CompiledPlan.staged_token``); None in typed
    mode."""
    value_repr = fld.value_repr(src, tok)

    # --- type kernel -------------------------------------------------------
    kernel_checks: Optional[Column] = None
    if tok is not None:
        sl = fld.staged_load(tok)
        loaded = sl.loaded
        terr = _rewrite_error_struct(fld, sl.type_error, value_repr)
        type_structs = [
            F.when(
                terr.isNotNull(),
                _check(key, terr.getField("code"), terr.getField("message"), value_repr),
            ).otherwise(F.lit(None).cast(CHECK_DDL))
        ]
        needs_kernel = isinstance(fld, Object) or (
            fld.type_expr() is not None and getattr(fld, "needs_kernel", True)
        )
        if needs_kernel:
            kern = _make_kernel_udf(fld)(src)
            kernel_checks = F.coalesce(
                F.transform(
                    kern,
                    lambda x: _check(
                        F.when(x.getField("key") == "", F.lit(key)).otherwise(
                            F.concat(F.lit(key + "."), x.getField("key"))
                        ),
                        x.getField("code"),
                        x.getField("message"),
                        F.lit(None).cast("string"),
                    ),
                ),
                _empty_checks(),
            )
        # raw validators see the pre-cast value; best relational view of
        # "the raw value" is the JSON payload for strings, token otherwise
        raw_view = F.when(tok.jt == "string", tok.inner).otherwise(tok.trim)
    else:
        if src_dtype is not None and not fld.accepts_spark_type(src_dtype):
            target = fld.spark_type()
            if not getattr(fld, "strict", True) and target is not None and isinstance(src_dtype, T.StringType):
                # non-strict coercion from a string-typed column: try_cast,
                # NULL result on a non-NULL source = coercion failure
                loaded = src.try_cast(target)
                # nearest base with a registered coercion code — a user
                # subclass (format_error overrides etc.) must keep its
                # parent's code and message kind
                kind = next(
                    (
                        k.__name__.lower()
                        for k in type(fld).__mro__
                        if hasattr(ErrorCode, f"{k.__name__.upper()}_COERCION_FAILED")
                    ),
                    type(fld).__name__.lower(),
                )
                msg = F.concat(
                    F.lit("Failed to coerce '"), src, F.lit(f"' to {kind}")
                )
                code = getattr(ErrorCode, f"{kind.upper()}_COERCION_FAILED", ErrorCode.VALIDATION_FAILED)
                msg = _override_message(fld, code, msg, value_repr)
                type_structs = [
                    F.when(
                        src.isNotNull() & loaded.isNull(), _check(key, code, msg, value_repr)
                    ).otherwise(F.lit(None).cast(CHECK_DDL))
                ]
                raw_view = src
                checks = _assemble(fld, src, key, loaded, type_structs, None, raw_view, value_repr)
                return checks, _fill_default(fld, loaded)
            raise SchemaCompileError(
                f"column {key!r} has type {src_dtype.simpleString()}, "
                f"field {type(fld).__name__} expects {fld.spark_type()}"
            )
        loaded = fld.typed_load(src)
        type_structs = []
        for t in fld.typed_checks(src, src_dtype):
            t = _rewrite_error_struct(fld, t, value_repr)
            type_structs.append(
                F.when(
                    t.isNotNull(), _check(key, t.getField("code"), t.getField("message"), value_repr)
                ).otherwise(F.lit(None).cast(CHECK_DDL))
            )
        raw_view = src

    checks = _assemble(fld, src, key, loaded, type_structs, kernel_checks, raw_view, value_repr)
    return checks, _fill_default(fld, loaded)


def _fill_default(fld: Field, loaded: Column) -> Column:
    """Default fill: the reference applies defaults only to *missing*
    keys (oblate/schema.py:204-206); ``null_is_missing`` maps SQL NULL
    onto that path. Without it, NULL means "explicit None" and the
    none-check governs — no default fill. Shared by every branch of
    ``_compile_field`` (the non-strict coercion early-return previously
    skipped it)."""
    from .fields import MISSING

    if fld.default is not MISSING and fld.null_is_missing:
        default_expr = fld.default if isinstance(fld.default, Column) else F.lit(fld.default)
        return F.coalesce(loaded, default_expr)
    return loaded


def _assemble(
    fld: Field,
    src: Column,
    key: str,
    loaded: Column,
    type_structs: list[Column],
    kernel_checks: Optional[Column],
    raw_view: Column,
    value_repr: Column,
) -> Column:
    from .fields import MISSING

    raw_checks = _validator_checks(fld, raw_view, key, value_repr, raw=True)
    nonraw_checks = _validator_checks(fld, loaded, key, value_repr, raw=False)

    def arr(items: list[Column]) -> Column:
        # concat of single-or-empty arrays: codegen-friendly (no HOFs)
        if not items:
            return _empty_checks()
        if len(items) == 1:
            return items[0]
        return F.concat(*items)

    def struct_items_to_arrays(items: list[Column]) -> list[Column]:
        return [
            F.when(s.isNotNull(), F.array(s)).otherwise(_empty_checks()) for s in items
        ]

    raw_arr = arr(raw_checks)
    type_arr = arr(struct_items_to_arrays(type_structs))
    if kernel_checks is not None:
        type_arr = F.concat(type_arr, kernel_checks)
    nonraw_arr = arr(nonraw_checks)

    has_type_err = F.size(type_arr) > 0
    value_checks = F.concat(
        raw_arr, type_arr, F.when(has_type_err, _empty_checks()).otherwise(nonraw_arr)
    )

    null_repr = F.lit("None")
    none_err = F.array(
        _check(
            key,
            ErrorCode.NONE_DISALLOWED,
            _override_message(fld, ErrorCode.NONE_DISALLOWED, "This field must not be None.", null_repr),
            null_repr,
        )
    )
    required_err = F.array(
        _check(
            key,
            ErrorCode.FIELD_REQUIRED,
            _override_message(
                fld, ErrorCode.FIELD_REQUIRED, "This field is required.", F.lit(None).cast("string")
            ),
            F.lit(None).cast("string"),
        )
    )

    if fld.null_is_missing:
        has_default = fld.default is not MISSING
        return (
            F.when(src.isNull(), required_err if (fld.required and not has_default) else _empty_checks())
            .otherwise(value_checks)
        )
    return (
        F.when(src.isNull() & F.lit(not fld.none), none_err)
        .when(src.isNull(), _empty_checks())
        .otherwise(value_checks)
    )


def _resolve_struct_type(dt: T.DataType, name: str) -> Optional[T.DataType]:
    if isinstance(dt, T.StructType) and name in dt.fieldNames():
        return dt[name].dataType
    return None


def _compile_object_children(
    fld: Object, src: Column, key_prefix: str, src_dtype: Optional[T.DataType]
) -> list[Column]:
    """Typed-mode nested Object: recursively compile the nested schema over
    struct fields, dotted field keys, children gated on parent non-NULL
    (parity with nested raw() shape, tests/test_fields_nesting.py:48-53)."""
    out: list[Column] = []
    for child in fld.schema_cls.__fields__.values():
        ckey = f"{key_prefix}.{child.load_key}"
        csrc = src.getField(child.load_key)
        cdt = _resolve_struct_type(src_dtype, child.load_key) if src_dtype is not None else None
        checks, _ = _compile_field(child, csrc, ckey, cdt)
        if isinstance(child, Object):
            out.extend(
                F.when(src.isNotNull() & csrc.isNotNull(), c).otherwise(_empty_checks())
                for c in _compile_object_children(child, csrc, ckey, cdt)
            )
        out.append(F.when(src.isNotNull(), checks).otherwise(_empty_checks()))
    return out


def compile_plan(
    schema_cls: Any,
    df: DataFrame,
    *,
    mode: str = "typed",
    extra_columns_ok: tuple[str, ...] = ("row_id",),
    is_update: bool = False,
    ignore_extra: Optional[bool] = None,
) -> CompiledPlan:
    """Compile ``schema_cls`` against ``df``.

    mode='typed': columns carry native Spark types (hot path).
    mode='staged': plan columns are JSON-encoded strings (semi-structured
    ingest; full strict/non-strict reference cast semantics).
    is_update: update-mode semantics — an absent column means "leave the
    stored value unchanged", so no required error / default fill fires
    (reference oblate/schema.py:385-436 validates only provided keys;
    LoadContext.is_update() parity).
    ignore_extra: overrides the schema's ``__config__.ignore_extra``
    (None keeps it).
    """
    staged = mode == "staged"
    plan = CompiledPlan(schema_cls=schema_cls, mode=mode)
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    columns = set(df.columns)
    if ignore_extra is None:
        ignore_extra = schema_cls.__config__.ignore_extra

    from .fields import MISSING

    for fld in schema_cls.__fields__.values():
        key = fld.load_key
        if key not in columns:
            if is_update:
                continue  # absent column == field not being updated
            # column entirely absent == reference "missing key" path
            # (oblate/schema.py:198-207): required error or default fill
            if fld.default is not MISSING:
                default_expr = fld.default if isinstance(fld.default, Column) else F.lit(fld.default)
                plan.loaded[key] = default_expr
            elif fld.required:
                plan.schema_violations.append((key, ErrorCode.FIELD_REQUIRED, "This field is required."))
                plan.check_arrays.append(
                    F.array(
                        _check(
                            key,
                            ErrorCode.FIELD_REQUIRED,
                            _override_message(
                                fld,
                                ErrorCode.FIELD_REQUIRED,
                                "This field is required.",
                                F.lit(None).cast("string"),
                            ),
                            F.lit(None).cast("string"),
                        )
                    )
                )
            continue

        src = F.col(key)
        tok = plan.staged_token(src, key) if staged else None
        checks, loaded = _compile_field(fld, src, key, dtypes.get(key), tok)
        plan.check_arrays.append(checks)
        plan.loaded[key] = loaded

        if isinstance(fld, Object) and not staged:
            plan.check_arrays.extend(
                _compile_object_children(fld, src, key, dtypes.get(key))
            )

    # unknown / extra columns (oblate/schema.py:183-189)
    if not ignore_extra:
        known = {f.load_key for f in schema_cls.__fields__.values()}
        for col in sorted(columns - known - set(extra_columns_ok)):
            plan.schema_violations.append((col, ErrorCode.UNKNOWN_FIELD, "Invalid or unknown field."))
            plan.check_arrays.append(
                F.array(
                    _check(col, ErrorCode.UNKNOWN_FIELD, "Invalid or unknown field.", F.col(col).cast("string"))
                )
            )

    return plan
