"""Field specs: the declarative schema DSL.

Reimplements the reference's field classes (reference oblate/fields/ —
base.py:63-166, primitive.py, structs.py, typings.py, nesting.py) as
*compile-time specs*. A Field never touches a value at runtime; it emits
Spark Column expressions (and, for the staged nested/container path, a
picklable type expression consumed by an Arrow-batched kernel).

Two ingestion modes per plan:

* ``typed``  — the DataFrame columns already carry native Spark types
  (the 100 TB hot path). Type conformance is asserted once at
  plan-compile time; runtime checks are null semantics, literal
  membership, container invariants and validators — all pure Column
  expressions inside whole-stage codegen.
* ``staged`` — plan columns are strings holding JSON-encoded raw values
  (semi-structured ingest). The strict/non-strict cast kernel of the
  reference (oblate/fields/primitive.py:65-77,113-130,198-218,254-271)
  is reproduced with JSON-token classification + ``try_cast`` — still
  zero per-row Python for every primitive field. The compiler projects
  each field's token views once as helper columns and hands the field a
  :class:`StagedToken` of references to them; ``staged_load`` and
  ``value_repr`` read only that token, never shared module state.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Any, Callable, Optional, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .errors import ErrorCode
from .validate import Validator

__all__ = [
    "MISSING",
    "Field",
    "String",
    "Integer",
    "Float",
    "Boolean",
    "Binary",
    "Timestamp",
    "List",
    "Set",
    "Dict",
    "TypedDict",
    "Tuple",
    "Any_",
    "Literal",
    "Union",
    "TypeExpr",
    "Object",
    "StagedToken",
    "json_token_type",
    "json_inner_string",
    "json_value_repr",
]


class _MissingType:
    _instance: Optional["_MissingType"] = None

    def __new__(cls) -> "_MissingType":
        if cls._instance is None:
            cls._instance = super().__new__(cls)
        return cls._instance

    def __bool__(self) -> bool:
        return False

    def __repr__(self) -> str:  # pragma: no cover
        return "MISSING"


#: Sentinel distinguishing "not provided" from None (reference
#: oblate/utils.py:41-54).
MISSING = _MissingType()


# ---------------------------------------------------------------------------
# JSON token classification (staged mode) — pure Column expressions
# ---------------------------------------------------------------------------

_INT_RE = r"^-?\d+$"
_FLOAT_RE = r"^-?(\d+\.\d*|\.\d+|\d+)([eE][+-]?\d+)?$"

@dataclass(frozen=True, eq=False)
class StagedToken:
    """One staged field's JSON token views, built once per field by the
    compiler: the raw cell ``src`` plus references to the helper columns
    ``CompiledPlan.with_helpers`` projects for it (trimmed token, token
    type, string payload, value repr). Every consumer reads these
    references instead of rebuilding the regex-laden trees: copied into
    each check, the trees made the compiled method too large to JIT
    (round 6; the staged kernel ran 2.7x slower as interpreted
    bytecode)."""

    src: Column
    trim: Column
    jt: Column
    inner: Column
    repr: Column


def json_token_type(t: Column) -> Column:
    """Classify a trimmed JSON token: bool/int/float/string/array/object/null."""
    return (
        F.when(t.isin("true", "false"), F.lit("bool"))
        .when(t.rlike(_INT_RE), F.lit("int"))
        .when(t.rlike(_FLOAT_RE), F.lit("float"))
        .when(t.startswith('"'), F.lit("string"))
        .when(t.startswith("["), F.lit("array"))
        .when(t.startswith("{"), F.lit("object"))
        .when(t == "null", F.lit("null"))
        .otherwise(F.lit("invalid"))
    )


def json_inner_string(t: Column) -> Column:
    """Payload of a trimmed JSON string token. A token with a backslash
    is decoded as JSON (``"\\u00e9"`` -> ``é``, as the reference's
    ``json.loads``); one that does not parse keeps its raw payload."""
    payload = t.substr(F.lit(2), F.length(t) - 2)
    decoded = F.try_variant_get(F.try_parse_json(t), "$", "string")
    return F.when(t.contains("\\"), F.coalesce(decoded, payload)).otherwise(payload)


def json_value_repr(t: Column, jt: Column, inner: Column) -> Column:
    """Python-``repr``-alike of a trimmed JSON token of type ``jt`` and
    string payload ``inner``, for message templates like
    ``Failed to coerce {value!r} to integer``."""
    return (
        F.when(jt == "string", F.concat(F.lit("'"), inner, F.lit("'")))
        .when(jt == "bool", F.when(t == "true", F.lit("True")).otherwise(F.lit("False")))
        .otherwise(t)
    )


@dataclass
class StagedLoad:
    """Result of compiling a staged-mode cast kernel for one field."""

    loaded: Column  # the coerced value (NULL when cast failed)
    #: struct<code,message> — NULL when the type check passes
    type_error: Column


def _type_error(code: str, message: Column | str) -> Column:
    msg = F.lit(message) if isinstance(message, str) else message
    return F.struct(F.lit(code).alias("code"), msg.alias("message"))


def _null_error() -> Column:
    return F.lit(None).cast("struct<code:string,message:string>")


# ---------------------------------------------------------------------------
# Field base
# ---------------------------------------------------------------------------


class Field:
    """Base field spec.

    Parameters mirror the reference's ``Field.__init__``
    (oblate/fields/base.py:139-166): ``none`` (allow None), ``required``,
    ``default`` (scalar or Column expression — callable defaults must be
    deterministic expressions), ``load_key``/``dump_key``/``data_key``,
    ``frozen``, ``validators``.

    ``null_is_missing`` resolves the SQL-NULL ambiguity: a relational
    column cannot distinguish "key absent" from "explicit None"
    (reference distinguishes them — schema.py:198-207 vs :258-263).
    When True, NULL triggers required/default semantics; when False
    (default) it triggers the ``none`` check.
    """

    #: set by List/Set/Dict/Tuple so Length uses cardinality not chars
    is_sized_container = False

    def __init__(
        self,
        *,
        none: bool = False,
        required: bool = True,
        default: Any = MISSING,
        load_key: Optional[str] = None,
        dump_key: Optional[str] = None,
        data_key: Optional[str] = None,
        frozen: bool = False,
        validators: Sequence[Validator] = (),
        null_is_missing: bool = False,
        name: Optional[str] = None,
        format_error: Optional[Callable[[str, Any], Any]] = None,
    ) -> None:
        if data_key is not None:
            if load_key is not None or dump_key is not None:
                raise TypeError("data_key cannot be mixed with load_key or dump_key")
            load_key = dump_key = data_key
        self.none = none
        self.required = required and default is MISSING
        self.default = default
        self._load_key = load_key
        self._dump_key = dump_key
        self.frozen = frozen
        self.validators: list[Validator] = list(validators)
        self.null_is_missing = null_is_missing
        self._name: Optional[str] = name
        self._format_error: Optional[Callable[[str, Any], Any]] = format_error

    # -- naming -------------------------------------------------------------
    def _bind(self, name: str) -> None:
        if self._name is None:
            self._name = name

    @property
    def name(self) -> str:
        assert self._name is not None, "field not bound to a schema"
        return self._name

    @property
    def load_key(self) -> str:
        return self._load_key or self.name

    @property
    def dump_key(self) -> str:
        return self._dump_key or self.name

    # -- validator management (reference oblate/fields/base.py:331-411) -----
    def add_validator(self, validator: Validator) -> None:
        self.validators.append(validator)

    def remove_validator(self, validator: Validator) -> None:
        self.validators.remove(validator)

    def clear_validators(self, *, raw: Optional[bool] = None) -> None:
        if raw is None:
            self.validators = []
        else:
            self.validators = [v for v in self.validators if v.raw is not raw]

    def walk_validators(self, *, raw: Optional[bool] = None):
        for v in self.validators:
            if raw is None or v.raw is raw:
                yield v

    def copy(self) -> "Field":
        """Shallow copy with an independent validator list, so subclass
        plans can mutate validators without affecting the parent
        (reference oblate/schema.py:140-147)."""
        import copy as _copy

        new = _copy.copy(self)
        new.validators = list(self.validators)
        return new

    # -- compile hooks --------------------------------------------------------
    def spark_type(self) -> Optional[T.DataType]:
        """Expected Spark type in typed mode; None = accept any."""
        return None

    def accepts_spark_type(self, dt: T.DataType) -> bool:
        expected = self.spark_type()
        if expected is None:
            return True
        if isinstance(expected, T.LongType):
            return isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType))
        if isinstance(expected, T.DoubleType):
            return isinstance(dt, (T.FloatType, T.DoubleType))
        return dt.__class__ is expected.__class__ or dt == expected

    def typed_checks(self, col: Column, dt: Optional[T.DataType] = None) -> list[Column]:
        """Runtime checks in typed mode: list of struct<code,message>-or-NULL
        columns (beyond null semantics + validators, which the compiler
        owns). ``dt`` is the column's actual Spark type when known —
        Union/Tuple use it to pick between static conformance and
        try_cast token checks."""
        return []

    def typed_load(self, col: Column) -> Column:
        """Loaded-value expression in typed mode (usually identity)."""
        expected = self.spark_type()
        if expected is not None:
            return col.cast(expected)
        return col

    def staged_load(self, tok: StagedToken) -> StagedLoad:
        """Strict/non-strict cast kernel over a JSON-encoded string cell."""
        raise NotImplementedError(
            f"{type(self).__name__} does not support staged (JSON) ingestion"
        )

    #: typing expression for the staged container kernel; None = no kernel
    def type_expr(self) -> Any:
        return None

    def value_repr(self, src: Column, tok: Optional[StagedToken]) -> Column:
        if tok is not None:
            return tok.repr
        return src.cast("string")

    def format_error(self, error_code: str, context: Any) -> Any:
        """Per-field message customization (reference
        oblate/fields/base.py:236-264,413-436): return a ``str`` or a
        ``Column`` expression to replace the default message for
        ``error_code``; return ``None`` to fall back to the default.
        Override in a subclass, or pass ``format_error=`` to the
        constructor. The compiler probes every registered error code at
        plan-compile time, so customization costs nothing per row —
        ``context.get_value()`` is a Column (the value's string repr)
        usable inside ``F.concat``-style message expressions."""
        if self._format_error is not None:
            return self._format_error(error_code, context)
        return None


# ---------------------------------------------------------------------------
# Primitives
# ---------------------------------------------------------------------------


class String(Field):
    """String field (reference oblate/fields/primitive.py:39-83).

    strict: only ``str`` accepted. Non-strict: ``str(value)`` — total,
    never fails (only ERR_INVALID_DATATYPE exists on the reference class).
    """

    def __init__(self, strict: bool = True, **kwargs: Any) -> None:
        super().__init__(**kwargs)
        self.strict = strict

    def spark_type(self) -> T.DataType:
        return T.StringType()

    def accepts_spark_type(self, dt: T.DataType) -> bool:
        if self.strict:
            return isinstance(dt, T.StringType)
        return True  # non-strict String coerces anything

    def typed_load(self, col: Column) -> Column:
        return col.cast("string")

    def staged_load(self, tok: StagedToken) -> StagedLoad:
        jt, inner = tok.jt, tok.inner
        if self.strict:
            err = F.when(
                jt != "string", _type_error(ErrorCode.STRING_INVALID_DATATYPE, "Value must be a string")
            ).otherwise(_null_error())
            return StagedLoad(loaded=F.when(jt == "string", inner), type_error=err)
        # str(value): string -> payload; bool -> 'True'/'False'; number -> token
        t = tok.trim
        loaded = (
            F.when(jt == "string", inner)
            .when(jt == "bool", F.when(t == "true", F.lit("True")).otherwise(F.lit("False")))
            .otherwise(t)
        )
        return StagedLoad(loaded=loaded, type_error=_null_error())


class Integer(Field):
    """Integer field (reference oblate/fields/primitive.py:86-136).

    Quirk preserved: ``bool`` passes the strict check because
    ``isinstance(True, int)`` is True (reference :114). Non-strict
    follows Python ``int(value)``: floats truncate toward zero, strings
    must be integral literals.

    One departure from the reference: values are 64-bit (``bigint``).
    A staged token that is an integer past that range, or (non-strict)
    a float or string whose integer part is, fails with
    ``integer.coercion_failed`` instead of loading as a Python big int.
    """

    def __init__(self, strict: bool = True, **kwargs: Any) -> None:
        super().__init__(**kwargs)
        self.strict = strict

    def spark_type(self) -> T.DataType:
        return T.LongType()

    def staged_load(self, tok: StagedToken) -> StagedLoad:
        jt, t, inner = tok.jt, tok.trim, tok.inner
        msg = F.concat(F.lit("Failed to coerce "), tok.repr, F.lit(" to integer"))
        coercion_failed = _type_error(ErrorCode.INTEGER_COERCION_FAILED, msg)
        if self.strict:
            ok = jt.isin("int", "bool")  # bool quirk
            loaded = F.when(jt == "int", t.try_cast("bigint")).when(
                jt == "bool", (t == "true").cast("bigint")
            )
            invalid = _type_error(ErrorCode.INTEGER_INVALID_DATATYPE, "Value must be an integer")
            err = (
                F.when(~ok, invalid)
                .when((jt == "int") & loaded.isNull(), coercion_failed)  # past 64 bits
                .otherwise(_null_error())
            )
            return StagedLoad(loaded=loaded, type_error=err)
        # int(value): int token; float truncates toward zero; bool -> 0/1;
        # string must be an integral literal (int('3.14') raises).
        cast_attempt = (
            F.when(jt == "int", t.try_cast("bigint"))
            .when(jt == "float", t.try_cast("double").try_cast("bigint"))
            .when(jt == "bool", (t == "true").cast("bigint"))
            .when(jt == "string", F.trim(inner).try_cast("bigint"))
        )
        # try_cast yields NULL for a non-integral string (as Python
        # int(str) raises) and for a value past 64 bits.
        err = F.when(cast_attempt.isNull(), coercion_failed).otherwise(_null_error())
        return StagedLoad(loaded=cast_attempt, type_error=err)


class Float(Field):
    """Float field (reference oblate/fields/primitive.py:227-277).

    Quirk preserved: ``int`` is rejected in strict mode (reference :255).
    """

    def __init__(self, strict: bool = True, **kwargs: Any) -> None:
        super().__init__(**kwargs)
        self.strict = strict

    def spark_type(self) -> T.DataType:
        return T.DoubleType()

    def staged_load(self, tok: StagedToken) -> StagedLoad:
        jt, t, inner = tok.jt, tok.trim, tok.inner
        if self.strict:
            err = F.when(
                jt != "float",
                _type_error(
                    ErrorCode.FLOAT_INVALID_DATATYPE, "Value must be a floating point number"
                ),
            ).otherwise(_null_error())
            return StagedLoad(loaded=F.when(jt == "float", t.cast("double")), type_error=err)
        cast_attempt = (
            F.when(jt.isin("int", "float"), t.cast("double"))
            .when(jt == "bool", (t == "true").cast("int").cast("double"))
            .when(jt == "string", F.trim(inner).try_cast("double"))
        )
        fail = cast_attempt.isNull()
        msg = F.concat(F.lit("Failed to coerce "), tok.repr, F.lit(" to float"))
        err = F.when(fail, _type_error(ErrorCode.FLOAT_COERCION_FAILED, msg)).otherwise(
            _null_error()
        )
        return StagedLoad(loaded=cast_attempt, type_error=err)


class Boolean(Field):
    """Boolean field (reference oblate/fields/primitive.py:139-224).

    Non-strict matches ``str(value)`` against TRUE_VALUES/FALSE_VALUES
    (reference :170-178, customizable per instance).
    """

    TRUE_VALUES: Sequence[str] = ("TRUE", "True", "true", "YES", "Yes", "yes", "1")
    FALSE_VALUES: Sequence[str] = ("FALSE", "False", "false", "NO", "No", "no", "0")

    def __init__(
        self,
        *,
        strict: bool = True,
        true_values: Optional[Sequence[str]] = None,
        false_values: Optional[Sequence[str]] = None,
        **kwargs: Any,
    ) -> None:
        super().__init__(**kwargs)
        self.strict = strict
        self._true_values = list(true_values if true_values is not None else self.TRUE_VALUES)
        self._false_values = list(false_values if false_values is not None else self.FALSE_VALUES)

    def spark_type(self) -> T.DataType:
        return T.BooleanType()

    def staged_load(self, tok: StagedToken) -> StagedLoad:
        jt, t, inner = tok.jt, tok.trim, tok.inner
        if self.strict:
            err = F.when(
                jt != "bool", _type_error(ErrorCode.BOOLEAN_INVALID_DATATYPE, "Value must be a boolean")
            ).otherwise(_null_error())
            return StagedLoad(loaded=F.when(jt == "bool", t == "true"), type_error=err)
        # str(value): string payload, or token text for numbers.
        as_str = (
            F.when(jt == "string", inner)
            .when(jt == "bool", F.when(t == "true", F.lit("True")).otherwise(F.lit("False")))
            .otherwise(t)
        )
        loaded = (
            F.when(jt == "bool", t == "true")
            .when(as_str.isin(self._true_values), F.lit(True))
            .when(as_str.isin(self._false_values), F.lit(False))
        )
        # reference re-assigns value = str(value) before erroring, so the
        # repr in the message is of the *string* (primitive.py:202-208)
        msg = F.concat(
            F.lit("Failed to coerce '"), as_str, F.lit("' to boolean")
        )
        err = F.when(
            loaded.isNull(), _type_error(ErrorCode.BOOLEAN_COERCION_FAILED, msg)
        ).otherwise(_null_error())
        return StagedLoad(loaded=loaded, type_error=err)


class Binary(Field):
    """Binary payload column (engine extension — image ``bytes`` per
    BASELINE.json input_hint; no reference analogue)."""

    def spark_type(self) -> T.DataType:
        return T.BinaryType()

    def value_repr(self, src: Column, tok: Optional[StagedToken]) -> Column:
        return F.concat(F.lit("<"), F.length(src).cast("string"), F.lit(" bytes>"))


class Timestamp(Field):
    """Timestamp column (engine extension; no reference analogue).
    Accepts both TIMESTAMP and TIMESTAMP_NTZ (parquet readers commonly
    surface the latter) plus DATE."""

    def spark_type(self) -> T.DataType:
        return T.TimestampType()

    def accepts_spark_type(self, dt: T.DataType) -> bool:
        return isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType))

    def typed_load(self, col: Column) -> Column:
        return col


# ---------------------------------------------------------------------------
# Containers / typing fields
# ---------------------------------------------------------------------------


class _KernelField(Field):
    """Shared machinery for fields whose staged-mode validation runs in
    the Arrow-batched container kernel (List/Set/Dict/TypedDict/Tuple/
    TypeExpr and non-primitive Unions)."""

    invalid_code = ErrorCode.TYPE_EXPR_FAILED
    invalid_message: Optional[str] = None  # None => kernel decides
    expected_token: Optional[str] = None  # 'array' / 'object'

    def staged_load(self, tok: StagedToken) -> StagedLoad:
        # the kernel produces the message list; compiler splices it in.
        # loaded value: best-effort from_json with the target spark type.
        st = self.spark_type()
        loaded = F.from_json(tok.src, st) if st is not None else tok.src
        return StagedLoad(loaded=loaded, type_error=_null_error())


class List(_KernelField):
    """List field (reference oblate/fields/structs.py:184-223)."""

    is_sized_container = True
    invalid_code = ErrorCode.LIST_INVALID_DATATYPE

    def __init__(self, item: Any = Any, **kwargs: Any) -> None:
        super().__init__(**kwargs)
        self.item = item

    def spark_type(self) -> Optional[T.DataType]:
        inner = _spark_type_of(self.item)
        return T.ArrayType(inner) if inner is not None else None

    def accepts_spark_type(self, dt: T.DataType) -> bool:
        return isinstance(dt, T.ArrayType)

    def type_expr(self) -> Any:
        import typing

        return typing.List[self.item] if self.item is not Any else list


class Set(_KernelField):
    """Set field (reference oblate/fields/structs.py:226-265). Physical
    representation is an array; the set invariant (element uniqueness) is
    enforced as ``size(array_distinct(x)) == size(x)`` in typed mode."""

    is_sized_container = True
    invalid_code = ErrorCode.SET_INVALID_DATATYPE

    def __init__(self, item: Any = Any, *, enforce_distinct: bool = True, **kwargs: Any) -> None:
        super().__init__(**kwargs)
        self.item = item
        self.enforce_distinct = enforce_distinct

    def spark_type(self) -> Optional[T.DataType]:
        inner = _spark_type_of(self.item)
        return T.ArrayType(inner) if inner is not None else None

    def accepts_spark_type(self, dt: T.DataType) -> bool:
        return isinstance(dt, T.ArrayType)

    def type_expr(self) -> Any:
        import typing

        return typing.Set[self.item] if self.item is not Any else set

    def typed_checks(self, col: Column, dt: Optional[T.DataType] = None) -> list[Column]:
        if not self.enforce_distinct:
            return []
        dup = F.size(F.array_distinct(col)) != F.size(col)
        return [
            F.when(dup, _type_error(ErrorCode.SET_INVALID_DATATYPE, "Must be a valid set")).otherwise(
                _null_error()
            )
        ]


class Dict(_KernelField):
    """Dict field (reference oblate/fields/structs.py:77-136)."""

    is_sized_container = True
    invalid_code = ErrorCode.DICT_INVALID_DATATYPE

    def __init__(self, key: Any = Any, value: Any = Any, **kwargs: Any) -> None:
        super().__init__(**kwargs)
        self.key = key
        self.value = value

    def spark_type(self) -> Optional[T.DataType]:
        kt, vt = _spark_type_of(self.key), _spark_type_of(self.value)
        if kt is not None and vt is not None:
            return T.MapType(kt, vt)
        return None

    def accepts_spark_type(self, dt: T.DataType) -> bool:
        return isinstance(dt, T.MapType)

    def type_expr(self) -> Any:
        import typing

        if self.key is Any and self.value is Any:
            return dict
        return typing.Dict[self.key, self.value]


class TypedDict(_KernelField):
    """TypedDict field (reference oblate/fields/structs.py:139-181).
    Typed mode maps to a StructType; required-key = non-null struct field."""

    invalid_code = ErrorCode.TYPED_DICT_INVALID_DATATYPE

    def __init__(self, td: Any, **kwargs: Any) -> None:
        super().__init__(**kwargs)
        self.td = td

    def accepts_spark_type(self, dt: T.DataType) -> bool:
        return isinstance(dt, T.StructType)

    def type_expr(self) -> Any:
        return self.td

    def typed_checks(self, col: Column, dt: Optional[T.DataType] = None) -> list[Column]:
        from typing import get_origin, get_type_hints

        from .typecheck import NotRequired

        checks = []
        hints = get_type_hints(self.td, include_extras=True)
        for key, hint in hints.items():
            origin = get_origin(hint)
            if (origin is None and not self.td.__total__) or origin is NotRequired:
                continue
            checks.append(
                F.when(
                    col.isNotNull() & col.getField(key).isNull(),
                    _type_error(
                        ErrorCode.TYPED_DICT_INVALID_DATATYPE, f"Key {key!r} is required"
                    ),
                ).otherwise(_null_error())
            )
        return checks


_INT_DTS = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _dt_conforms(tp: Any, dt: T.DataType) -> bool:
    """Does a column/element of Spark type ``dt`` statically satisfy the
    Python type ``tp``? (Keeps the reference quirk isinstance(True, int):
    boolean columns satisfy an ``int`` arm.)"""
    if tp is int:
        return isinstance(dt, _INT_DTS + (T.BooleanType,))
    if tp is float:
        return isinstance(dt, (T.FloatType, T.DoubleType))
    if tp is bool:
        return isinstance(dt, T.BooleanType)
    if tp is str:
        return isinstance(dt, T.StringType)
    if tp is bytes:
        return isinstance(dt, T.BinaryType)
    return False


def _token_ok_expr(elem: Column, tp: Any) -> Column:
    """For string-typed cells: does the token satisfy ``tp`` under the
    relational try_cast interpretation (SURVEY.md §1.3)?"""
    if tp is int:
        return elem.try_cast("bigint").isNotNull()
    if tp is float:
        return elem.try_cast("double").isNotNull()
    if tp is bool:
        return F.lower(elem).isin("true", "false")
    if tp is str:
        return F.lit(True)
    return F.lit(False)


class Tuple(_KernelField):
    """Fixed/variadic tuple over an array column (reference
    oblate/type_validation.py:298-328).

    Typed mode: length gate (too-short only — the reference silently
    ignores extra items) plus per-index element checks. An array column
    has ONE element type, so an index whose expected type matches it
    statically emits no check; string elements are checked with the
    try_cast token interpretation; a statically-incompatible element
    type fails every present element. NULL elements are skipped
    (relational NULL is ambiguous between absent and None)."""

    is_sized_container = True

    def __init__(self, *items: Any, **kwargs: Any) -> None:
        super().__init__(**kwargs)
        self.items = items

    def accepts_spark_type(self, dt: T.DataType) -> bool:
        return isinstance(dt, T.ArrayType)

    def type_expr(self) -> Any:
        import typing

        return typing.Tuple[self.items] if self.items else tuple

    def _variadic(self) -> bool:
        return len(self.items) == 2 and self.items[1] is Ellipsis

    def typed_checks(self, col: Column, dt: Optional[T.DataType] = None) -> list[Column]:
        if not self.items:
            return []
        elem_dt = dt.elementType if isinstance(dt, T.ArrayType) else None

        if self._variadic():
            tp = self.items[0]
            if elem_dt is None or _dt_conforms(tp, elem_dt):
                return []
            if isinstance(elem_dt, T.StringType):
                def fails(x):
                    return x.isNotNull() & ~_token_ok_expr(x, tp)
            else:
                def fails(x):
                    return x.isNotNull()
            bad_idxs = F.filter(
                F.transform(col, lambda x, i: F.when(fails(x), i).otherwise(F.lit(None))),
                lambda v: v.isNotNull(),
            )
            msg = F.concat(
                F.lit("Tuple item at index "),
                F.element_at(bad_idxs, 1).cast("string"),
                F.lit(f": Must be of type {tp.__name__}"),
            )
            return [
                F.when(
                    col.isNotNull() & (F.size(bad_idxs) > 0),
                    _type_error(ErrorCode.TYPE_EXPR_FAILED, msg),
                ).otherwise(_null_error())
            ]

        n = len(self.items)
        lmsg = F.concat(
            F.lit(f"Tuple length must be {n} (current length: "),
            F.size(col).cast("string"),
            F.lit(")"),
        )
        too_short = F.size(col) < n
        checks = [
            F.when(
                col.isNotNull() & too_short,
                _type_error(ErrorCode.TYPE_EXPR_FAILED, lmsg),
            ).otherwise(_null_error())
        ]
        for idx, tp in enumerate(self.items):
            if elem_dt is not None and _dt_conforms(tp, elem_dt):
                continue
            elem = F.get(col, idx)  # NULL on out-of-bounds, 0-based
            if elem_dt is not None and isinstance(elem_dt, T.StringType):
                bad = elem.isNotNull() & ~_token_ok_expr(elem, tp)
            else:
                bad = elem.isNotNull()
            checks.append(
                F.when(
                    col.isNotNull() & ~too_short & bad,
                    _type_error(
                        ErrorCode.TYPE_EXPR_FAILED,
                        f"Tuple item at index {idx}: Must be of type {tp.__name__}",
                    ),
                ).otherwise(_null_error())
            )
        return checks


class Any_(Field):
    """Passthrough field, no validation (reference oblate/fields/typings.py:51-61)."""

    def staged_load(self, tok: StagedToken) -> StagedLoad:
        return StagedLoad(loaded=tok.src, type_error=_null_error())


class Literal(Field):
    """Literal-membership field (reference oblate/fields/typings.py:64-102,
    messages oblate/type_validation.py:212-218)."""

    def __init__(self, *values: Any, **kwargs: Any) -> None:
        super().__init__(**kwargs)
        if not values:
            raise TypeError("Literal requires at least one value")
        self.values = values
        if len(values) == 1:
            self.message = f"Value must be equal to {values[0]!r}"
        else:
            self.message = f"Value must be one of: {', '.join(repr(v) for v in values)}"

    def spark_type(self) -> Optional[T.DataType]:
        tps = {type(v) for v in self.values}
        if tps == {str}:
            return T.StringType()
        if tps <= {int, bool} and bool not in tps:
            return T.LongType()
        return None  # mixed-type literal: passthrough, membership on repr

    def typed_checks(self, col: Column, dt: Optional[T.DataType] = None) -> list[Column]:
        return [
            F.when(
                col.isNotNull() & ~col.isin(list(self.values)),
                _type_error(ErrorCode.LITERAL_INVALID_VALUE, self.message),
            ).otherwise(_null_error())
        ]

    def staged_load(self, tok: StagedToken) -> StagedLoad:
        t = tok.trim
        tokens = [json.dumps(v) for v in self.values]
        numeric = [v for v in self.values if isinstance(v, (int, float)) and not isinstance(v, bool)]
        ok = t.isin(tokens)
        if numeric:
            ok = ok | (tok.jt.isin("int", "float") & t.cast("double").isin([float(v) for v in numeric]))
        err = F.when(~ok, _type_error(ErrorCode.LITERAL_INVALID_VALUE, self.message)).otherwise(
            _null_error()
        )
        return StagedLoad(loaded=tok.src, type_error=err)


class Union(_KernelField):
    """Union-of-types field (reference oblate/fields/typings.py:105-147).

    Staged mode with all-primitive arms compiles to a token-type
    predicate; otherwise the container kernel handles it.

    Typed mode (all-primitive arms): a relational column has ONE type,
    so a column whose Spark type matches any arm is statically
    conformant (no runtime check emitted — every value IS that arm). A
    string column with no ``str`` arm is checked with parallel try_casts
    (SURVEY.md §1.3's variant encoding); any other type mismatch is a
    compile-time SchemaCompileError. Complex arms stay staged-only.
    """

    _PRIMITIVE_TOKENS = {int: ("int", "bool"), str: ("string",), float: ("float",), bool: ("bool",)}

    def __init__(self, *types_: Any, **kwargs: Any) -> None:
        super().__init__(**kwargs)
        if len(types_) < 2:
            raise TypeError("Union requires at least two types")
        self.types = types_

    def all_primitive(self) -> bool:
        return all(t in self._PRIMITIVE_TOKENS for t in self.types)

    def accepts_spark_type(self, dt: T.DataType) -> bool:
        if not self.all_primitive():
            return True  # complex arms are validated by the staged kernel
        if any(_dt_conforms(t, dt) for t in self.types):
            return True
        return isinstance(dt, T.StringType)  # parallel-try_cast check path

    def typed_checks(self, col: Column, dt: Optional[T.DataType] = None) -> list[Column]:
        if not self.all_primitive():
            # Defensible no-check (a relational column's static type IS
            # one arm) but it must never be SILENT: route through the
            # same unsupported-type warning the T15 path uses, so a
            # typed column declared Union(int, List(int)) is visibly
            # unvalidated. Staged mode still checks via the kernel.
            if dt is not None:
                import warnings

                from .schema import config as _config

                if _config.warn_unsupported_types:
                    names = ", ".join(getattr(t, "__name__", str(t)) for t in self.types)
                    warnings.warn(
                        f"Union({names}) on typed column {self.load_key!r} has "
                        "non-primitive arms: no runtime type check is emitted in "
                        "typed mode (the column's static type is taken as "
                        "conformant). Use mode='staged' for full union checking.",
                        UserWarning,
                        stacklevel=2,
                    )
            return []
        if dt is None:
            return []
        if any(_dt_conforms(t, dt) for t in self.types):
            return []  # the column's type IS one of the arms
        ok = None
        for t in self.types:
            e = _token_ok_expr(col, t)
            ok = e if ok is None else (ok | e)
        names = ", ".join(t.__name__ for t in self.types)
        msg = F.concat(
            F.lit("Type of '"),
            col,
            F.lit(f"' (str) is not compatible with types ({names})"),
        )
        return [
            F.when(
                col.isNotNull() & ~ok,
                _type_error(ErrorCode.UNION_INVALID_VALUE, msg),
            ).otherwise(_null_error())
        ]

    @property
    def needs_kernel(self) -> bool:
        # all-primitive unions compile to a pure token-type predicate;
        # only complex arms need the Arrow kernel
        return not self.all_primitive()

    def type_expr(self) -> Any:
        import typing

        return typing.Union[self.types]

    def staged_load(self, tok: StagedToken) -> StagedLoad:
        if not self.all_primitive():
            return super().staged_load(tok)
        jt = tok.jt
        accepted: list[str] = []
        for tp in self.types:
            accepted.extend(self._PRIMITIVE_TOKENS[tp])
        ok = jt.isin(sorted(set(accepted)))
        tname = (
            F.when(jt == "int", F.lit("int"))
            .when(jt == "float", F.lit("float"))
            .when(jt == "string", F.lit("str"))
            .when(jt == "bool", F.lit("bool"))
            .when(jt == "array", F.lit("list"))
            .when(jt == "object", F.lit("dict"))
            .otherwise(F.lit("object"))
        )
        names = ", ".join(t.__name__ for t in self.types)
        msg = F.concat(
            F.lit("Type of "),
            tok.repr,
            F.lit(" ("),
            tname,
            F.lit(f") is not compatible with types ({names})"),
        )
        err = F.when(~ok, _type_error(ErrorCode.UNION_INVALID_VALUE, msg)).otherwise(_null_error())
        return StagedLoad(loaded=tok.src, type_error=err)


class TypeExpr(_KernelField):
    """Arbitrary nested type expression (reference oblate/fields/typings.py:150-195).
    Staged mode: full recursive validation in the Arrow kernel."""

    def __init__(self, expr: Any, **kwargs: Any) -> None:
        super().__init__(**kwargs)
        self.expr = expr

    def type_expr(self) -> Any:
        return self.expr


class Object(Field):
    """Nested-schema field (reference oblate/fields/nesting.py:43-118).

    Typed mode: the column is a StructType; the nested plan is applied
    recursively with dotted field keys (``author.id``). Staged mode: the
    container kernel validates the JSON object against the nested spec.
    """

    def __init__(self, schema_cls: Any, **kwargs: Any) -> None:
        super().__init__(**kwargs)
        from .schema import Schema

        if not (isinstance(schema_cls, type) and issubclass(schema_cls, Schema)):
            raise TypeError("schema_cls must be a subclass of Schema")
        self.schema_cls = schema_cls

    @property
    def invalid_message(self) -> str:
        return f"Value must be a {self.schema_cls.__name__} object"

    def accepts_spark_type(self, dt: T.DataType) -> bool:
        return isinstance(dt, T.StructType)

    def staged_load(self, tok: StagedToken) -> StagedLoad:
        return StagedLoad(loaded=tok.src, type_error=_null_error())


def _spark_type_of(tp: Any) -> Optional[T.DataType]:
    mapping = {
        str: T.StringType(),
        int: T.LongType(),
        float: T.DoubleType(),
        bool: T.BooleanType(),
        bytes: T.BinaryType(),
    }
    return mapping.get(tp)
