"""Error codes, default message strings, and the violation-row contract.

The reference library (izxxr/oblate) pins its behavior to *exact default
message strings* — its test suite asserts on them (see
/root/reference/tests/test_fields_primitive.py, test_validators.py). Our
violations DataFrame must carry the same strings. This module is the single
registry of codes and message templates; citations point into the
reference for parity checking.

Violation-row contract (FIXTURES.md):

    violations(row_id, field_key:string, error_code:string,
               message:string, value_repr:string, partition_id:int)

Roll-up ``raw(row_id) = {field_key: [message, ...]}`` with nested dicts for
Object paths — parity with ``ValidationError.raw()``
(reference oblate/exceptions.py:271-294).
"""

from __future__ import annotations

from typing import Any

__all__ = [
    "ErrorCode",
    "MESSAGES",
    "VIOLATION_COLUMNS",
    "all_error_codes",
    "ErrorContext",
    "FieldNotSet",
]


class ErrorCode:
    """Stable error-code strings.

    Field-level codes mirror the reference's per-class ``ERR_*`` constants
    (oblate/fields/base.py:121-123, fields/primitive.py:59,106-107,180-181,
    247-248); table-level and image codes are engine-defined extensions
    (Axis A/B of BASELINE.json north_rule).
    """

    # -- row-level (reference parity) --
    VALIDATION_FAILED = "field.validation_failed"
    NONE_DISALLOWED = "field.none_disallowed"
    FIELD_REQUIRED = "field.field_required"
    UNKNOWN_FIELD = "schema.unknown_field"
    FROZEN_FIELD = "field.frozen"
    FROZEN_SCHEMA = "schema.frozen"

    STRING_INVALID_DATATYPE = "string.invalid_datatype"
    INTEGER_INVALID_DATATYPE = "integer.invalid_datatype"
    INTEGER_COERCION_FAILED = "integer.coercion_failed"
    FLOAT_INVALID_DATATYPE = "float.invalid_datatype"
    FLOAT_COERCION_FAILED = "float.coercion_failed"
    BOOLEAN_INVALID_DATATYPE = "boolean.invalid_datatype"
    BOOLEAN_COERCION_FAILED = "boolean.coercion_failed"
    DICT_INVALID_DATATYPE = "dict.invalid_datatype"
    TYPED_DICT_INVALID_DATATYPE = "typed_dict.invalid_datatype"
    LIST_INVALID_DATATYPE = "list.invalid_datatype"
    SET_INVALID_DATATYPE = "set.invalid_datatype"
    LITERAL_INVALID_VALUE = "literal.invalid_value"
    UNION_INVALID_VALUE = "union.invalid_value"
    TYPE_EXPR_FAILED = "type_expr.failed"
    OBJECT_INVALID_DATATYPE = "object.invalid_datatype"

    # -- validator codes (engine-defined; the reference raises bare
    #    ValueError from validators, so the *message* is the contract) --
    RANGE = "validate.range"
    LENGTH = "validate.length"
    REGEX = "validate.regex"
    EXCLUDE = "validate.exclude"
    OR = "validate.or"
    CUSTOM = "validate.custom"

    # -- Axis B: table-level (no reference analogue) --
    UNIQUE_DUPLICATE = "unique.duplicate"
    REFERENTIAL_ORPHAN = "referential.orphan"
    STATS_BOUND = "stats.bound_violated"
    DRIFT_PSI = "drift.psi_exceeded"
    DRIFT_KS = "drift.ks_exceeded"

    # -- Axis A: image payload (engine-defined; FIXTURES.md F1) --
    IMAGE_DECODE_FAILED = "image.decode_failed"
    IMAGE_DIMS_MISMATCH = "image.dims_mismatch"
    IMAGE_FMT_MISMATCH = "image.fmt_mismatch"
    IMAGE_PHASH_MISMATCH = "image.phash_mismatch"


#: Default message strings, exact parity with the reference.
#: Citations: oblate/fields/base.py:227-232 (generic/none/required),
#: fields/primitive.py:75,126,128,214,216,267,269 (primitives),
#: schema.py:189 (unknown field), type_validation.py (containers),
#: fields/nesting.py:100-103 (object).
MESSAGES: dict[str, str] = {
    ErrorCode.VALIDATION_FAILED: "Validation failed for this field.",
    ErrorCode.NONE_DISALLOWED: "This field must not be None.",
    ErrorCode.FIELD_REQUIRED: "This field is required.",
    ErrorCode.UNKNOWN_FIELD: "Invalid or unknown field.",
    ErrorCode.STRING_INVALID_DATATYPE: "Value must be a string",
    ErrorCode.INTEGER_INVALID_DATATYPE: "Value must be an integer",
    ErrorCode.INTEGER_COERCION_FAILED: "Failed to coerce {value!r} to integer",
    ErrorCode.FLOAT_INVALID_DATATYPE: "Value must be a floating point number",
    ErrorCode.FLOAT_COERCION_FAILED: "Failed to coerce {value!r} to float",
    ErrorCode.BOOLEAN_INVALID_DATATYPE: "Value must be a boolean",
    ErrorCode.BOOLEAN_COERCION_FAILED: "Failed to coerce {value!r} to boolean",
    ErrorCode.DICT_INVALID_DATATYPE: "Must be a valid dictionary",
    ErrorCode.LIST_INVALID_DATATYPE: "Must be a valid list",
    ErrorCode.SET_INVALID_DATATYPE: "Must be a valid set",
}


VIOLATION_COLUMNS = [
    "row_id",
    "field_key",
    "error_code",
    "message",
    "value_repr",
    "partition_id",
]


def all_error_codes() -> list[str]:
    """Every registered code string (used to probe ``format_error``
    overrides at plan-compile time)."""
    return sorted(
        v for k, v in vars(ErrorCode).items()
        if not k.startswith("_") and isinstance(v, str)
    )


class ErrorContext:
    """Context passed to ``Field.format_error`` overrides — the
    compile-time analogue of the reference's ErrorContext
    (oblate/contexts.py:42-238). ``get_value()`` returns a Column (the
    value's string repr) usable inside message expressions; per-row
    Python never runs."""

    __slots__ = ("error_code", "field", "value", "schema", "metadata", "context")

    def __init__(self, error_code: str, field: Any, value: Any, schema: Any = None,
                 metadata: Any = None, context: Any = None) -> None:
        from .contexts import current_schema_context

        self.error_code = error_code
        self.field = field
        self.value = value
        self.schema = schema
        self.metadata = metadata or {}
        #: the active run's SchemaContext (user state via .context.state)
        #: — reference ctx.schema.context.state (oblate/contexts.py:42-83)
        self.context = context if context is not None else current_schema_context()
        if schema is None and self.context is not None:
            self.schema = self.context.schema

    def get_value(self):
        return self.value


class FieldNotSet(AttributeError):
    """Access to a field that has no value set (reference
    oblate/exceptions.py:45-72) — distinct from SQL NULL, which is a
    *set* value of None. Inherits AttributeError like the reference."""

    def __init__(self, field: Any, schema: Any, field_name: str) -> None:
        self.field_name = field_name
        self.field = field
        self.schema = schema
        super().__init__(f"Field {field.name!r} has no value set")
