"""Staged-mode strict/non-strict primitive cast kernel — message parity
with reference tests/test_fields_primitive.py."""

from __future__ import annotations

import json
import sys

import pytest

from oblate_spark import Schema, fields
from oblate_spark import validate as V


def staged_df(spark, rows: dict[str, list]):
    """rows: column -> list of python values, JSON-encoded into string cells.
    The literal string '__MISSING__' becomes SQL NULL."""
    names = list(rows)
    n = len(next(iter(rows.values())))
    data = []
    for i in range(n):
        rec = {"row_id": str(i)}
        for c in names:
            v = rows[c][i]
            rec[c] = None if v == "__MISSING__" else json.dumps(v)
        data.append(rec)
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("row_id", T.StringType())]
        + [T.StructField(c, T.StringType()) for c in names]
    )
    return spark.createDataFrame(data, schema)


def violations_map(result):
    """{row_id: [(field_key, message), ...]}"""
    out: dict[str, list] = {}
    for r in result.violations.collect():
        out.setdefault(r["row_id"], []).append((r["field_key"], r["message"]))
    return out


class StrictSchema(Schema):
    s = fields.String()
    i = fields.Integer()
    f = fields.Float()
    b = fields.Boolean()


class LaxSchema(Schema):
    s = fields.String(strict=False)
    i = fields.Integer(strict=False)
    f = fields.Float(strict=False)
    b = fields.Boolean(strict=False)


def test_strict_valid(spark):
    df = staged_df(spark, {"s": ["hi"], "i": [42], "f": [3.14], "b": [True]})
    res = StrictSchema.validate(df, mode="staged")
    assert violations_map(res) == {}
    assert res.valid_rows.count() == 1


def test_strict_invalid_datatypes(spark):
    df = staged_df(spark, {"s": [1], "i": ["x"], "f": [3], "b": ["yes"]})
    vm = violations_map(StrictSchema.validate(df, mode="staged"))
    msgs = dict(vm["0"])
    assert msgs["s"] == "Value must be a string"
    assert msgs["i"] == "Value must be an integer"
    # quirk: int rejected by strict Float (reference primitive.py:255)
    assert msgs["f"] == "Value must be a floating point number"
    assert msgs["b"] == "Value must be a boolean"


def test_strict_bool_passes_integer(spark):
    # quirk: isinstance(True, int) is True (reference primitive.py:114)
    df = staged_df(spark, {"s": ["ok"], "i": [True], "f": [1.0], "b": [False]})
    vm = violations_map(StrictSchema.validate(df, mode="staged"))
    assert vm == {}


def test_nonstrict_coercions(spark):
    df = staged_df(
        spark,
        {
            "s": [123, True],
            "i": ["30", 3.99],
            "f": ["3.14", 7],
            "b": ["yes", "0"],
        },
    )
    res = LaxSchema.validate(df, mode="staged")
    assert violations_map(res) == {}
    # check coerced values via the public lookup API (plan.loaded
    # expressions reference the staged helper columns, which
    # CompiledPlan.with_helpers projects and the annotated frame drops,
    # so they resolve through get_values_for, not over bare annotated)
    byid: dict = {}
    for fieldname in ("s", "i", "f", "b"):
        for rid, v in res.get_values_for(["0", "1"], fieldname).items():
            byid.setdefault(rid, {})[fieldname] = v
    assert byid["0"]["s"] == "123"
    assert byid["0"]["i"] == 30
    assert byid["0"]["f"] == pytest.approx(3.14)
    assert byid["0"]["b"] is True
    assert byid["1"]["s"] == "True"
    assert byid["1"]["i"] == 3  # int(3.99) truncates toward zero
    assert byid["1"]["f"] == pytest.approx(7.0)
    assert byid["1"]["b"] is False


def test_nonstrict_coercion_failures(spark):
    df = staged_df(
        spark, {"s": ["x"], "i": ["invalid int"], "f": ["bad float"], "b": ["bad boolean"]}
    )
    vm = violations_map(LaxSchema.validate(df, mode="staged"))
    msgs = dict(vm["0"])
    assert msgs["i"] == "Failed to coerce 'invalid int' to integer"
    assert msgs["f"] == "Failed to coerce 'bad float' to float"
    assert msgs["b"] == "Failed to coerce 'bad boolean' to boolean"


def test_boolean_custom_values(spark):
    class B(Schema):
        b = fields.Boolean(strict=False, true_values=["on"], false_values=["off"])

    df = staged_df(spark, {"b": ["on", "off", "yes"]})
    res = B.validate(df, mode="staged")
    vm = violations_map(res)
    assert list(vm) == ["2"]
    assert vm["2"] == [("b", "Failed to coerce 'yes' to boolean")]


class _RaceA(Schema):
    a1 = fields.Integer()
    a2 = fields.Float()
    a3 = fields.String()


class _RaceB(Schema):
    b1 = fields.Integer()
    b2 = fields.Float()
    b3 = fields.String()


def test_staged_compile_is_thread_safe(spark):
    """Two threads compiling different staged schemas at once each get
    the plan a serial compile gives: a field's helper columns reach its
    checks through the compile's own token, not through shared state."""
    from concurrent.futures import ThreadPoolExecutor

    from oblate_spark.compiler import compile_plan

    dfa = staged_df(spark, {"a1": [1, "x"], "a2": [1.5, 2], "a3": ["s", 3]})
    dfb = staged_df(spark, {"b1": [2, 2.5], "b2": ["y", 0.5], "b3": [True, "t"]})

    def sig(plan):
        layers = [{k: str(v) for k, v in layer.items()} for layer in plan.prelude]
        return str(plan.violations_column()), layers

    serial = {
        cls: sig(compile_plan(cls, df, mode="staged")) for cls, df in ((_RaceA, dfa), (_RaceB, dfb))
    }

    def compile_many(cls, df):
        return [compile_plan(cls, df, mode="staged") for _ in range(30)]

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(2) as pool:
            fa = pool.submit(compile_many, _RaceA, dfa)
            fb = pool.submit(compile_many, _RaceB, dfb)
            plans_a, plans_b = fa.result(timeout=300), fb.result(timeout=300)
    finally:
        sys.setswitchinterval(switch)
    assert [sig(p) for p in plans_a] == [serial[_RaceA]] * 30
    assert [sig(p) for p in plans_b] == [serial[_RaceB]] * 30

    plan = plans_a[-1]
    rows = plan.with_helpers(dfa).select("row_id", plan.violations_column().alias("v")).collect()
    got = {r["row_id"]: sorted((v["field_key"], v["message"]) for v in r["v"]) for r in rows}
    assert got == {
        "0": [],
        "1": [
            ("a1", "Value must be an integer"),
            ("a2", "Value must be a floating point number"),
            ("a3", "Value must be a string"),
        ],
    }


class EscapedString(Schema):
    s = fields.String(validators=[V.Length(max=1)])


def test_staged_string_escapes_are_decoded(spark):
    """A staged string token is decoded like the reference's json.loads:
    ``"\\u00e9"`` is the one character é and passes Length(max=1);
    ``"a\\"b"`` loads as a"b, repr 'a"b'."""
    df = staged_df(spark, {"s": ["é", 'a"b']})
    assert [r["s"] for r in df.orderBy("row_id").collect()] == ['"\\u00e9"', '"a\\"b"']
    res = EscapedString.validate(df, mode="staged")
    got = [(r["row_id"], r["error_code"], r["value_repr"]) for r in res.violations.collect()]
    assert got == [("1", "validate.length", "'a\"b'")]
    assert res.get_values_for(["0", "1"], "s") == {"0": "é", "1": 'a"b'}


class BigStrict(Schema):
    i = fields.Integer(validators=[V.Range(0, 100)])


class BigLax(Schema):
    i = fields.Integer(strict=False, validators=[V.Range(0, 100)])


def _violations(result):
    return sorted((r["row_id"], r["error_code"], r["message"]) for r in result.violations.collect())


def test_staged_integer_past_64_bits_is_coercion_failure(spark):
    """A strict integer token past 64 bits is ``integer.coercion_failed``
    (not a CAST_INVALID_INPUT job failure), and its Range check is
    suppressed; in-range and out-of-range bigints behave as before."""
    df = staged_df(spark, {"i": [12345678901234567890123, 7, 500, 2**63 - 1]})
    got = _violations(BigStrict.validate(df, mode="staged"))
    assert [g[:2] for g in got] == [
        ("0", "integer.coercion_failed"),
        ("2", "validate.range"),
        ("3", "validate.range"),
    ]
    assert got[0][2] == "Failed to coerce 12345678901234567890123 to integer"


def test_staged_lax_integer_float_overflow_is_coercion_failure(spark):
    """Non-strict: a float token whose integer part overflows a bigint
    (``1e30``) and an integer token past 64 bits are coercion failures,
    not a CAST_OVERFLOW job failure; ``2.5`` still truncates to 2."""
    df = staged_df(spark, {"i": [1e30, -12345678901234567890123, 2.5]})
    res = BigLax.validate(df, mode="staged")
    assert _violations(res) == [
        ("0", "integer.coercion_failed", "Failed to coerce 1e+30 to integer"),
        ("1", "integer.coercion_failed", "Failed to coerce -12345678901234567890123 to integer"),
    ]
    assert res.get_values_for(["2"], "i") == {"2": 2}
