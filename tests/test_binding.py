"""``binding.let`` and the expressions rewritten onto it: outputs pinned
on the inputs the fixtures avoid (NULL, empty, shorter than the window,
whitespace runs)."""

from __future__ import annotations

from pyspark.sql import functions as F

from oblate_spark.operators.binding import let
from oblate_spark.operators.dedup import shingles
from oblate_spark.operators.text import ngrams_expr, tokens_expr


def test_let_equals_direct_application_null_included(spark):
    df = spark.createDataFrame([(1,), (None,), (-4,)], "x int")
    out = df.select(
        (F.col("x") * 2 + 1).alias("direct"),
        let(F.col("x") * 2, lambda v: v + 1).alias("bound"),
    ).collect()
    assert [r["bound"] for r in out] == [r["direct"] for r in out] == [3, None, -7]


def test_shingles_edge_cases(spark):
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "abc"), (4, "  Ab \t\n  cD   e  "), (5, "   "),
         (6, "abcdef")],
        "id int, text string",
    )
    rows = shingles(df, id_col="id", text_col="text", k=5).collect()
    got = sorted((r["id"], r["shingle"]) for r in rows if r["shingle"] is not None)
    assert [(r["id"], r["shingle"]) for r in rows if r["shingle"] is None] == [(1, None)]
    assert got == [
        (2, ""), (3, "abc"), (4, " cd e"), (4, "ab cd"), (4, "b cd "), (5, ""),
        (6, "abcde"), (6, "bcdef"),
    ]


def test_ngrams_expr_short_and_null_inputs(spark):
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b"), (4, "a b c"), (5, " A  b\tc d ")],
        "id int, text string",
    )
    out = df.select("id", ngrams_expr(tokens_expr(F.col("text")), 3).alias("g"))
    assert [(r["id"], r["g"]) for r in out.orderBy("id").collect()] == [
        (1, []), (2, []), (3, []), (4, ["a b c"]), (5, ["a b c", "b c d"]),
    ]
