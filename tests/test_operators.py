"""Unit tests for Axis-B and pipeline operators (stats/drift/dedup/
similarity/text) on small controlled inputs; the DuckDB oracle gate in
tools/check_correctness.py covers them at sf0.01 end-to-end."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oblate_spark.operators import dedup, drift, similarity, stats, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox leaps over the lazy dog"),  # near dup
        (4, "completely different text about spark engines and validation"),
        (5, "der hund und die katze sind nicht auf der strasse"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_column_profile(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0), (3, 30.0)], "k long, v double"
    )
    prof = {r["column"]: r for r in stats.column_profile(df, exact_distinct=True).collect()}
    assert prof["v"]["null_rate"] == 0.25
    assert prof["v"]["min_value"] == "10.0" and prof["v"]["max_value"] == "30.0"
    assert prof["k"]["distinct_count"] == 3
    assert prof["k"]["row_count"] == 4


def test_duplicate_keys(spark):
    df = spark.createDataFrame([(1,), (2,), (2,), (3,), (3,), (3,)], "k long")
    got = {r["k"]: r["dup_count"] for r in stats.duplicate_keys(df, "k").collect()}
    assert got == {2: 2, 3: 3}


def test_referential(spark):
    child = spark.createDataFrame([(1, 10), (2, 99), (3, None)], "id long, fk long")
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    out = stats.referential_violations(child, parent, fk="fk", pk="pk", row_id="id").collect()
    assert len(out) == 1 and out[0]["row_id"] == "2"  # NULL FK is not a violation


def test_psi_ks_detect_shift(spark):
    a = spark.range(0, 5000).select((F.col("id") % 100).cast("double").alias("x"))
    b = spark.range(0, 5000).select(((F.col("id") % 100) + 40).cast("double").alias("x"))
    same = drift.psi(a, a, col="x", lo=0, hi=150, nbins=16)
    shifted = drift.psi(a, b, col="x", lo=0, hi=150, nbins=16)
    assert same < 1e-9 < shifted
    assert drift.ks_statistic(a, b, col="x", lo=0, hi=150, nbins=64) > 0.2
    rep = drift.drift_report(a, b, col="x", lo=0, hi=150)
    assert rep["psi_exceeded"] and rep["ks_exceeded"]


def test_approx_quantiles_accuracy(spark):
    """On 0..n-1 a value is its rank: the estimate (rank ceil(q·n)) sits
    within the sketch's n / ACCURACY ranks of the exact quantile, plus
    one rank for nearest-rank against interpolation."""
    n = 20000
    df = spark.range(0, n).select(F.col("id").cast("double").alias("x"))
    qs = drift.approx_quantiles(df, "x", (0.25, 0.5, 0.75))
    for q, v in qs.items():
        assert abs(v - q * (n - 1)) <= n / drift.ACCURACY + 1, (q, v)


def test_approx_quantiles_nan_null_and_empty(spark):
    """NaN and NULL are ignored; an empty, all-NULL or all-NaN column
    gives NaN per quantile."""
    import math

    probs = (0.25, 0.5, 0.75, 1.0)
    df = spark.createDataFrame(
        [(1.0,), (2.0,), (3.0,), (float("nan"),), (None,)], "x double"
    )
    assert drift.approx_quantiles(df, "x", probs) == {0.25: 1.0, 0.5: 2.0, 0.75: 3.0, 1.0: 3.0}
    for empty in (df.limit(0), df.where("x IS NULL"), df.where("isnan(x)")):
        got = drift.approx_quantiles(empty, "x", probs)
        assert list(got) == list(probs) and all(math.isnan(v) for v in got.values())


def test_exact_and_lsh_dedup(docs):
    ex = dedup.exact_duplicates(docs, id_col="doc_id", text_col="text").collect()
    assert sorted(r["doc_id"] for r in ex) == [1, 2]
    cand = dedup.lsh_candidate_pairs(docs, id_col="doc_id", text_col="text").collect()
    pairs = {(r["id_a"], r["id_b"]) for r in cand}
    assert (1, 2) in pairs  # exact dups always collide
    assert not any(4 in p or 5 in p for p in pairs)  # unrelated docs don't


def test_lsh_skips_null_texts(spark):
    """NULL texts share one NULL shingle and so every band; they must not
    become candidates of each other."""
    text = "the quick brown fox jumps over the lazy dog near the river bank"
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, None), (4, text), (5, text)],
        "doc_id long, text string",
    )
    cand = dedup.lsh_candidate_pairs(df, id_col="doc_id", text_col="text").collect()
    assert {(r["id_a"], r["id_b"]) for r in cand} == {(4, 5)}


def test_jaccard_threshold(docs):
    out = dedup.ngram_jaccard_pairs(docs, id_col="doc_id", text_col="text", threshold=0.7)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs  # near dup above 0.7
    assert not any(5 in p for p in pairs)


def test_simhash_near_dup_property(docs):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, id_col="doc_id", text_col="text").collect()}
    assert sh[1] == sh[2]  # identical docs -> identical simhash
    ham_near = bin(sh[1] ^ sh[3]).count("1")
    ham_far = bin(sh[1] ^ sh[4]).count("1")
    assert ham_near < ham_far


def test_knn_bruteforce_and_ivf_agree_on_top1(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    vecs = [(i, rng.standard_normal(16).astype(float).tolist()) for i in range(40)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = df.filter("vec_id < 2")
    bf = similarity.knn_bruteforce(df, q, id_col="vec_id", vec_col="embedding", k=5)
    top1 = {r["query_id"]: r["neighbor_id"] for r in bf.filter("rank = 1").collect()}
    ivf = similarity.knn_ivf(df, q, id_col="vec_id", vec_col="embedding", k=5,
                             n_centroids=4, nprobe=4)  # nprobe=all -> exact
    top1_ivf = {r["query_id"]: r["neighbor_id"] for r in ivf.filter("rank = 1").collect()}
    assert top1 == top1_ivf


def test_embedding_near_duplicates(spark):
    base = [0.5] * 8
    rows = [(1, base), (2, [v + 0.001 for v in base]), (3, [(-1) ** i * v for i, v in enumerate(base)])]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    out = dedup.embedding_near_duplicates(df, id_col="id", vec_col="embedding", threshold=0.99)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert pairs == {(1, 2)}


def test_language_id_and_quality(docs):
    langs = {r["doc_id"]: r["lang_pred"] for r in text.language_id(docs, id_col="doc_id", text_col="text").collect()}
    assert langs[1] == "en" and langs[5] == "de"
    q = {r["doc_id"]: r["quality"] for r in text.quality_score(docs, id_col="doc_id", text_col="text").collect()}
    assert 0.0 <= min(q.values()) and max(q.values()) <= 1.0


def test_token_counts_and_fingerprint(docs):
    tc = {r["doc_id"]: r["n_tokens"] for r in text.token_count(docs, id_col="doc_id", text_col="text").collect()}
    assert tc[1] == 9
    fp = {r["doc_id"]: r["fingerprint"] for r in text.fingerprint(docs, id_col="doc_id", text_col="text").collect()}
    assert fp[1] == fp[2] and fp[1] != fp[4]
    sw = {r["doc_id"]: r["n_subwords"] for r in text.subword_count(docs, id_col="doc_id", text_col="text").collect()}
    assert sw[1] >= tc[1]


def test_image_table_drift(spark):
    from oblate_spark import fixtures

    df = fixtures.build_images_df(spark, 2000, partitions=8).cache()
    half_a = df.filter("pmod(abs(hash(image_id)), 2) = 0")
    half_b = df.filter("pmod(abs(hash(image_id)), 2) = 1")
    rep = drift.image_table_drift_report(half_a, half_b)
    assert not rep["caption_drifted"] and not rep["fmt_drifted"]

    # inject drift: truncate captions + flip formats
    drifted = df.selectExpr(
        "image_id", "bytes", "w", "h",
        "CASE WHEN fmt = 'bmp' THEN 'png' ELSE 'ppm' END AS fmt",
        "substring(caption, 1, 8) AS caption", "phash",
    )
    rep2 = drift.image_table_drift_report(df, drifted)
    assert rep2["caption_drifted"] and rep2["fmt_drifted"]
    df.unpersist()


def test_preprocess_hook(spark):
    from oblate_spark import Schema, fields

    class S(Schema):
        f = fields.String()

        @classmethod
        def preprocess_data(cls, df):
            return df.withColumn("f", F.upper("f"))

    df = spark.createDataFrame([("0", "abc")], "row_id string, f string")
    res = S.validate(df)
    assert res.annotated.select("f").collect()[0]["f"] == "ABC"


def test_duplicate_clusters_and_keep_canonical(spark):
    from pyspark.sql import functions as F
    from oblate_spark.operators.dedup import duplicate_clusters, keep_canonical

    pairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("d", "e"), ("f", "c")], "id_a string, id_b string"
    )
    cl = duplicate_clusters(pairs)
    got = {(r["id"], r["cluster_id"]) for r in cl.collect()}
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("f", "a"), ("d", "d"), ("e", "d")}

    docs = spark.createDataFrame([(x,) for x in "abcdefg"], "doc_id string")
    kept = {r["doc_id"] for r in keep_canonical(docs, cl, id_col="doc_id").collect()}
    assert kept == {"a", "d", "g"}  # canonical member per cluster + singleton


def test_top_k_tokens_and_heavy_hitters(spark):
    from pyspark.sql import functions as F
    from oblate_spark.operators.freq import approx_heavy_hitters, top_k_tokens

    # skewed vocabulary: token t_i appears ~1000/i times (zipf-ish)
    rows = []
    for i in range(1, 60):
        rows.extend([(f"doc{i}_{j}", f"t{i:02d}") for j in range(1000 // i)])
    df = spark.createDataFrame(rows, "doc_id string, text string").repartition(8)

    top = top_k_tokens(df, text_col="text", k=5).collect()
    assert [(r["token"], r["cnt"]) for r in top] == [
        ("t01", 1000), ("t02", 500), ("t03", 333), ("t04", 250), ("t05", 200)
    ]
    # plan: per-partition top-k, no global sort
    import contextlib, io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        top_k_tokens(df, text_col="text", k=5).explain("formatted")
    assert "TakeOrderedAndProject" in buf.getvalue()

    # space-saving guarantees vs exact counts (capacity 16 << 59 tokens)
    exact = {f"t{i:02d}": 1000 // i for i in range(1, 60)}
    total = sum(exact.values())
    hh = approx_heavy_hitters(df, "text", capacity=16)
    est = {v: (c, e) for v, c, e in hh}
    # every value with true count > N/capacity must be present
    for v, true_cnt in exact.items():
        if true_cnt > total / 16:
            assert v in est, v
    # estimates are upper bounds and est - err lower bounds
    for v, (c, e) in est.items():
        assert c >= exact[v]
        assert c - e <= exact[v]


def test_space_saving_merge_bounds_property():
    """Pure-Python property test of the compensated summary merge
    (Agarwal et al. mergeable-summaries rule): after building per-chunk
    summaries from random zipf-ish streams and merging them in arbitrary
    order, every reported value satisfies est-err <= true <= est and
    every value ABSENT from the merged summary has true count <= the
    merged floor()."""
    import random
    from collections import Counter

    from oblate_spark.operators.freq import _SpaceSaving

    rng = random.Random(42)
    for trial in range(25):
        cap = rng.choice([4, 8, 16])
        nchunks = rng.randint(2, 6)
        vocab = [f"v{i}" for i in range(rng.randint(cap, cap * 6))]
        chunks = []
        truth: Counter = Counter()
        for _ in range(nchunks):
            stream = rng.choices(
                vocab, weights=[1.0 / (i + 1) for i in range(len(vocab))],
                k=rng.randint(50, 400),
            )
            truth.update(stream)
            ss = _SpaceSaving(cap)
            for v in stream:
                ss.add(v)
            chunks.append(ss)
        rng.shuffle(chunks)
        merged = _SpaceSaving(cap)
        for ss in chunks:
            merged.merge(ss)
        for v, est in merged.counts.items():
            err = merged.errors[v]
            assert est >= truth[v], (trial, v)
            assert est - err <= truth[v], (trial, v)
        floor = merged.floor()
        for v, true_cnt in truth.items():
            if v not in merged.counts:
                assert true_cnt <= floor, (trial, v, true_cnt, floor)


def test_flagged_overlap_semantics_consistent(spark):
    """A row matching BOTH predicates counts on the actual side only, in
    both flagged APIs (exclusive when-chain precedence) — regression for
    the r2 ADVICE inconsistency."""
    from oblate_spark.operators.drift import (
        categorical_psi_flagged,
        drift_statistics_flagged,
    )
    from pyspark.sql import functions as F

    # 'both' rows match expected AND actual; exclusive rule -> actual
    rows = (
        [("exp", "a")] * 50 + [("exp", "b")] * 50
        + [("act", "a")] * 60 + [("act", "b")] * 40
        + [("both", "a")] * 20
    )
    df = spark.createDataFrame(rows, "tag string, cat string")
    is_exp = F.col("tag").isin("exp", "both")
    is_act = F.col("tag").isin("act", "both")

    got = categorical_psi_flagged(df, col="cat", expected_cond=is_exp, actual_cond=is_act)
    # expected side must EXCLUDE 'both' rows: e = {a:50, b:50};
    # actual side includes them: a = {a:80, b:40}
    import math

    def psi(e, a):
        et, at = sum(e.values()), sum(a.values())
        return sum(
            (a[c] / at - e[c] / et) * math.log((a[c] / at) / (e[c] / et)) for c in e
        )

    assert abs(got - psi({"a": 50, "b": 50}, {"a": 80, "b": 40})) < 1e-12
    # the numeric twin under the same predicates agrees on populations:
    # KS over a 0/1-valued column equals |cdf gap| at the first bin
    num = df.withColumn("v", F.when(F.col("cat") == "a", 0.0).otherwise(1.0))
    stats = drift_statistics_flagged(
        num, col="v", expected_cond=is_exp, actual_cond=is_act,
        lo=0.0, hi=1.0, nbins_psi=2, nbins_ks=2,
    )
    assert abs(stats["ks"] - abs(80 / 120 - 50 / 100)) < 1e-9


def test_ivf_empty_corpus_returns_empty(spark):
    from oblate_spark.operators.similarity import ivf_assign, knn_ivf

    empty = spark.createDataFrame([], "id string, vec array<double>")
    assigned, cents = ivf_assign(empty, id_col="id", vec_col="vec", n_centroids=4)
    assert assigned.count() == 0 and cents.count() == 0
    res = knn_ivf(empty, empty, id_col="id", vec_col="vec", k=3)
    assert res.count() == 0


def test_zero_norm_vectors_never_pair_and_never_fail(spark):
    """A zero-norm vector has a NULL cosine (no ANSI DIVIDE_BY_ZERO):
    IVF assignment, the candidate-pair join, the exhaustive kernel and
    the two kNN searches all succeed, and no output pair holds it. A
    zero query gets no neighbours."""
    from oblate_spark.operators.dedup import embedding_near_duplicates
    from oblate_spark.operators.similarity import (
        cosine_expr, ivf_assign, knn_bruteforce, knn_ivf,
    )

    vecs = spark.range(50).select(
        F.col("id"), F.array(*[F.sin(F.col("id") * (k + 1)) for k in range(8)]).alias("vec")
    )  # row 0 is all zeros
    assigned, _ = ivf_assign(vecs, id_col="id", vec_col="vec", n_centroids=4)
    assert len(assigned.collect()) == 50
    pairs = vecs.select(F.col("id").alias("id_a")).crossJoin(
        vecs.select(F.col("id").alias("id_b"))
    ).filter(F.col("id_a") < F.col("id_b"))
    kw = dict(id_col="id", vec_col="vec", threshold=0.3)
    joined = {(r.id_a, r.id_b) for r in embedding_near_duplicates(vecs, pairs=pairs, **kw).collect()}
    exhaustive = {(r.id_a, r.id_b) for r in embedding_near_duplicates(vecs, **kw).collect()}
    assert joined and joined == exhaustive
    assert all(0 not in p for p in joined)
    cos = vecs.select("id", cosine_expr(F.col("vec"), F.col("vec")).alias("c")).collect()
    assert {r.id for r in cos if r.c is None} == {0}
    queries = vecs.filter(F.col("id") < 3)
    knn_kw = dict(id_col="id", vec_col="vec", k=3)
    brute = knn_bruteforce(vecs, queries, **knn_kw).collect()
    ivf = knn_ivf(vecs, queries, n_centroids=4, nprobe=4, **knn_kw).collect()
    for res in (brute, ivf):
        assert {r.query_id for r in res} == {1, 2}
        assert all(r.neighbor_id != 0 and r.cosine is not None for r in res)
        assert sorted(r.rank for r in res) == [1, 1, 2, 2, 3, 3]


def test_grouped_approx_quantiles(spark):
    """Per-key sketch quantiles track the exact per-group percentile on
    a frame where one key holds 30% of the rows; an all-NULL group is
    absent, a single-row group returns its one value, NaN is ignored."""
    hot = F.pmod(F.col("id"), F.lit(10)) < 3
    group = F.pmod(F.col("id"), F.lit(4))
    df = spark.range(40_000).select(
        F.when(hot, F.lit("hot")).otherwise(F.concat(F.lit("g"), group.cast("string"))).alias("k"),
        (F.rand(11) * 50 + F.when(hot, F.lit(400)).otherwise(group * 100)).cast("double").alias("x"),
    )
    exact = {
        (r["k"], q): float(v)
        for r in df.groupBy("k")
        .agg(F.expr("percentile(x, array(0.25, 0.5, 0.75))").alias("e"))
        .collect()
        for q, v in zip((0.25, 0.5, 0.75), r["e"])
    }
    edge = spark.createDataFrame(
        [("all_null", None), ("all_null", None), ("single", 7.5), ("single", float("nan"))],
        "k string, x double",
    )
    rows = drift.grouped_approx_quantiles(
        df.unionByName(edge), "k", "x", (0.25, 0.5, 0.75)
    ).collect()
    got = {(r["key"], r["quantile"]): r["value"] for r in rows}
    assert set(got) == set(exact) | {("single", q) for q in (0.25, 0.5, 0.75)}
    for key, v in exact.items():
        assert abs(got[key] - v) <= 1.5, (key, got[key], v)
    assert all(got[("single", q)] == 7.5 for q in (0.25, 0.5, 0.75))


def test_outlier_profiles_sketch_path_matches_exact(spark):
    """``exact=False`` (percentile_approx at ACCURACY) against
    ``exact=True`` on a small integer frame. With n = 4m + 1 values the
    sketch's nearest-rank and the exact path's interpolation land on the
    same order statistic for quartiles, median and MAD, and below
    ACCURACY values the sketch has no rank error, so fences and counts
    agree exactly."""
    import random

    from oblate_spark.operators.stats import iqr_outlier_profile, mad_outlier_profile

    vals = list(range(997)) + [-9000, -5000, 5000, 9000]  # n = 1001 = 4*250 + 1
    assert len(vals) < drift.ACCURACY
    random.Random(5).shuffle(vals)
    df = spark.createDataFrame([(v, 3 * v) for v in vals], "x bigint, y bigint").repartition(4)
    for profile in (iqr_outlier_profile, mad_outlier_profile):
        exact = {r.column: r.asDict() for r in profile(df, ["x", "y"]).collect()}
        approx = {r.column: r.asDict() for r in profile(df, ["x", "y"], exact=False).collect()}
        assert approx == exact, profile.__name__
        assert exact["x"]["n_below"] == exact["x"]["n_above"] == 2, exact


def test_pii_scrub(spark):
    from oblate_spark.operators.text import pii_scrub

    rows = [
        (1, "mail a.smith+x@corp.example.org now"),
        (2, "server at 192.168.0.17 and 10.0.0.1, call +44 20 7946 0958"),
        (3, "clean text, no pii here 1 2 3"),
        (4, None),
        (5, "contact 123456789@x.co"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in pii_scrub(df, id_col="doc_id", text_col="text").collect()}
    assert got[1]["clean_text"] == "mail [EMAIL] now"
    assert (got[1]["n_email"], got[1]["n_ipv4"], got[1]["n_phone"]) == (1, 0, 0)
    assert got[2]["clean_text"] == "server at [IPV4] and [IPV4], call [PHONE]"
    assert (got[2]["n_email"], got[2]["n_ipv4"], got[2]["n_phone"]) == (0, 2, 1)
    assert got[3]["clean_text"] == rows[2][1]
    assert got[4]["clean_text"] is None
    # counts follow the redaction chain: the digit-heavy local part is
    # gone before the phone pass, so no phantom phone redaction
    assert got[5]["clean_text"] == "contact [EMAIL]"
    assert (got[5]["n_email"], got[5]["n_ipv4"], got[5]["n_phone"]) == (1, 0, 0)


def test_tfidf_top_terms(spark):
    """A term unique to one doc must outrank corpus-wide terms there;
    ties (same tf, same df) break by term ascending."""
    from oblate_spark.operators.text import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "common common zebra"),
            (2, "common apple"),
            (3, "common banana"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(df, id_col="doc_id", text_col="text", k=2)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["term"], r["score"]))
    top1 = {d: sorted(v)[0][1] for d, v in by_doc.items()}
    assert top1 == {1: "zebra", 2: "apple", 3: "banana"}
    # 'common' appears in every doc -> idf = ln(1) = 0
    for d, v in by_doc.items():
        for rank, term, score in v:
            if term == "common":
                assert score == 0.0


def test_functional_dependency_and_null_implication(spark):
    from pyspark.sql import functions as F

    from oblate_spark.operators.stats import (
        functional_dependency_violations,
        null_implication_violations,
    )

    df = spark.createDataFrame(
        [
            (1, "A", "x"),    # key 1 -> {x}            ok
            (1, "A", "x"),
            (2, "B", "x"),    # key 2 -> {x, y}         violation
            (2, "B", "y"),
            (3, "C", None),   # key 3 -> {NULL}         ok (one value)
            (4, "D", "z"),    # key 4 -> {z, NULL}      violation
            (4, "D", None),
        ],
        "k long, a string, v string",
    )
    out = {r["k"]: (r["n_rhs_values"], r["n_rows"])
           for r in functional_dependency_violations(df, "k", "v").collect()}
    assert out == {2: (2, 2), 4: (2, 2)}
    # composite determinant
    comp = functional_dependency_violations(df, ["k", "a"], "v").collect()
    assert {(r["k"], r["a"]) for r in comp} == {(2, "B"), (4, "D")}

    imp = spark.createDataFrame(
        [
            (1, None, "s"),   # violation: when null, then non-null
            (2, None, None),  # ok
            (3, "en", "s"),   # ok
            (4, "en", None),  # ok (implication is one-way)
        ],
        "id long, lang string, source string",
    )
    v = null_implication_violations(
        imp, when_null="lang", then_null="source", row_id="id"
    ).collect()
    assert [(r["row_id"], r["error_code"], r["value_repr"]) for r in v] == [
        ("1", "implication.violated", "s")
    ]


def test_asof_join_backward_forward_tolerance(spark):
    """asof_join semantics: inclusive backward/forward match, tolerance
    nulling, tie-break via right_order, left-join behavior for
    matchless keys."""
    from oblate_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [
            (1, "a", 100.0),
            (2, "a", 205.0),
            (3, "a", 300.0),
            (4, "b", 50.0),   # user with no purchases at all
            (5, "a", 200.0),  # exactly equal to a right time: inclusive
        ],
        "lid long, k string, t double",
    )
    right = spark.createDataFrame(
        [
            (10, "a", 90.0, 1.0),
            (11, "a", 200.0, 2.0),
            (12, "a", 200.0, 3.0),  # tie on (k, t): max rid wins backward
            (13, "a", 290.0, 4.0),
        ],
        "rid long, k string, t double, val double",
    )
    out = asof_join(
        left, right.withColumnRenamed("t", "rt"),
        on="k", left_time="t", right_time="rt",
        right_cols=["rid", "val"], right_order="rid",
    )
    got = {r["lid"]: (r["rid"], r["val"]) for r in out.collect()}
    assert got[1] == (10, 1.0)
    assert got[5] == (12, 3.0)   # inclusive + tie toward max rid
    assert got[2] == (12, 3.0)
    assert got[3] == (13, 4.0)
    assert got[4] == (None, None)

    # tolerance: lid=1 is 10s after rid=10 -> survives tol=10, dies tol=5
    tol = asof_join(
        left, right.withColumnRenamed("t", "rt"),
        on="k", left_time="t", right_time="rt",
        right_cols=["rid"], right_order="rid", tolerance=5,
    )
    gtol = {r["lid"]: r["rid"] for r in tol.collect()}
    assert gtol[1] is None and gtol[5] == 12 and gtol[2] == 12

    # forward: nearest right at-or-after; ties toward min rid
    fwd = asof_join(
        left, right.withColumnRenamed("t", "rt"),
        on="k", left_time="t", right_time="rt",
        right_cols=["rid"], right_order="rid", direction="forward",
    )
    gf = {r["lid"]: r["rid"] for r in fwd.collect()}
    assert gf[1] == 11  # ties at 200 break toward MIN rid forward
    assert gf[5] == 11
    assert gf[2] == 13
    assert gf[3] is None  # nothing after 300
    assert gf[4] is None

    # name collision gets the suffix; matched time column always present
    assert "rt_asof" in out.columns
    with pytest.raises(ValueError):
        asof_join(left, right, on="missing", left_time="t",
                  right_time="t", right_cols=["rid"])
    with pytest.raises(ValueError):
        asof_join(left, right, on="k", left_time="t", right_time="t",
                  right_cols=["rid"], direction="nearest")


def test_repetition_signals(spark):
    from oblate_spark.operators.text import repetition_signals

    df = spark.createDataFrame(
        [
            (1, "spam ham spam ham spam ham"),     # heavy bigram repeat
            (2, "all tokens here are distinct"),
            (3, ""),                               # empty text
            (4, "one"),                            # single token: no bigrams
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_signals(
        df, id_col="doc_id", text_col="text").collect()}
    r1 = out[1]
    assert r1["n_tokens"] == 6
    assert r1["distinct_token_ratio"] == 2 / 6
    assert r1["top_token_fraction"] == 3 / 6
    # bigrams: [spam ham, ham spam, spam ham, ham spam, spam ham] -> 3/5
    assert r1["top_bigram_fraction"] == 3 / 5
    r2 = out[2]
    assert r2["distinct_token_ratio"] == 1.0
    assert r2["top_token_fraction"] == 1 / 5
    assert r2["top_bigram_fraction"] == 1 / 4
    assert out[3]["n_tokens"] == 0 and out[3]["top_bigram_fraction"] == 0.0
    assert out[4]["n_tokens"] == 1 and out[4]["top_bigram_fraction"] == 0.0


def test_interval_join_containment_semantics(spark):
    """interval_join: inclusive bounds, multi-grain intervals, inverted
    intervals match nothing, keys shard the match, grain choice never
    changes results."""
    from oblate_spark.operators.ranges import interval_join

    points = spark.createDataFrame(
        [
            (1, "u1", "2024-01-01 00:00:00"),
            (2, "u1", "2024-01-01 00:10:00"),
            (3, "u1", "2024-01-01 00:20:00.000001"),  # 1us past end
            (4, "u2", "2024-01-01 00:10:00"),          # other key
        ],
        "pid long, user string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    ivs = spark.createDataFrame(
        [
            (100, "u1", "2024-01-01 00:00:00", "2024-01-01 00:20:00"),
            (101, "u1", "2024-01-01 00:30:00", "2024-01-01 00:25:00"),  # inverted
            (102, "u2", "2024-01-01 00:05:00", "2024-01-01 00:15:00"),
        ],
        "iid long, user string, s string, e string",
    ).withColumn("s", F.col("s").cast("timestamp")).withColumn(
        "e", F.col("e").cast("timestamp")
    )

    for grain in (60, 300, 3600):
        out = interval_join(
            points, ivs, point_time="ts", start_col="s", end_col="e",
            grain_seconds=grain, keys=["user"], interval_cols=["iid"],
        )
        got = sorted((r["pid"], r["iid"]) for r in out.collect())
        assert got == [(1, 100), (2, 100), (4, 102)], (grain, got)

    # keyless (pure temporal): u2's point now falls into u1's window too
    out = interval_join(
        points, ivs, point_time="ts", start_col="s", end_col="e",
        grain_seconds=300, interval_cols=["iid"],
    )
    got = sorted((r["pid"], r["iid"]) for r in out.collect())
    assert got == [(1, 100), (2, 100), (2, 102), (4, 100), (4, 102)], got

    with pytest.raises(ValueError):
        interval_join(points, ivs, point_time="ts", start_col="s",
                      end_col="e", grain_seconds=0)


def test_simhash_hamming_pairs(spark):
    """Banded Hamming LSH: exhaustive under bands > max_distance —
    including the worst case of max_distance bits spread over distinct
    bands — and candidate pairs beyond the distance are filtered."""
    from oblate_spark.operators.dedup import simhash_hamming_pairs

    base = 0b1010_1100_0011_0101_1111_0000_1100_0011_0101_1010_0110_1001
    rows = [
        (1, base),
        (2, base ^ 0b1),                      # hamming 1 (band 0)
        # 3 flipped bits, one in each of bands 0,1,2 — the pigeonhole
        # worst case: no single flip-free pair of bands, but band 3
        # is intact so the pair MUST still surface
        (3, base ^ (1 << 0) ^ (1 << 12) ^ (1 << 24)),
        (4, base ^ 0b1111),                   # hamming 4: beyond cutoff
        (5, 0),                               # far away from everything
    ]
    sigs = spark.createDataFrame(rows, "doc_id long, simhash long")
    out = simhash_hamming_pairs(
        sigs, id_col="doc_id", bits=48, bands=4, max_distance=3
    )
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    assert got[(1, 2)] == 1
    assert got[(1, 3)] == 3
    assert got[(2, 3)] == 4 - 2  # bits 0 cancels: flips {12,24} remain
    assert (1, 4) not in got and (1, 5) not in got
    with pytest.raises(ValueError):
        simhash_hamming_pairs(sigs, id_col="doc_id", bits=48, bands=5)
    with pytest.raises(ValueError):
        simhash_hamming_pairs(
            sigs, id_col="doc_id", bits=48, bands=3, max_distance=3
        )


def test_ngram_contamination(spark):
    from oblate_spark.operators.text import ngram_contamination

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),        # grams(2): ab bc cd de
            (2, "c d x y"),          # grams: cd dx xy -> only cd hits
            (3, "zz"),               # < n tokens: no grams
            (4, "q r q r q r"),      # repeated grams collapse (distinct)
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "a b c d"), (101, "q r")], "bid long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in ngram_contamination(
            docs, bench, id_col="doc_id", text_col="text", n=2
        ).collect()
    }
    assert (out[1]["n_grams"], out[1]["n_contaminated"]) == (4, 3)
    assert out[1]["contamination"] == 3 / 4
    assert (out[2]["n_grams"], out[2]["n_contaminated"]) == (3, 1)
    assert (out[3]["n_grams"], out[3]["n_contaminated"]) == (0, 0)
    assert out[3]["contamination"] == 0.0
    # "q r q r q r" -> distinct grams {qr, rq}; bench has only "q r"
    assert (out[4]["n_grams"], out[4]["n_contaminated"]) == (2, 1)


def test_pack_sequences(spark):
    from oblate_spark.operators.sampling import pack_sequences

    rows = [(i, 60) for i in range(8)]  # 8 docs x 60 tokens
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = pack_sequences(
        df, id_col="doc_id", tokens_col="n_tokens", budget=100, n_shards=2
    )
    got = {r["doc_id"]: r for r in out.collect()}
    # shard 0: docs 0,2,4,6 at offsets 0,60,120,180 -> seqs 0,0,1,1
    for doc, (off, seq) in {0: (0, 0), 2: (60, 0), 4: (120, 1), 6: (180, 1)}.items():
        assert (got[doc]["shard"], got[doc]["seq_offset"], got[doc]["seq_id"]) == (
            0, off, seq,
        ), doc
    assert got[1]["shard"] == 1 and got[1]["seq_offset"] == 0
    with pytest.raises(ValueError):
        pack_sequences(df, id_col="doc_id", tokens_col="n_tokens", budget=0)
    with pytest.raises(ValueError):
        pack_sequences(
            df, id_col="doc_id", tokens_col="n_tokens", budget=10, n_shards=0
        )


def test_deterministic_sample(spark):
    from oblate_spark.operators.sampling import deterministic_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de") for i in range(400)], "k long, lang string"
    )
    small = deterministic_sample(df, key_cols=["k"], fraction=0.1, salt="s")
    big = deterministic_sample(df, key_cols=["k"], fraction=0.5, salt="s")
    ks, kb = {r["k"] for r in small.collect()}, {r["k"] for r in big.collect()}
    assert ks <= kb, "same-salt samples must nest"
    assert ks == {r["k"] for r in small.collect()}, "rerun must be identical"
    assert 0.03 < len(ks) / 400 < 0.22 and 0.35 < len(kb) / 400 < 0.65
    strat = deterministic_sample(
        df, key_cols=["k"], strata_col="lang",
        strata_fractions={"en": 1.0, "de": 0.0}, salt="s",
    )
    langs = {r["lang"] for r in strat.collect()}
    assert langs == {"en"}  # de fully dropped, en fully kept
    assert strat.count() == 200
    with pytest.raises(ValueError):
        deterministic_sample(df, key_cols=["k"])
    with pytest.raises(ValueError):
        deterministic_sample(df, key_cols=["k"], strata_fractions={"en": 0.5})
    with pytest.raises(ValueError):
        deterministic_sample(df, key_cols=["k"], fraction=1.5)


def test_rolling_event_features(spark):
    from oblate_spark.operators.features import rolling_event_features

    rows = [
        (1, 10, "2024-01-01 00:00:00", 1.0),
        (2, 10, "2024-01-01 00:30:00", 2.5),
        (3, 10, "2024-01-01 01:00:00", None),   # null value still counted
        (4, 10, "2024-01-01 02:30:00", 4.0),    # window has only itself
        (5, 10, "2024-01-01 02:30:00", 6.0),    # equal-ts peer: same frame
        (6, 20, "2024-01-01 00:30:00", 9.0),    # other user untouched
        (7, 20, None, 1.0),                      # null ts dropped
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r["event_id"]: r
        for r in rolling_event_features(
            df, key_cols=["user_id"], time_col="ts",
            value_col="value", window_seconds=3600,
        ).collect()
    }
    assert len(out) == 6  # event 7 dropped
    assert (out[1]["w_count"], out[1]["w_sum_cents"]) == (1, 100)
    assert (out[2]["w_count"], out[2]["w_sum_cents"]) == (2, 350)
    # event 3: frame covers events 1,2,3 (exactly 1h back, inclusive)
    assert (out[3]["w_count"], out[3]["w_sum_cents"], out[3]["w_max_cents"]) == (
        3, 350, 250,
    )
    # equal-ts peers share the identical frame (RANGE semantics)
    for e in (4, 5):
        assert (out[e]["w_count"], out[e]["w_sum_cents"], out[e]["w_max_cents"]) == (
            2, 1000, 600,
        )
    assert out[6]["w_count"] == 1
    with pytest.raises(ValueError):
        rolling_event_features(
            df, key_cols=[], time_col="ts", value_col="value", window_seconds=60
        )
    with pytest.raises(ValueError):
        rolling_event_features(
            df, key_cols=["user_id"], time_col="ts",
            value_col="value", window_seconds=0,
        )


def test_mixture_sample(spark):
    """Mixture rebalance: scarcest stratum fully kept (it caps T), the
    abundant one downsampled toward the target ratio; drop unlisted
    strata; explicit counts must match the self-counted path."""
    from oblate_spark.operators.sampling import mixture_sample

    rows = [(i, "web") for i in range(900)] + [
        (1000 + i, "books") for i in range(100)
    ] + [(2000 + i, "junk") for i in range(50)]
    df = spark.createDataFrame(rows, "k long, src string")
    out = mixture_sample(
        df, key_cols=["k"], strata_col="src",
        target_weights={"web": 0.5, "books": 0.5}, salt="m",
    )
    got = out.groupBy("src").count().collect()
    by = {r["src"]: r["count"] for r in got}
    # T = min(900/.5, 100/.5) = 200 -> books keeps all 100, web ~100
    assert "junk" not in by
    assert by["books"] == 100
    assert 70 <= by["web"] <= 130, by
    # passing the true counts must give the identical sample
    out2 = mixture_sample(
        df, key_cols=["k"], strata_col="src",
        target_weights={"web": 0.5, "books": 0.5}, salt="m",
        counts={"web": 900, "books": 100},
    )
    assert sorted(r["k"] for r in out.collect()) == sorted(
        r["k"] for r in out2.collect()
    )
    with pytest.raises(ValueError):
        mixture_sample(df, key_cols=["k"], strata_col="src", target_weights={})
    with pytest.raises(ValueError):
        mixture_sample(
            df, key_cols=["k"], strata_col="src",
            target_weights={"web": 0.5}, total_fraction=0.0,
        )
    with pytest.raises(ValueError):
        mixture_sample(
            df, key_cols=["k"], strata_col="src",
            target_weights={"web": 1.0, "absent": 1.0},
        )


def test_threshold_hex_properties():
    """Pure property check on the sampling threshold: monotone in the
    fraction, 8 lowercase hex chars below 1.0, 'g' sentinel at 1.0 (the
    round-4 boundary bug: 2^32 formats to NINE hex chars, which
    compares below most 8-char prefixes)."""
    from hypothesis import given, strategies as st

    from oblate_spark.operators.sampling import _threshold_hex

    assert _threshold_hex(0.0) == "00000000"
    assert _threshold_hex(1.0) == "g"
    assert _threshold_hex(0.5) == "80000000"
    assert all(t < "g" for t in (_threshold_hex(0.0), _threshold_hex(0.999999)))

    @given(
        st.floats(min_value=0.0, max_value=1.0),
        st.floats(min_value=0.0, max_value=1.0),
    )
    def monotone(a, b):
        lo, hi = sorted((a, b))
        assert _threshold_hex(lo) <= _threshold_hex(hi)
        t = _threshold_hex(lo)
        assert t == "g" or (len(t) == 8 and t == t.lower())

    monotone()


def test_image_phash_near_dup_composition(spark):
    """Axis A x dedup-stack composition: the image payload kernel's
    recomputed 64-bit pHash (signed BIGINT) feeds simhash_hamming_pairs
    directly — near-duplicate IMAGE detection with no all-pairs stage.
    The band slicing is two's-complement-safe (shiftright + mask), so
    negative phashes band correctly. The fixture plants content-identical
    dup_phash pairs (slots 15&16, 17&18, ... per 1000-block), which must
    surface as hamming-0 pairs."""
    from oblate_spark import fixtures
    from oblate_spark.operators.dedup import simhash_hamming_pairs
    from oblate_spark.operators.images import image_payload_report

    images = fixtures.build_images_df(spark, 400)
    rep = image_payload_report(images).filter(F.col("decode_ok"))
    sigs = rep.select("image_id", F.col("phash_actual").alias("sig"))
    pairs = simhash_hamming_pairs(
        sigs, id_col="image_id", sig_col="sig",
        bits=64, bands=4, max_distance=2,
    ).collect()
    exact = {
        (p["id_a"], p["id_b"]) for p in pairs if p["hamming"] == 0
    }
    # dup_phash slots: (15,16), (17,18), (19,20), (21,22), (23,24)
    for a, b in [(15, 16), (17, 18), (19, 20), (21, 22), (23, 24)]:
        assert (f"img_{a:012d}", f"img_{b:012d}") in exact, (a, b, exact)
    assert all(p["hamming"] <= 2 for p in pairs)


def test_dup_shingle_fraction(spark):
    """Planted cross-doc duplicate shares all shingles; a unique doc
    shares none; a doc shorter than n has 0 shingles and 0.0 fraction."""
    from oblate_spark.operators.text import dup_shingle_fraction

    same = "alpha beta gamma delta epsilon zeta eta"
    df = spark.createDataFrame(
        [
            (1, same),
            (2, same),
            (3, "one two three four five six seven eight"),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in dup_shingle_fraction(
            df, id_col="doc_id", text_col="text", n=5
        ).collect()
    }
    assert rows[1]["n_shingles"] == 3 and rows[1]["n_dup"] == 3
    assert rows[1]["dup_fraction"] == 1.0 and rows[2]["dup_fraction"] == 1.0
    assert rows[3]["n_shingles"] == 4 and rows[3]["n_dup"] == 0
    assert rows[4]["n_shingles"] == 0 and rows[4]["dup_fraction"] == 0.0


def test_chunk_documents(spark):
    """Chunk boundaries: 5 tokens, chunk 3 / stride 2 -> windows at
    offsets 0,2,4 with the tail chunk short; empty docs emit nothing;
    concatenating stride-prefixes of the chunks rebuilds the doc."""
    from oblate_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, ""), (3, "x")],
        "doc_id long, text string",
    )
    out = chunk_documents(
        df, id_col="doc_id", text_col="text", chunk_tokens=3, stride=2
    ).collect()
    got = sorted((r["doc_id"], r["chunk_id"], r["chunk_text"], r["n_tokens"]) for r in out)
    assert got == [
        (1, 0, "a b c", 3),
        (1, 1, "c d e", 3),
        (1, 2, "e", 1),
        (3, 0, "x", 1),
    ], got

    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(df, id_col="doc_id", text_col="text", stride=0)


def test_chunk_documents_map_only_plan(spark):
    """Chunking is per-document: the plan must contain NO Exchange —
    it pipelines scan -> generate -> project at any scale."""
    from oblate_spark.operators.text import chunk_documents

    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[F.lit(f"t{i}") for i in range(40)]).alias("text"),
    )
    out = chunk_documents(df, id_col="doc_id", text_col="text")
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan, plan[:2000]


def test_label_centroids_exact(spark):
    """Known vectors -> exact quantized sums; floor on negatives goes
    toward -inf; centroid is the exact rational."""
    from oblate_spark.operators.similarity import label_centroids

    df = spark.createDataFrame(
        [
            (1, 0, [1.5, -0.25]),
            (2, 0, [2.5, 0.75]),
            (3, 1, [-1.1, 0.0]),
        ],
        "vec_id long, label int, embedding array<float>",
    )
    rows = {
        (r["label"], r["dim"]): r
        for r in label_centroids(
            df, vec_col="embedding", label_col="label"
        ).collect()
    }
    assert rows[(0, 0)]["sum_q"] == 4_000_000 and rows[(0, 0)]["n"] == 2
    assert rows[(0, 0)]["centroid"] == 2.0
    assert rows[(0, 1)]["sum_q"] == 500_000 and rows[(0, 1)]["centroid"] == 0.25
    # -1.1 as float32 widens to -1.100000023841858; floor(-1100000.02...) = -1100001
    assert rows[(1, 0)]["sum_q"] == -1_100_001
    assert rows[(1, 1)]["sum_q"] == 0 and rows[(1, 1)]["centroid"] == 0.0


def test_split_boundaries_properties():
    """Pure checks: boundaries are cumulative-monotone, last is the 'g'
    sentinel, bad fraction sets raise."""
    import pytest as _pytest

    from oblate_spark.operators.sampling import _threshold_hex, split_boundaries

    b = split_boundaries({"train": 0.8, "val": 0.1, "test": 0.1})
    assert [n for n, _ in b] == ["train", "val", "test"]
    assert b[0][1] == _threshold_hex(0.8)
    assert b[1][1] == _threshold_hex(0.9)
    assert b[2][1] == "g"
    assert b[0][1] < b[1][1] < b[2][1]
    assert split_boundaries({"all": 1.0}) == [("all", "g")]
    with _pytest.raises(ValueError):
        split_boundaries({"train": 0.5, "val": 0.1})
    with _pytest.raises(ValueError):
        split_boundaries({})


def test_group_split(spark):
    """Every row of a group gets the same split; fractions are roughly
    honored across many groups; assignment is salt-stable."""
    from oblate_spark.operators.sampling import group_split

    df = spark.range(2000).select(
        F.col("id"), (F.col("id") % 200).cast("string").alias("grp")
    )
    out = group_split(
        df,
        group_cols=["grp"],
        fractions={"train": 0.8, "val": 0.1, "test": 0.1},
        salt="s1",
    )
    per_group = (
        out.groupBy("grp").agg(F.countDistinct("split").alias("n")).collect()
    )
    assert all(r["n"] == 1 for r in per_group)  # leakage-safe
    counts = {r["split"]: r["cnt"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert set(counts) <= {"train", "val", "test"}
    assert counts["train"] > counts.get("val", 0)
    assert counts["train"] > counts.get("test", 0)
    # 200 groups at 80/10/10: train should carry the clear majority
    assert counts["train"] / 2000 > 0.6
    again = group_split(
        df,
        group_cols=["grp"],
        fractions={"train": 0.8, "val": 0.1, "test": 0.1},
        salt="s1",
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_keep_best_canonical(spark):
    """Highest score wins; score tie falls back to min id; n_members
    counts the whole cluster."""
    from oblate_spark.operators.dedup import keep_best_canonical

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "id long, cluster_id long",
    )
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (10, 0.5), (11, 0.5)],
        "doc_id long, quality double",
    )
    rows = {
        r["cluster_id"]: r
        for r in keep_best_canonical(
            clusters, scores, id_col="doc_id", score_col="quality"
        ).collect()
    }
    assert rows[1]["canonical_id"] == 2 and rows[1]["n_members"] == 3
    assert rows[1]["canonical_score"] == 0.9
    assert rows[10]["canonical_id"] == 10 and rows[10]["n_members"] == 2


# ---------------------------------------------------------------------------
# token_rarity
# ---------------------------------------------------------------------------


def test_token_rarity(spark):
    """Hand corpus: corpus doc-frequencies apple=1 banana=2 cherry=1
    durian=1; per-doc min_df / hapax / rare counts follow exactly;
    empty docs get 0 counts and NULL min_df; within-doc repeats count
    once (distinct tokens)."""
    from oblate_spark.operators.text import token_rarity

    df = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "durian"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in token_rarity(
            df, id_col="doc_id", text_col="text", rare_doc_threshold=1
        ).collect()
    }
    assert rows[1]["n_distinct_tokens"] == 2
    assert rows[1]["min_df"] == 1  # apple is a hapax
    assert rows[1]["n_hapax"] == 1 and rows[1]["n_rare"] == 1
    assert rows[2]["min_df"] == 1 and rows[2]["n_hapax"] == 1
    assert rows[3]["n_distinct_tokens"] == 1 and rows[3]["n_hapax"] == 1
    assert rows[4]["n_distinct_tokens"] == 0
    assert rows[4]["min_df"] is None
    assert rows[4]["n_hapax"] == 0 and rows[4]["n_rare"] == 0
    # threshold 2 makes banana rare too
    rows2 = {
        r["doc_id"]: r
        for r in token_rarity(
            df, id_col="doc_id", text_col="text", rare_doc_threshold=2
        ).collect()
    }
    assert rows2[1]["n_rare"] == 2 and rows2[1]["n_hapax"] == 1


# ---------------------------------------------------------------------------
# aspect-ratio bucketing
# ---------------------------------------------------------------------------


def _expected_bucket(w: int, h: int, buckets) -> int:
    from fractions import Fraction

    best, best_cost = 0, None
    for i, (bw, bh) in enumerate(buckets):
        cost = abs(Fraction(w * bh - h * bw, bh))
        if best_cost is None or cost < best_cost:
            best, best_cost = i, cost
    return best


def test_assign_aspect_bucket_matches_bruteforce(spark):
    """Bucket choice equals an exact-Fraction argmin for random dims,
    and equal-ratio duplicate buckets tie to the EARLIER index."""
    import random

    from oblate_spark.operators.buckets import (
        DEFAULT_BUCKETS,
        assign_aspect_bucket,
    )

    rng = random.Random(7)
    dims = [(rng.randint(1, 4096), rng.randint(1, 4096)) for _ in range(300)]
    dims += [(1024, 1024), (4100, 2), (1, 4096), (896, 1152)]
    df = spark.createDataFrame(
        [(i, w, h) for i, (w, h) in enumerate(dims)], "i long, w int, h int"
    )
    got = {
        r["i"]: r["bucket_id"]
        for r in df.select(
            "i", assign_aspect_bucket(F.col("w"), F.col("h"), DEFAULT_BUCKETS)
        ).collect()
    }
    for i, (w, h) in enumerate(dims):
        assert got[i] == _expected_bucket(w, h, DEFAULT_BUCKETS), (i, w, h)

    # duplicate-ratio buckets: (1,2) and (2,4) are the same ratio;
    # a 100x200 image must land on index 0, never 1
    tie_buckets = [(1, 2), (2, 4), (1, 1)]
    tie = df.select(
        "i", assign_aspect_bucket(F.col("w"), F.col("h"), tie_buckets)
    ).collect()
    expected_tie = {r["i"]: None for r in tie}
    for i, (w, h) in enumerate(dims):
        expected_tie[i] = _expected_bucket(w, h, tie_buckets)
        assert expected_tie[i] != 1  # index 1 is unreachable (tie -> 0)
    for r in tie:
        assert r["bucket_id"] == expected_tie[r["i"]]


def test_aspect_bucket_batches_matches_reference(spark):
    """Global per-bucket rank/batch/slot equals a single-process
    reference computed by sorting (bucket, shard, id) — offsets + the
    sharded window must compose to an exact total order."""
    import random

    from oblate_spark.operators.buckets import (
        DEFAULT_BUCKETS,
        aspect_bucket_batches,
    )

    rng = random.Random(11)
    rows = [(i, rng.randint(200, 2000), rng.randint(200, 2000)) for i in range(500)]
    df = spark.createDataFrame(rows, "idx long, w int, h int")
    out = aspect_bucket_batches(
        df,
        id_col="idx",
        w_col="w",
        h_col="h",
        buckets=DEFAULT_BUCKETS,
        batch_size=16,
        n_shards=4,
        shard=F.pmod(F.col("idx"), F.lit(4)),
    ).collect()

    expected_bucket = {
        i: _expected_bucket(w, h, DEFAULT_BUCKETS) for i, w, h in rows
    }
    order = sorted(rows, key=lambda r: (expected_bucket[r[0]], r[0] % 4, r[0]))
    exp_rank: dict[int, int] = {}
    seen: dict[int, int] = {}
    for i, _, _ in order:
        b = expected_bucket[i]
        exp_rank[i] = seen.get(b, 0)
        seen[b] = exp_rank[i] + 1

    assert len(out) == len(rows)
    for r in out:
        i = r["idx"]
        assert r["bucket_id"] == expected_bucket[i], i
        bw, bh = DEFAULT_BUCKETS[r["bucket_id"]]
        assert (r["bucket_w"], r["bucket_h"]) == (bw, bh)
        assert r["rank"] == exp_rank[i], (i, r["rank"], exp_rank[i])
        assert r["batch_id"] == exp_rank[i] // 16
        assert r["slot"] == exp_rank[i] % 16
    # every batch except possibly the last per bucket is exactly full
    from collections import Counter

    per_batch = Counter((r["bucket_id"], r["batch_id"]) for r in out)
    last_batch = {}
    for (b, bid) in per_batch:
        last_batch[b] = max(last_batch.get(b, -1), bid)
    for (b, bid), n in per_batch.items():
        if bid < last_batch[b]:
            assert n == 16, (b, bid, n)


def test_aspect_bucket_batches_single_shard_is_id_order(spark):
    """n_shards=1 degenerates to plain per-bucket id order."""
    from oblate_spark.operators.buckets import aspect_bucket_batches

    df = spark.createDataFrame(
        [(i, 100, 100) for i in range(10)], "idx long, w int, h int"
    )
    out = sorted(
        aspect_bucket_batches(
            df, id_col="idx", w_col="w", h_col="h",
            buckets=[(1, 1)], batch_size=4, n_shards=1,
        ).collect(),
        key=lambda r: r["idx"],
    )
    for i, r in enumerate(out):
        assert r["rank"] == i and r["batch_id"] == i // 4 and r["slot"] == i % 4

    with pytest.raises(ValueError):
        aspect_bucket_batches(
            df, id_col="idx", w_col="w", h_col="h", buckets=[], batch_size=4
        )
    with pytest.raises(ValueError):
        aspect_bucket_batches(
            df, id_col="idx", w_col="w", h_col="h",
            buckets=[(1, 1)], batch_size=0,
        )


# ---------------------------------------------------------------------------
# snapshot diff (CDC)
# ---------------------------------------------------------------------------


def test_snapshot_diff(spark):
    """insert/delete/update classification with null-safe compare:
    NULL->value and value->NULL are updates, NULL->NULL is unchanged,
    unchanged keys are dropped, changed_cols is the sorted joined list."""
    from oblate_spark.operators.cdc import snapshot_diff

    base = spark.createDataFrame(
        [
            (1, "a", 10.0),
            (2, "b", None),
            (3, None, 30.0),
            (4, "d", 40.0),
            (5, "e", None),
        ],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [
            (1, "a", 10.0),        # unchanged -> dropped
            (2, "b2", 20.0),       # update: s and v (NULL->20.0)
            (3, None, None),       # update: v (30.0->NULL); s NULL==NULL
            (5, "e", None),        # unchanged (NULL==NULL) -> dropped
            (6, "f", 60.0),        # insert
        ],
        "k long, s string, v double",
    )
    rows = {
        r["k"]: r
        for r in snapshot_diff(base, new, key_cols=["k"]).collect()
    }
    assert set(rows) == {2, 3, 4, 6}
    assert rows[2]["change_type"] == "update"
    assert rows[2]["changed_cols"] == "s,v" and rows[2]["n_changed"] == 2
    assert rows[3]["change_type"] == "update"
    assert rows[3]["changed_cols"] == "v" and rows[3]["n_changed"] == 1
    assert rows[4]["change_type"] == "delete" and rows[4]["changed_cols"] == ""
    assert rows[6]["change_type"] == "insert" and rows[6]["n_changed"] == 0

    with pytest.raises(ValueError):
        snapshot_diff(base, new, key_cols=[])


def test_snapshot_table_diff(spark, tmp_path):
    """SnapshotTable.diff: change set between two committed snapshots
    (works across a full rewrite, where read_incremental refuses)."""
    from oblate_spark.sources.tableio import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    base = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], "k long, s string"
    )
    sid1 = t.write(base)
    new = spark.createDataFrame(
        [(1, "x"), (2, "Y"), (4, "w")], "k long, s string"
    )
    sid2 = t.write(new)  # full rewrite
    rows = {
        r["k"]: r
        for r in t.diff(sid1, sid2, key_cols=["k"]).collect()
    }
    assert rows[2]["change_type"] == "update" and rows[2]["changed_cols"] == "s"
    assert rows[3]["change_type"] == "delete"
    assert rows[4]["change_type"] == "insert"
    assert 1 not in rows


def test_dims_for_index_matches_make_row():
    """dims_for_index is the no-encode manifest twin of make_row; they
    must agree on (image_id, w, h) for every defect slot."""
    from oblate_spark.fixtures import dims_for_index, make_row

    idxs = list(range(60)) + list(range(498, 506)) + list(range(948, 1003))
    idxs += [1510, 1777, 1943]
    for i in idxs:
        row = make_row(i)
        assert dims_for_index(i) == (row["image_id"], row["w"], row["h"]), i


def test_centroid_distance_outliers(spark):
    """Hand case: two labels; within label 1 one vector sits far from
    the centroid and crosses the threshold, the near ones do not.
    dist2_q is the exact grid-unit integer (verified against a numpy
    recomputation with the same floor-quantization)."""
    import numpy as np

    from oblate_spark.operators.similarity import centroid_distance_outliers

    vecs = {
        1: ([0.0, 0.0], 10),
        2: ([0.1, -0.1], 10),
        3: ([3.0, 4.0], 10),   # far from label-10 centroid
        4: ([1.0, 1.0], 20),
        5: ([1.0, 1.0], 20),
    }
    df = spark.createDataFrame(
        [(k, v, l) for k, (v, l) in vecs.items()],
        "vec_id long, embedding array<float>, label int",
    )
    out = {
        r["vec_id"]: r
        for r in centroid_distance_outliers(
            df, id_col="vec_id", vec_col="embedding", label_col="label",
            threshold=2.0,
        ).collect()
    }
    # numpy reference with identical quantization
    scale = 1_000_000
    by_label: dict = {}
    q = {}
    for k, (v, l) in vecs.items():
        q[k] = np.floor(np.array(v, dtype=np.float32).astype(np.float64) * scale).astype(np.int64)
        by_label.setdefault(l, []).append(q[k])
    cq = {l: np.floor(np.sum(np.stack(a), axis=0) / len(a)).astype(np.int64) for l, a in by_label.items()}
    for k, (v, l) in vecs.items():
        d = q[k] - cq[l]
        want = int(np.sum(d * d))
        assert out[k]["dist2_q"] == want, (k, out[k]["dist2_q"], want)
        assert out[k]["is_outlier"] == (want > (2.0 * scale) ** 2), k
    assert out[3]["is_outlier"] is True
    assert out[1]["is_outlier"] is False and out[4]["is_outlier"] is False
    # identical vectors sit exactly on their centroid
    assert out[4]["dist2_q"] == 0 and out[5]["dist2_q"] == 0


def test_cross_table_violations(spark):
    """Constraint spans tables: child rows failing the joined predicate
    come back; orphans are NOT reported (referential check's job)."""
    from pyspark.sql import functions as F
    from oblate_spark.operators.stats import cross_table_violations

    fact = spark.createDataFrame(
        [(1, 10, 95), (2, 10, 50), (3, 20, 91), (4, 99, 200)],
        "fid long, key long, gap long",
    )
    dim = spark.createDataFrame([(10, 0), (20, 0)], "dkey long, base long")
    out = cross_table_violations(
        fact,
        dim,
        fact_key="key",
        dim_key="dkey",
        must_hold=lambda f, d: (f["gap"] - d["base"]) <= 90,
        row_cols=["fid", F.col("gap").alias("evidence")],
    )
    got = {(r["fid"], r["evidence"]) for r in out.collect()}
    # fid=4 is an orphan (key 99): excluded, not a cross-table violation
    assert got == {(1, 95), (3, 91)}


def test_correlation_profile_exact(spark):
    """Pearson from exact integer sums: perfect +/-1 lines and a known
    hand-computed value; null pairs excluded from n."""
    from oblate_spark.operators.stats import correlation_profile

    df = spark.createDataFrame(
        [(1, 2, -1, 1), (2, 4, -2, 2), (3, 6, -3, None), (4, 8, -4, 5)],
        "a long, b long, c long, d long",
    )
    out = {
        (r["x"], r["y"]): (r["n"], r["corr"])
        for r in correlation_profile(
            df, [("a", "b"), ("a", "c"), ("a", "d")]
        ).collect()
    }
    assert out[("a", "b")] == (4, 1.0)
    assert out[("a", "c")] == (4, -1.0)
    n, corr = out[("a", "d")]
    assert n == 3  # null d row excluded
    # hand check: points (1,1),(2,2),(4,5) -> corr = 0.993399 (6dp)
    import math
    sx, sy, sxx, syy, sxy = 7, 8, 21, 30, 25
    expect = round((3 * sxy - sx * sy) / math.sqrt((3 * sxx - sx * sx) * (3 * syy - sy * sy)), 6)
    assert corr == expect


def test_categorical_entropy(spark):
    """Uniform 4-way split -> ln(4); constant column -> 0; NULLs
    excluded from the distribution."""
    import math
    from oblate_spark.operators.stats import categorical_entropy

    df = spark.createDataFrame(
        [("a", "k"), ("b", "k"), ("c", "k"), ("d", None)] * 3,
        "u string, v string",
    )
    out = {r["column"]: r for r in categorical_entropy(df, ["u", "v"]).collect()}
    assert out["u"]["n_values"] == 4 and out["u"]["n_rows"] == 12
    assert out["u"]["entropy"] == round(math.log(4), 6)
    assert out["v"]["n_values"] == 1 and out["v"]["n_rows"] == 9
    assert out["v"]["entropy"] == 0.0


def test_suggest_constraints(spark):
    """Profile-to-suggestion rules: not_null only when zero NULLs,
    unique on distinct==non-null, value_set quotes the sorted domain,
    range only for integer-typed columns."""
    from oblate_spark.operators.stats import suggest_constraints

    df = spark.createDataFrame(
        [
            (1, "a", 10, 1.5),
            (2, "b", 10, 2.5),
            (3, "a", None, 3.5),
            (4, None, 20, 4.5),
        ],
        "id long, cat string, v long, f double",
    )
    got = {
        (r["column"], r["code"]): r["expression"]
        for r in suggest_constraints(df, max_value_set=3).collect()
    }
    assert got[("id", "not_null")] == "id IS NOT NULL"
    assert got[("id", "unique")] == "id IS UNIQUE"
    assert got[("id", "range")] == "id BETWEEN 1 AND 4"
    # cat: has a NULL -> no not_null; 2 distinct <= 3 -> value_set over
    # non-null domain; dup 'a' -> no unique
    assert ("cat", "not_null") not in got
    assert ("cat", "unique") not in got
    assert got[("cat", "value_set")] == "cat IN ('a', 'b')"
    # v: NULL present, dup among non-nulls -> no unique; int range holds
    assert ("v", "not_null") not in got
    assert got[("v", "range")] == "v BETWEEN 10 AND 20"
    assert got[("v", "value_set")] == "v IN ('10', '20')"
    # f: double -> never a range rule; all distinct -> unique
    assert ("f", "range") not in got
    assert got[("f", "unique")] == "f IS UNIQUE"


def test_volume_anomalies_exact_gate(spark):
    """Exact-integer k-sigma volume gate: a spiked day is flagged,
    steady days are not, and the inequality matches the float math."""
    import datetime as dt
    from pyspark.sql import functions as F
    from oblate_spark.operators.drift import volume_anomalies

    rows = []
    base = dt.datetime(2024, 1, 1)
    counts = [100, 101, 99, 100, 500, 100, 98]  # day 5 spikes
    for d, c in enumerate(counts):
        rows += [(base + dt.timedelta(days=d, seconds=i),) for i in range(c)]
    df = spark.createDataFrame(rows, "ts timestamp")
    out = {
        r["bucket_start"].day: (r["n_rows"], r["is_anomaly"])
        for r in volume_anomalies(df, "ts", k=2).collect()
    }
    assert out[5] == (500, True)
    assert all(not flag for day, (_, flag) in out.items() if day != 5)
    # float cross-check of the integer inequality
    import statistics
    mu = statistics.mean(counts)
    sd = statistics.pstdev(counts)
    for day, (n, flag) in out.items():
        assert flag == (abs(n - mu) > 2 * sd)


def test_uniqueness_metrics(spark):
    """completeness/distinctness/uniqueness from one pass: NULLs count
    against completeness only; uniqueness sees exactly-once values."""
    df = spark.createDataFrame(
        [("a", 1), ("b", 1), ("b", 2), (None, 3)], "k string, v long"
    )
    out = {r["column"]: r for r in
           __import__("oblate_spark.operators.stats", fromlist=["x"])
           .uniqueness_metrics(df, ["k", "v"]).collect()}
    k = out["k"]
    assert (k["n_rows"], k["n_nonnull"], k["n_distinct"], k["n_unique_once"]) == (4, 3, 2, 1)
    assert k["completeness"] == 0.75
    assert k["distinctness"] == round(2 / 3, 6)
    assert k["uniqueness"] == round(1 / 3, 6)
    v = out["v"]
    assert (v["n_nonnull"], v["n_distinct"], v["n_unique_once"]) == (4, 3, 2)


def test_pattern_ratio(spark):
    from oblate_spark.operators.stats import pattern_ratio

    df = spark.createDataFrame(
        [("a1",), ("b2",), ("xx",), (None,)], "s string"
    )
    r = pattern_ratio(df, "s", r"^[a-z]\d$").collect()[0]
    assert (r["n_nonnull"], r["n_matching"], r["ratio"]) == (3, 2, round(2 / 3, 6))


def test_benford_first_digit(spark):
    """String-derived digits: negatives by magnitude, zeros dropped,
    absent digits report zero, expectations are Benford's."""
    import math
    from oblate_spark.operators.drift import benford_first_digit

    df = spark.createDataFrame(
        [(123,), (19,), (-145,), (2,), (0,), (None,), (900,)], "x long"
    )
    rows = {r["digit"]: r for r in benford_first_digit(df, "x").collect()}
    assert len(rows) == 9
    assert rows[1]["n"] == 3  # 123, 19, -145
    assert rows[2]["n"] == 1 and rows[9]["n"] == 1
    assert rows[3]["n"] == 0 and rows[3]["p_observed"] == 0.0
    assert rows[1]["p_observed"] == 0.6
    for d in range(1, 10):
        assert rows[d]["p_expected"] == round(math.log10(1 + 1 / d), 6)


def test_grouped_completeness(spark):
    """Per-group null rates with threshold flag: the broken group is
    flagged, healthy groups are not, columns share one pass."""
    from oblate_spark.operators.stats import grouped_completeness

    df = spark.createDataFrame(
        [("a", 1, 1), ("a", None, 2), ("b", 3, None), ("b", 4, 5),
         ("b", None, 6), ("b", 7, 8)],
        "g string, x long, y long",
    )
    out = {
        (r["group"], r["column"]): r
        for r in grouped_completeness(
            df, "g", ["x", "y"], min_completeness=0.7
        ).collect()
    }
    a_x = out[("a", "x")]
    assert (a_x["n_rows"], a_x["n_nonnull"]) == (2, 1)
    assert a_x["completeness"] == 0.5 and a_x["below_threshold"]
    b_x = out[("b", "x")]
    assert b_x["completeness"] == 0.75 and not b_x["below_threshold"]
    assert out[("a", "y")]["completeness"] == 1.0
    assert out[("b", "y")]["completeness"] == 0.75


def test_key_skew_profile(spark):
    """Top-N heavy keys with deterministic tie-break; share and skew
    quantify how much heavier than uniform each key is."""
    from oblate_spark.operators.stats import key_skew_profile

    rows = [("hot",)] * 6 + [("warm",)] * 2 + [("a",), ("b",), (None,), (None,)]
    df = spark.createDataFrame(rows, "k string")
    out = key_skew_profile(df, "k", top_n=3).collect()
    assert [r["key_value"] for r in out] == ["hot", None, "warm"]
    assert [r["rank"] for r in out] == [1, 2, 3]
    top = out[0]
    assert top["n_rows"] == 6 and top["total_rows"] == 12 and top["n_keys"] == 5
    assert top["share"] == 0.5
    # 6 rows vs uniform expectation 12/5 = 2.4 -> skew 2.5
    assert top["skew"] == 2.5


def test_freshness_check(spark):
    """Per-group max-ts lag vs an explicit as_of; stale above threshold."""
    import datetime as dt

    from oblate_spark.operators.stats import freshness_check

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    df = spark.createDataFrame(
        [
            ("live", t0 + dt.timedelta(seconds=90)),
            ("live", t0),
            ("dead", t0 + dt.timedelta(seconds=10, microseconds=400_000)),
        ],
        "g string, ts timestamp",
    )
    out = {
        r["group"]: r
        for r in freshness_check(
            df,
            ts_col="ts",
            group_col="g",
            as_of=t0 + dt.timedelta(seconds=100),
            max_lag_seconds=60,
        ).collect()
    }
    assert out["live"]["lag_seconds"] == 10 and not out["live"]["stale"]
    # 89.6 s floors to 89
    assert out["dead"]["lag_seconds"] == 89 and out["dead"]["stale"]


def test_category_diff(spark):
    """New/vanished/kept categorical domains between two cohorts in one
    scan; rows matching neither cohort are ignored."""
    from oblate_spark.operators.drift import category_diff

    df = spark.createDataFrame(
        [("png", "base"), ("png", "cur"), ("gif", "base"),
         ("avif", "cur"), ("bmp", "neither")],
        "fmt string, side string",
    )
    out = {
        r["category"]: r
        for r in category_diff(
            df,
            "fmt",
            base_cond=F.col("side") == "base",
            cur_cond=F.col("side") == "cur",
        ).collect()
    }
    assert set(out) == {"png", "gif", "avif"}
    assert out["png"]["status"] == "kept" and out["png"]["n_base"] == 1
    assert out["gif"]["status"] == "vanished" and out["gif"]["n_current"] == 0
    assert out["avif"]["status"] == "new" and out["avif"]["n_base"] == 0


def test_strip_boilerplate(spark):
    """Lines shared by >= min_docs docs of one group are removed from
    every doc of that group, order preserved; other groups untouched."""
    from oblate_spark.operators.text import boilerplate_lines, strip_boilerplate

    lines = spark.createDataFrame(
        [
            # group g1: "cookie notice" appears in docs 1 and 2
            (1, "g1", 0, "cookie notice"),
            (1, "g1", 1, "real prose one"),
            (2, "g1", 0, "cookie notice"),
            (2, "g1", 1, "other words"),
            # group g2: same line text, but only ONE doc -> kept
            (3, "g2", 0, "cookie notice"),
            (3, "g2", 1, "tail"),
        ],
        "doc long, grp string, idx int, line string",
    )
    bp = boilerplate_lines(
        lines, doc_col="doc", group_col="grp", line_col="line", min_docs=2
    ).collect()
    assert [(r["group"], r["line"], r["n_docs"]) for r in bp] == [
        ("g1", "cookie notice", 2)
    ]
    out = {
        r["doc"]: r
        for r in strip_boilerplate(
            lines,
            doc_col="doc",
            group_col="grp",
            idx_col="idx",
            line_col="line",
            min_docs=2,
            joiner="\n",
        ).collect()
    }
    assert out[1]["clean_text"] == "real prose one" and out[1]["n_removed"] == 1
    assert out[2]["clean_text"] == "other words"
    assert out[3]["clean_text"] == "cookie notice\ntail"
    assert out[3]["n_removed"] == 0 and out[3]["n_lines"] == 2


def test_strip_boilerplate_all_removed_lazy_broadcast(spark):
    """A doc whose every line is boilerplate yields an empty clean_text
    (not null). Building the strip starts no job; run, the boilerplate
    set is the broadcast side of the join back."""
    from oblate_spark.operators.text import strip_boilerplate

    from .test_plan_quality import _spark_jobs, broadcasts_right, final_plan

    lines = spark.createDataFrame(
        [(1, "g", 0, "x"), (2, "g", 0, "x")],
        "doc long, grp string, idx int, line string",
    )
    with _spark_jobs(spark) as jobs:
        df = strip_boilerplate(
            lines, doc_col="doc", group_col="grp", idx_col="idx", line_col="line", min_docs=2
        )
    assert not jobs, jobs
    out = {r["doc"]: r for r in df.collect()}
    assert out[1]["clean_text"] == "" and out[1]["n_removed"] == 1
    assert broadcasts_right(final_plan(df), "group", "line")


def test_frequent_values_profile(spark):
    """Per-column top-k values in one scan; NULL is a profiled value and
    sorts first among ties; rank deterministic."""
    from oblate_spark.operators.stats import frequent_values_profile

    df = spark.createDataFrame(
        [("a", None), ("a", 1), ("b", 1), ("c", 2), (None, 2), (None, 3)],
        "x string, y long",
    )
    out = frequent_values_profile(df, ["x", "y"], k=2).collect()
    by_col = {}
    for r in out:
        by_col.setdefault(r["column"], []).append((r["value"], r["n_rows"], r["rank"]))
    assert by_col["x"] == [(None, 2, 1), ("a", 2, 2)]
    # y: 1 and 2 tie at 2 rows -> '1' < '2' string order
    assert by_col["y"] == [("1", 2, 1), ("2", 2, 2)]


def test_type_inference_profile(spark):
    """Lexical inference over staged strings: all-int -> int, mixed
    int/float -> float, dates -> date, junk -> string; fractions exact."""
    from oblate_spark.operators.stats import type_inference_profile

    df = spark.createDataFrame(
        [
            ("1", "1.5", "2024-01-02", "x", None),
            ("-42", "2", "1999-12-31", "7", "true"),
            ("+7", "-3e2", "2024-11-30", "z", "False"),
            (None, ".5", "2024-05-05", "q", "true"),
        ],
        "a string, b string, c string, d string, e string",
    )
    out = {r["column"]: r for r in type_inference_profile(df, ["a", "b", "c", "d", "e"]).collect()}
    assert out["a"]["inferred_type"] == "int" and out["a"]["n_nonnull"] == 3
    assert out["a"]["frac_int"] == 1.0
    assert out["b"]["inferred_type"] == "float" and out["b"]["frac_int"] == 0.25
    assert out["c"]["inferred_type"] == "date" and out["c"]["frac_date"] == 1.0
    assert out["d"]["inferred_type"] == "string"
    assert out["e"]["inferred_type"] == "bool" and out["e"]["n_nonnull"] == 3
    # int lexes as float too
    assert out["a"]["frac_float"] == 1.0


def test_funnel_counts(spark):
    """Ordered funnel: stage events before the user's previous-stage
    first event do NOT count; monotone survivor counts."""
    import datetime as dt

    from oblate_spark.operators.sessions import funnel_counts

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        # u1: view -> click -> buy (full funnel)
        (1, t(0), "view"), (1, t(10), "click"), (1, t(20), "buy"),
        # u2: click BEFORE first view -> click does not count
        (2, t(5), "click"), (2, t(9), "view"),
        # u3: view only
        (3, t(1), "view"),
        # u4: never viewed; click+buy must not count at all
        (4, t(2), "click"), (4, t(3), "buy"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = {
        r["stage_idx"]: r
        for r in funnel_counts(
            df,
            user_col="user_id",
            ts_col="ts",
            type_col="event_type",
            stages=["view", "click", "buy"],
        ).collect()
    }
    assert (out[1]["stage"], out[1]["n_users"]) == ("view", 3)
    assert out[2]["n_users"] == 1  # only u1: u2's click precedes the view
    assert out[3]["n_users"] == 1


def test_group_cap(spark):
    """Per-group cap: deterministic hash-ordered kept set equals the
    one-window top-cap ground truth; small groups unaffected; rerun
    reproduces exactly."""
    from pyspark.sql import Window

    from oblate_spark.operators.sampling import group_cap

    df = spark.createDataFrame(
        [(g, i) for g in ("a", "b") for i in range(40)] + [("tiny", 0)],
        "g string, id long",
    )
    capped = group_cap(df, group_col="g", id_col="id", max_per_group=5)
    rows = capped.collect()
    sizes = {}
    for r in rows:
        sizes[r["g"]] = sizes.get(r["g"], 0) + 1
    assert sizes == {"a": 5, "b": 5, "tiny": 1}
    # ground truth: single window by (md5(salt||id), id)
    h = F.md5(F.concat(F.lit("cap-v1"), F.col("id").cast("string")))
    w = Window.partitionBy("g").orderBy(h, "id")
    truth = (
        df.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= 5)
        .drop("__r")
    )
    assert {(r["g"], r["id"]) for r in rows} == {
        (r["g"], r["id"]) for r in truth.collect()
    }
    again = group_cap(df, group_col="g", id_col="id", max_per_group=5)
    assert {(r["g"], r["id"]) for r in again.collect()} == {
        (r["g"], r["id"]) for r in rows
    }
    # schema passthrough: no helper columns survive
    assert capped.columns == ["g", "id"]


def test_embedding_validation(spark):
    """Vector constraint kernel: wrong dim, NaN, Inf, null component,
    zero vector and healthy vector each produce the right flags."""
    from oblate_spark.operators.similarity import embedding_validation

    nan, inf = float("nan"), float("inf")
    df = spark.createDataFrame(
        [
            (1, [0.5, -0.25, 1.0]),
            (2, [0.5, 0.25]),          # wrong dim
            (3, [nan, 0.0, 0.0]),      # NaN
            (4, [inf, 0.0, 0.0]),      # Inf
            (5, [None, 0.1, 0.2]),     # null component
            (6, [0.0, 0.0, 0.0]),      # zero norm
            (7, None),                 # null vector
        ],
        "vec_id long, embedding array<float>",
    )
    out = {
        r["vec_id"]: r
        for r in embedding_validation(
            df, id_col="vec_id", vec_col="embedding", expected_dim=3
        ).collect()
    }
    good = out[1]
    assert good["ok"] and good["dim_ok"] and not good["zero_norm"]
    # floor(0.5*1000)^2 + floor(-0.25*1000)^2 + floor(1*1000)^2
    assert good["micro_sumsq"] == 500**2 + 250**2 + 1000**2
    assert not out[2]["dim_ok"] and not out[2]["ok"]
    assert out[3]["has_nan"] and out[3]["micro_sumsq"] is None
    assert out[4]["has_inf"] and not out[4]["ok"]
    assert out[5]["n_null_components"] == 1 and out[5]["micro_sumsq"] is None
    assert out[6]["zero_norm"] and not out[6]["ok"]
    assert out[7]["dim"] is None and not out[7]["ok"]


def test_phash_fixture_twins_agree(spark):
    """The closed-form phash fixture exists in three forms — Python
    (phash_for_index), Spark Column arithmetic (build_phash_df), and a
    DuckDB CTE (phash_oracle_cte) — and all three must be identical,
    or the phash_near_dup_images oracle gate tests nothing."""
    import duckdb

    from oblate_spark.fixtures import (
        build_phash_df,
        phash_for_index,
        phash_oracle_cte,
    )

    n = 1500
    got = {r.image_id: r.phash for r in build_phash_df(spark, n).collect()}
    duck = dict(
        duckdb.sql(
            "SELECT image_id, phash FROM (" + phash_oracle_cte(n) + ")"
        ).fetchall()
    )
    for j in range(n):
        iid = f"img_{j:012d}"
        assert got[iid] == phash_for_index(j) == duck[iid], j
    # planted structure is present: hot clique rows share all but the
    # low 2 bits; XOR pairs sit at hamming exactly 2 from base(i-1)
    assert bin(phash_for_index(0) ^ phash_for_index(101)).count("1") <= 2
    base_3 = phash_for_index(3)
    assert bin(base_3 ^ phash_for_index(4)).count("1") == 2


def test_phash_near_dup_banded_equals_bruteforce(spark):
    """Pigeonhole exhaustiveness on the phash fixture: the banded LSH
    join returns EXACTLY the all-pairs hamming<=3 set (including the
    planted hot clique, whose C(k,2) pairs all ride one bucket)."""
    from oblate_spark.fixtures import PHASH_BITS, build_phash_df
    from oblate_spark.operators.dedup import simhash_hamming_pairs

    df = build_phash_df(spark, 600).cache()
    try:
        banded = simhash_hamming_pairs(
            df, id_col="image_id", sig_col="phash",
            bits=PHASH_BITS, bands=4, max_distance=3,
        )
        got = {(r.id_a, r.id_b, r.hamming) for r in banded.collect()}
        a = df.select(F.col("image_id").alias("id_a"), F.col("phash").alias("pa"))
        b = df.select(F.col("image_id").alias("id_b"), F.col("phash").alias("pb"))
        brute = (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .select(
                "id_a", "id_b",
                F.bit_count(F.col("pa").bitwiseXOR(F.col("pb"))).alias("hamming"),
            )
            .filter(F.col("hamming") <= 3)
        )
        want = {(r.id_a, r.id_b, r.hamming) for r in brute.collect()}
        assert got == want
        # hot clique: 600//101 + 1 = 6 members -> all 15 pairs present
        hot_ids = {f"img_{i:012d}" for i in range(0, 600, 101)}
        hot_pairs = {(x, y) for (x, y, _) in got if x in hot_ids and y in hot_ids}
        assert len(hot_pairs) == 15
    finally:
        df.unpersist()


def test_iqr_outlier_profile(spark):
    """Hand-computed Tukey fences on 0..100 plus planted extremes; an
    all-null column yields null fences and zero counts (never an
    error); the fence comparison is strict (fence values themselves
    are inliers)."""
    from oblate_spark.operators.stats import iqr_outlier_profile

    vals = list(range(101)) + [1000, -1000]   # q1=25.25, q3=75.75 over n=103
    rows = [(v, None) for v in vals]
    df = spark.createDataFrame(rows, "x bigint, y bigint")
    out = {r.column: r for r in iqr_outlier_profile(df, ["x", "y"]).collect()}

    x = out["x"]
    # n=103 -> h=(n-1)*p: q1 at 25.5 -> 24.5... verify against numpy
    import numpy as np
    q1, q3 = np.percentile(sorted(vals), [25, 75], method="linear")
    assert x.q1 == q1 and x.q3 == q3
    iqr = q3 - q1
    assert x.lo_fence == q1 - 1.5 * iqr and x.hi_fence == q3 + 1.5 * iqr
    assert x.n_below == 1 and x.n_above == 1  # only the planted extremes

    y = out["y"]
    assert y.q1 is None and y.hi_fence is None
    assert y.n_below == 0 and y.n_above == 0


def test_signature_bit_drift_flags_planted_bias(spark):
    """A decoder-change-style bias (bit 5 forced on for i%7==0 rows)
    must flag exactly that bit; every profile row carries the full
    table count and an exact ones/n fraction."""
    from oblate_spark.fixtures import build_phash_df
    from oblate_spark.operators.drift import (
        signature_bit_drift,
        signature_bit_profile,
    )

    base = build_phash_df(spark, 2100)
    i = F.expr("cast(substring(image_id, 5) as bigint)")
    cur = base.select(
        "image_id",
        F.when(i % 7 == 0, F.expr("phash | 32"))
        .otherwise(F.col("phash"))
        .alias("phash"),
    )
    rows = signature_bit_drift(base, cur, "phash", bits=48).collect()
    assert len(rows) == 48
    assert [r.bit for r in rows if r.flagged] == [5]

    prof = {r.bit: r for r in signature_bit_profile(base, "phash").collect()}
    assert all(prof[b].n == 2100 for b in range(48))
    assert all(prof[b].frac_ones == prof[b].ones / 2100 for b in range(48))


def test_pair_label_consistency(spark):
    """Null labels agree with null (eqNullSafe), disagree with any
    value; matched/divergent pairs classify correctly."""
    from oblate_spark.operators.dedup import pair_label_consistency

    pairs = spark.createDataFrame(
        [("a", "b", 0), ("a", "c", 2), ("d", "e", 1), ("d", "f", 3)],
        "id_a string, id_b string, hamming int",
    )
    items = spark.createDataFrame(
        [("a", "cat"), ("b", "cat"), ("c", "dog"), ("d", None), ("e", None), ("f", "cat")],
        "id string, caption string",
    )
    out = {
        (r.id_a, r.id_b): r.label_match
        for r in pair_label_consistency(
            pairs, items, id_col="id", label_col="caption"
        ).collect()
    }
    assert out == {
        ("a", "b"): True,
        ("a", "c"): False,
        ("d", "e"): True,   # both captions missing: still "agree"
        ("d", "f"): False,
    }


def test_phash_dup_clusters_hot_clique_is_one_cluster(spark):
    """The planted hot clique (every 101st row) must resolve to a
    single connected component labelled by its minimum member id."""
    from oblate_spark.fixtures import PHASH_BITS, build_phash_df
    from oblate_spark.operators.dedup import (
        duplicate_clusters,
        simhash_hamming_pairs,
    )

    pairs = simhash_hamming_pairs(
        build_phash_df(spark, 1200),
        id_col="image_id", sig_col="phash",
        bits=PHASH_BITS, bands=4, max_distance=3,
    )
    got = {r.id: r.cluster_id for r in duplicate_clusters(pairs).collect()}
    hot = [f"img_{i:012d}" for i in range(0, 1200, 101)]
    labels = {got[h] for h in hot}
    assert labels == {hot[0]}


def test_mad_outlier_profile(spark):
    """Median/MAD and fences hand-verified against numpy; all-null
    column degrades to null fences and zero counts."""
    import numpy as np

    from oblate_spark.operators.stats import mad_outlier_profile

    vals = list(range(101)) + [10_000, -10_000]
    df = spark.createDataFrame([(v, None) for v in vals], "x bigint, y bigint")
    out = {r.column: r for r in mad_outlier_profile(df, ["x", "y"]).collect()}

    arr = np.array(sorted(vals), dtype=np.float64)
    med = float(np.percentile(arr, 50, method="linear"))
    mad = float(np.percentile(np.abs(arr - med), 50, method="linear"))
    x = out["x"]
    assert x.median == med and x.mad == mad
    assert x.lo_fence == med - 5.0 * mad and x.hi_fence == med + 5.0 * mad
    assert x.n_below == 1 and x.n_above == 1

    y = out["y"]
    assert y.median is None and y.mad is None
    assert y.n_below == 0 and y.n_above == 0
