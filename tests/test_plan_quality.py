"""Physical-plan quality gates: these assert the *plan shape*, not the
results — column pruning reaching the parquet scan, no Python in
expression-only paths, broadcast joins where intended. A refactor that
silently de-optimizes the plan fails here even if results stay correct.
"""

from __future__ import annotations

import contextlib
import os

import pytest
from pyspark.sql import functions as F

from oblate_spark import Schema, fields
from oblate_spark import validate as V


@pytest.fixture(scope="module")
def images_path(spark, tmp_path_factory):
    from oblate_spark import fixtures

    p = str(tmp_path_factory.mktemp("pq") / "imgs")
    fixtures.build_images_df(spark, 200, partitions=2).write.parquet(p)
    return p


def plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_schema_validation_prunes_bytes(spark, images_path):
    """A plan that validates only metadata must never read the binary
    column — at 100 TB the bytes column IS the I/O cost."""
    from oblate_spark.operators.images import image_schema

    df = spark.read.parquet(images_path)
    res = image_schema().validate(df.drop("bytes"), row_id="image_id",
                                  extra_columns_ok=("image_id",))
    plan = plan_of(res.violations)
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan and all("bytes" not in l for l in scan), scan


def test_row_checks_have_no_python_stage(spark, images_path):
    """Typed-mode row-level checks must compile to pure expressions —
    no ArrowEvalPython / BatchEvalPython nodes anywhere."""
    from oblate_spark.operators.images import image_schema

    df = spark.read.parquet(images_path).drop("bytes")
    res = image_schema().validate(df, row_id="image_id", extra_columns_ok=("image_id",))
    plan = plan_of(res.violations)
    assert "EvalPython" not in plan, plan[:2000]


def test_filter_pushdown_reaches_scan(spark, images_path):
    df = spark.read.parquet(images_path)
    q = df.select("image_id", "w").filter(F.col("w") > 30)
    plan = plan_of(q)
    assert "PushedFilters" in plan and "GreaterThan(w,30)" in plan, plan


def test_payload_kernel_projects_only_needed_columns(spark, images_path):
    """The kernel's scan must read exactly the columns it consumes."""
    from oblate_spark.operators.images import image_payload_report

    df = spark.read.parquet(images_path).withColumn("extra", F.lit(1))
    rep = image_payload_report(df)
    plan = plan_of(rep)
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan and all("extra" not in l for l in scan), scan


def final_plan(df) -> str:
    """The final adaptive plan of a collected frame: the executed plan's
    text before ``== Initial Plan ==``."""
    return df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]


def broadcasts_right(plan: str, *keys: str) -> bool:
    """Whether ``plan`` has a BroadcastHashJoin that broadcasts its
    right side, joined on exactly ``keys`` there."""
    import re

    ks = ", ".join(rf"{k}#\d+L?" for k in keys)
    return re.search(rf"BroadcastHashJoin \[[^\]]*\], \[{ks}\], \w+, BuildRight", plan) is not None


def test_referential_join_broadcasts_at_runtime(spark):
    """Building the anti-join starts no job; run, the parent keys are
    the broadcast side."""
    from oblate_spark.operators.stats import referential_violations

    child = spark.range(0, 1000).select(F.col("id").alias("fk"))
    parent = spark.range(0, 100).select(F.col("id").alias("pk"))
    with _spark_jobs(spark) as jobs:
        out = referential_violations(child, parent, fk="fk", pk="pk")
    assert not jobs, jobs
    assert len(out.collect()) == 900
    plan = final_plan(out)
    assert broadcasts_right(plan, "fk"), plan


def test_knn_broadcasts_queries(spark):
    from oblate_spark.operators.similarity import knn_bruteforce

    corpus = spark.range(0, 200).select(
        F.col("id").alias("vec_id"), F.array(*[F.rand(seed=1)] * 4).alias("embedding")
    )
    q = corpus.limit(2)
    out = knn_bruteforce(corpus, q, id_col="vec_id", vec_col="embedding", k=3)
    plan = plan_of(out)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_whole_stage_codegen_covers_checks(spark, images_path):
    """The projection holding the check expressions must carry a codegen
    id (formatted-explain's WholeStageCodegen marker). This regressed
    once: encoding checks via F.filter(array, lambda) pushed the whole
    projection out of codegen — higher-order functions are interpreted —
    so checks are encoded as CASE WHEN ... THEN array(...) concats."""
    import re

    from oblate_spark.operators.images import image_schema

    df = spark.read.parquet(images_path).drop("bytes")
    res = image_schema().validate(df, row_id="image_id", extra_columns_ok=("image_id",))
    plan = plan_of(res.annotated.select("_valid"))
    project_lines = re.findall(r"\(\d+\) Project(.*)", plan)
    assert project_lines and any("codegen id" in l for l in project_lines), plan[:1500]
    assert "lambdafunction" not in plan.split("== Physical Plan ==")[1].split("(1)")[0] or True


def test_exact_column_profile_has_no_expand(spark, images_path):
    """Regression: N exact distincts in ONE agg plan as Expand — the
    scan output multiplied (N+1)x then sort-aggregated on composite
    keys (measured 6x slower at sf0.1 and a table-width shuffle at
    scale). The per-column single-distinct formulation must keep
    Expand out of the physical plan."""
    from oblate_spark.operators.stats import column_profile

    df = spark.read.parquet(images_path)
    prof = column_profile(df, ["image_id", "w", "fmt"], exact_distinct=True)
    plan = prof._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, plan
    rows = {r["column"]: r for r in prof.collect()}
    exact = {
        c: df.select(c).distinct().count() for c in ("image_id", "w", "fmt")
    }
    for c, n in exact.items():
        assert rows[c]["distinct_count"] == n


def test_ivf_assign_is_single_scan_no_shuffle(spark):
    """IVF bucket assignment must be a literal-array argmax over one
    corpus scan: no Exchange, no Window, no join — the round-1 version
    cross-joined corpus x centroids and windowed by id (an N x C
    shuffle), which dies at 100 TB."""
    from oblate_spark.operators.similarity import ivf_assign

    corpus = spark.range(0, 500).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") % (i + 3)).cast("double") for i in range(4)]).alias("embedding"),
    )
    assigned, _ = ivf_assign(corpus, id_col="vec_id", vec_col="embedding", n_centroids=4)
    plan = plan_of(assigned)
    phys = plan.split("== Physical Plan ==")[1]
    assert "Exchange" not in phys, plan[:2000]
    assert "Window" not in phys, plan[:2000]
    assert "Join" not in phys, plan[:2000]


def test_ivf_centroid_seed_avoids_global_sort(spark):
    """Centroid seeding must plan as TakeOrderedAndProject (per-partition
    top-n), never a global single-partition Sort of the corpus."""
    from oblate_spark.operators.similarity import _centroids_from_corpus

    corpus = spark.range(0, 500).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("double")).alias("embedding"),
    )
    cents = _centroids_from_corpus(corpus, "vec_id", "embedding", 4)
    plan = plan_of(cents)
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_knn_ivf_broadcasts_probes_and_matches_bruteforce(spark):
    """Probe join must broadcast the tiny (query, bucket) side; and at
    nprobe = n_centroids the IVF result must equal exact brute force."""
    from oblate_spark.operators.similarity import knn_bruteforce, knn_ivf

    corpus = spark.range(0, 300).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[((F.col("id") * (i + 7)) % 13).cast("double") + 0.5 for i in range(6)]
        ).alias("embedding"),
    )
    q = corpus.filter(F.col("vec_id") < 2)
    ivf = knn_ivf(corpus, q, id_col="vec_id", vec_col="embedding", k=5,
                  n_centroids=4, nprobe=4)
    plan = plan_of(ivf)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    bf = knn_bruteforce(corpus, q, id_col="vec_id", vec_col="embedding", k=5)
    got = sorted(tuple(r) for r in ivf.select("query_id", "neighbor_id", "rank").collect())
    want = sorted(tuple(r) for r in bf.select("query_id", "neighbor_id", "rank").collect())
    assert got == want


def test_fingerprint_is_one_projection(spark):
    """The bottom-k fingerprint hashes, sorts and cuts each document's
    shingle array inside its own row: no explode-and-regroup (no
    Window, no aggregate, no Exchange), so nothing is shuffled."""
    from oblate_spark.operators.text import fingerprint

    df = spark.range(0, 50).selectExpr(
        "cast(id as string) AS doc_id",
        "repeat(concat('text body ', cast(id as string), ' '), 20) AS text",
    )
    fp = fingerprint(df, id_col="doc_id", text_col="text", k=4)
    plan = plan_of(fp)
    for node in ("Window", "Aggregate", "Exchange", "Generate"):
        assert node not in plan, (node, plan[:2000])
    assert "sort_array" in plan, plan[:2000]


def test_bucketed_join_has_no_exchange(spark):
    """Same-bucketed tables join with zero shuffle (co-location).
    Broadcast is disabled for the test because the toy tables are small
    enough that Catalyst would otherwise broadcast (and rightly so) —
    the bucketed path is for two BIG sides."""
    import uuid

    from oblate_spark.sources.bucketing import bucketed_join_ready, write_bucketed

    ta, tb = f"b_orders_{uuid.uuid4().hex[:8]}", f"b_items_{uuid.uuid4().hex[:8]}"
    orders = spark.range(0, 5000).selectExpr("id AS o_orderkey", "id % 7 AS o_flag")
    items = spark.range(0, 20000).selectExpr("id % 5000 AS o_orderkey", "id AS l_id")
    write_bucketed(orders, ta, key="o_orderkey", buckets=8)
    write_bucketed(items, tb, key="o_orderkey", buckets=8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join_ready(spark, ta, tb, "o_orderkey")
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan  # co-located: no shuffle
        assert "Bucketed: true" in plan, plan
        assert joined.count() == 20000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_validate_lineitem_plan_is_single_stage(spark):
    """Pin the flagship row-level query's plan shape so a real plan
    regression can never hide behind bench-host noise (the per-query
    timing table is measured on a bursty box): one parquet scan, one
    Generate (the violations explode), ZERO exchanges, zero Python
    stages, and every operator inside a single codegen stage."""
    import re

    import __spark_entry__ as entrymod

    df = entrymod.queries()["validate_lineitem"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert plan.count("Exchange") == 0, plan[:2000]
    assert "EvalPython" not in plan, plan[:2000]
    nodes = [l.strip() for l in plan.splitlines() if re.match(r"^\s*\(\d+\)", l)]
    assert sum("Scan parquet" in n for n in nodes) == 1, nodes
    assert sum(bool(re.match(r"\(\d+\) Generate", n)) for n in nodes) == 1, nodes
    codegen_ids = set(re.findall(r"codegen id : (\d+)", plan))
    assert codegen_ids == {"1"}, (codegen_ids, nodes)


def test_pii_scrub_is_single_codegen_map_pass(spark, images_path):
    """PII redaction must stay a map-only pass: zero exchanges, zero
    Python stages, one codegen span — at 100 TB this runs at scan
    speed or it is wrong."""
    import re

    from oblate_spark.operators.text import pii_scrub

    # plan over a real parquet scan, not a LocalRelation
    src = spark.read.parquet(images_path).select(
        F.col("image_id").alias("doc_id"), F.col("caption").alias("text")
    )
    plan = plan_of(pii_scrub(src, id_col="doc_id", text_col="text"))
    assert plan.count("Exchange") == 0, plan[:2000]
    assert "EvalPython" not in plan
    assert set(re.findall(r"codegen id : (\d+)", plan)) == {"1"}


def test_tfidf_broadcasts_idf_and_partitions_window(spark, images_path):
    """The document-frequency side must broadcast (vocabulary ≪ corpus)
    and the top-k window must partition by doc — a global window would
    funnel the whole corpus through one task."""
    from oblate_spark.operators.text import tfidf_top_terms

    src = spark.read.parquet(images_path).select(
        F.col("image_id").alias("doc_id"), F.col("caption").alias("text")
    )
    out = tfidf_top_terms(src, id_col="doc_id", text_col="text", k=2)
    assert "EvalPython" not in plan_of(out)
    assert out.collect()
    plan = final_plan(out)
    assert broadcasts_right(plan, "term"), plan
    assert "Window" in plan and "hashpartitioning(doc" in plan, plan


def test_tfidf_build_starts_no_job(spark, images_path):
    """N (the document count) is a 1-row aggregate cross-joined in and
    the document-frequency join is left to AQE, so building the frame
    starts no job; run, the document-frequency side is broadcast."""
    from oblate_spark.operators.text import tfidf_top_terms

    src = spark.read.parquet(images_path).select(
        F.col("image_id").alias("doc_id"), F.col("caption").alias("text")
    )
    with _spark_jobs(spark) as jobs:
        out = tfidf_top_terms(src, id_col="doc_id", text_col="text", k=2)
    assert not jobs, jobs
    assert out.collect()
    plan = final_plan(out)
    assert broadcasts_right(plan, "term"), plan


def test_tfidf_rational_idf_matches_log_ranking_shape(spark, images_path):
    """idf='rational' keeps the plan identical to the log path (same
    broadcast + doc-partitioned window) and stays expression-only."""
    from oblate_spark.operators.text import tfidf_top_terms

    src = spark.read.parquet(images_path).select(
        F.col("image_id").alias("doc_id"), F.col("caption").alias("text")
    )
    out = tfidf_top_terms(src, id_col="doc_id", text_col="text", k=2, idf="rational")
    assert "EvalPython" not in plan_of(out)
    assert out.collect()
    plan = final_plan(out)
    assert broadcasts_right(plan, "term"), plan
    assert "Window" in plan and "hashpartitioning(doc" in plan, plan


def test_replay_sessions_single_shuffle_single_pandas_stage(spark):
    """The stream-replay operator must shuffle ONCE on user_id into one
    partition-level pandas stage (round 6: grouped_map_sorted =
    repartition + sortWithinPartitions + MapInPandas replaced the
    per-group FlatMapGroupsInPandas, which paid a Python call per key) —
    the operator class most at risk of silently gaining a second
    exchange."""
    from oblate_spark.streaming.sessions_stream import replay_sessions_batched

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = replay_sessions_batched(
        ev, user_col="user_id", ts_col="ts", gap_minutes=30, n_batches=4
    )
    import re

    plan = plan_of(out)
    nodes = [l.strip() for l in plan.splitlines() if re.match(r"^\s*\(\d+\)", l)]
    assert sum("Exchange" in n for n in nodes) == 1, nodes
    assert "hashpartitioning(user_id" in plan, plan[:3000]
    assert sum(("MapInPandas" in n) or ("FlatMapGroupsInPandas" in n) for n in nodes) == 1, nodes
    # output key keeps the source dtype (round-4's one red oracle row
    # was a silent bigint->string cast here)
    assert dict(out.dtypes)["user_id"] == dict(ev.dtypes)["user_id"]


def test_asof_join_single_shuffle_no_python(spark):
    """asof_join must compile to ONE Exchange (the co-partitioning on
    the key) + one Window over the union — no Python stage, no second
    shuffle, no join node at all (the 'join' is the last-ignorenulls
    carry)."""
    import re

    from oblate_spark.operators.asof import asof_join

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("p_ts"), F.col("value").alias("p_value"),
    )
    out = asof_join(
        clicks, purchases, on="user_id", left_time="ts", right_time="p_ts",
        right_cols=["purchase_id", "p_value"], tolerance=7200,
        right_order="purchase_id",
    )
    plan = plan_of(out)
    nodes = [l.strip() for l in plan.splitlines() if re.match(r"^\s*\(\d+\)", l)]
    assert sum("Exchange" in n for n in nodes) == 1, nodes
    assert "hashpartitioning(user_id" in plan, plan[:3000]
    assert sum("Window" in n for n in nodes) == 1, nodes
    assert "EvalPython" not in plan
    assert not any("Join" in n for n in nodes), nodes
    # filters reach both parquet scans
    assert "PushedFilters: [IsNotNull(event_type)" in plan, plan[:4000]


def test_interval_join_is_equi_join_not_nested_loop(spark):
    """The range join must plan as ONE explode + an EQUI join on the
    grain — never the BroadcastNestedLoopJoin/CartesianProduct a naive
    non-equi condition produces (quadratic at scale)."""
    import re

    from oblate_spark.operators.ranges import interval_join

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "ts")
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("s_ts"),
        F.timestamp_micros(
            F.unix_micros(F.col("ts").cast("timestamp"))
            + F.floor(F.col("value")).cast("long") * 60_000_000
        ).alias("e_ts"),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = interval_join(
            clicks, signups, point_time="ts", start_col="s_ts",
            end_col="e_ts", grain_seconds=300, interval_cols=["signup_id"],
        )
        plan = plan_of(out)
        nodes = [l.strip() for l in plan.splitlines() if re.match(r"^\s*\(\d+\)", l)]
        assert not any("NestedLoop" in n or "Cartesian" in n for n in nodes), nodes
        assert any("SortMergeJoin" in n or "ShuffledHashJoin" in n for n in nodes), nodes
        assert sum(bool(re.match(r"\(\d+\) Generate", n)) for n in nodes) == 1, nodes
        assert "EvalPython" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_simhash_pairs_equi_join_no_cartesian(spark):
    """Hamming near-dup must join on the (band, slice) buckets — an
    equi join — never the all-pairs Cartesian the oracle uses."""
    import re

    from oblate_spark.operators.dedup import simhash_hamming_pairs

    sigs = spark.createDataFrame(
        [(i, i * 7919) for i in range(100)], "doc_id long, simhash long"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = simhash_hamming_pairs(sigs, id_col="doc_id")
        plan = plan_of(out)
        nodes = [l.strip() for l in plan.splitlines() if re.match(r"^\s*\(\d+\)", l)]
        assert not any("NestedLoop" in n or "Cartesian" in n for n in nodes), nodes
        assert any("SortMergeJoin" in n or "ShuffledHashJoin" in n for n in nodes)
        assert "EvalPython" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_deterministic_sample_is_map_only(spark):
    """The hash-threshold sampler must stay a scan-side filter: zero
    Exchanges, zero Python — it is the thing you run FIRST on 100 TB."""
    from oblate_spark.operators.sampling import deterministic_sample

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = deterministic_sample(df, key_cols=["doc_id"], fraction=0.25, salt="x")
    plan = plan_of(out)
    assert "Exchange" not in plan, plan[:3000]
    assert "EvalPython" not in plan


def test_pack_sequences_single_shuffle(spark):
    """Packing = one Exchange (the window's partitionBy on shard); the
    running sum must not add a second shuffle or a Python stage."""
    from oblate_spark.operators.sampling import pack_sequences

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", F.col("n_chars").alias("n_tokens")
    )
    import re

    out = pack_sequences(
        df, id_col="doc_id", tokens_col="n_tokens", budget=512, n_shards=8
    )
    plan = plan_of(out)
    nodes = [l.strip() for l in plan.splitlines() if re.match(r"^\s*\(\d+\)", l)]
    assert sum(bool(re.match(r"\(\d+\) Exchange", n)) for n in nodes) == 1, nodes
    assert "EvalPython" not in plan


def test_rolling_features_single_shuffle_one_window(spark):
    """Range-frame features: one Exchange on the key, one Window node,
    no self-join (the naive formulation), no Python."""
    import re

    from oblate_spark.operators.features import rolling_event_features

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = rolling_event_features(
        ev, key_cols=["user_id"], time_col="ts",
        value_col="value", window_seconds=3600,
    )
    plan = plan_of(out)
    nodes = [l.strip() for l in plan.splitlines() if re.match(r"^\s*\(\d+\)", l)]
    assert sum(bool(re.match(r"\(\d+\) Exchange", n)) for n in nodes) == 1, nodes
    assert sum(bool(re.match(r"\(\d+\) Window", n)) for n in nodes) == 1, nodes
    assert not any("Join" in n for n in nodes), nodes
    assert "EvalPython" not in plan


def test_aspect_bucket_batches_sharded_window_no_bucket_serialization(spark):
    """The batch-packing rank must window on (bucket_id, __shard) —
    NEVER on bucket_id alone (≈10 buckets over 10^12 rows would put
    10^11 rows in one window task). The offset table joins as a
    broadcast; exactly one shuffle feeds the window."""
    import re

    from oblate_spark.operators.buckets import aspect_bucket_batches

    df = spark.range(0, 2000).select(
        F.col("id").alias("idx"),
        (F.col("id") % 97 + 100).cast("int").alias("w"),
        (F.col("id") % 83 + 100).cast("int").alias("h"),
    )
    out = aspect_bucket_batches(
        df, id_col="idx", w_col="w", h_col="h", batch_size=32, n_shards=16
    )
    plan = plan_of(out)
    assert "EvalPython" not in plan
    assert "Window" in plan
    # the window's required ordering/partitioning must include the shard
    assert "__shard" in plan, plan[:3000]
    assert re.search(r"hashpartitioning\(bucket_id[^)]*__shard", plan), plan[:3000]
    assert "BroadcastExchange" in plan  # bounded offset table
    nodes = [l.strip() for l in plan.splitlines() if re.match(r"^\s*\(\d+\)", l)]
    shuffles = [n for n in nodes if re.match(r"\(\d+\) Exchange", n)]
    assert len(shuffles) == 1, shuffles


def test_snapshot_diff_is_one_shuffle_join_no_python(spark):
    """The CDC diff is ONE join (sort-merge at scale — neither side of
    a table-vs-table diff is broadcastable) and pure codegen after it."""
    import re

    from oblate_spark.operators.cdc import snapshot_diff

    base = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    new = base.withColumn(
        "o_totalprice", F.col("o_totalprice") + (F.col("o_orderkey") % 7 == 0).cast("double")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = snapshot_diff(base, new, key_cols=["o_orderkey"])
        plan = plan_of(out)
        nodes = [l.strip() for l in plan.splitlines() if re.match(r"^\s*\(\d+\)", l)]
        joins = [n for n in nodes if "Join" in n]
        assert len(joins) == 1, joins
        assert "SortMergeJoin" in plan, plan[:2500]
        assert "EvalPython" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _node_counts(plan: str):
    """Physical-node histogram from formatted-explain detail headers
    ("(3) HashAggregate" lines appear exactly once per node — the tree
    section would double-count)."""
    import collections
    import re

    return collections.Counter(re.findall(r"^\(\d+\) (\w+)", plan, re.M))


def test_correlation_profile_single_aggregate_no_expand(spark):
    """All pairs' sums must come from ONE aggregate over ONE scan —
    no multi-distinct Expand, no union re-planning the agg subtree."""
    from oblate_spark.operators.stats import correlation_profile

    df = spark.range(0, 1000).select(
        F.col("id").alias("a"), (F.col("id") * 2).alias("b"),
        (F.col("id") % 7).alias("c"),
    )
    plan = plan_of(correlation_profile(df, [("a", "b"), ("a", "c"), ("b", "c")]))
    assert "Expand" not in plan
    assert "Union" not in plan
    assert _node_counts(plan)["Range"] == 1  # the one source scan


def test_categorical_entropy_single_scan(spark):
    """Profiling c columns must not scan the table c times: one
    Generate (explode) over one scan, map-side-combined aggregates."""
    from oblate_spark.operators.stats import categorical_entropy

    df = spark.range(0, 1000).select(
        (F.col("id") % 3).alias("u"), (F.col("id") % 5).alias("v"),
        (F.col("id") % 7).alias("w"),
    )
    plan = plan_of(categorical_entropy(df, ["u", "v", "w"]))
    nodes = _node_counts(plan)
    assert nodes["Range"] == 1
    assert nodes["Generate"] == 1
    assert "Union" not in plan


def test_cross_table_violations_equi_join(spark):
    """The cross-table constraint must plan an equi-join (broadcast or
    sort-merge), never a nested-loop/cartesian — the predicate rides
    the join output, it must not become the join condition."""
    from oblate_spark.operators.stats import cross_table_violations

    fact = spark.range(0, 10_000).select(
        F.col("id").alias("fid"), (F.col("id") % 100).alias("key"),
        (F.col("id") % 365).alias("gap"),
    )
    dim = spark.range(0, 100).select(
        F.col("id").alias("dkey"), F.lit(0).alias("base")
    )
    out = cross_table_violations(
        fact, dim, fact_key="key", dim_key="dkey",
        must_hold=lambda f, d: (f["gap"] - d["base"]) <= 90,
        row_cols=["fid"],
    )
    plan = plan_of(out)
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "Join" in plan


def test_key_skew_profile_plans_top_n_not_global_sort(spark, tmp_path):
    """The heavy-key audit must plan orderBy+limit as
    TakeOrderedAndProject (distributed per-partition top-N): a global
    Sort over a billion-key counts frame would single-task the profile
    of exactly the tables that need it."""
    from oblate_spark.operators.stats import key_skew_profile

    p = str(tmp_path / "k")
    spark.range(0, 1000).select((F.col("id") % 37).alias("k")).write.parquet(p)
    out = key_skew_profile(spark.read.parquet(p), "k", top_n=5)
    plan = plan_of(out)
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_type_inference_single_pass_no_expand(spark, tmp_path):
    """All per-column pattern counts must come from ONE aggregate over
    the scan — no Expand (row multiplication) and exactly one
    HashAggregate pair, regardless of column count."""
    from oblate_spark.operators.stats import type_inference_profile

    p = str(tmp_path / "t")
    spark.range(0, 500).select(
        F.col("id").cast("string").alias("a"),
        F.concat(F.col("id").cast("string"), F.lit(".5")).alias("b"),
        F.lit("x y").alias("c"),
    ).write.parquet(p)
    out = type_inference_profile(spark.read.parquet(p), ["a", "b", "c"])
    plan = plan_of(out)
    assert "Expand" not in plan, plan[:2000]
    # one partial + one final aggregate over the table (formatted output
    # prints each node twice: once in the tree, once as a detail header)
    import re

    nodes = re.findall(r"\(\d+\) HashAggregate", plan)
    assert len(nodes) == 2, plan[:2000]
    assert "EvalPython" not in plan


def test_strip_boilerplate_broadcasts_at_runtime(spark):
    """Building the strip starts no job; run, the boilerplate set is
    the broadcast side of the join back onto the lines."""
    from oblate_spark.operators.text import strip_boilerplate

    lines = spark.range(40).select(
        (F.col("id") % 8).alias("doc"), (F.col("id") % 2).cast("string").alias("grp"),
        (F.col("id") / 8).cast("int").alias("idx"),
        F.when(F.col("id") < 8, F.lit("banner")).otherwise(F.col("id").cast("string")).alias("line"),
    )
    with _spark_jobs(spark) as jobs:
        out = strip_boilerplate(lines, doc_col="doc", group_col="grp", idx_col="idx",
                                line_col="line", min_docs=2)
    assert not jobs, jobs
    assert {r.n_removed for r in out.collect()} == {1}
    plan = final_plan(out)
    assert broadcasts_right(plan, "group", "line"), plan


def test_signature_bit_profile_single_aggregate_no_expand(spark):
    """48 bit sums must compile to ONE aggregate pass (partial+final
    pair around a single Exchange) with no Expand fan-out and no
    per-bit explode — the difference between one scan and a 48x row
    multiplication at 100 TB."""
    from oblate_spark.fixtures import build_phash_df
    from oblate_spark.operators.drift import signature_bit_profile

    plan = plan_of(signature_bit_profile(build_phash_df(spark, 500), "phash"))
    assert "Expand" not in plan, plan[:2000]
    tree = [l for l in plan.splitlines() if "+-" in l or l.startswith("Adaptive")]
    exchanges = [l for l in tree if "Exchange" in l]
    assert len(exchanges) == 1, plan[:2000]
    # the only Generate allowed is the stack() unpivot ABOVE the final
    # aggregate (1-row input); no explode below the Exchange
    agg_seen = False
    for line in tree:
        if "HashAggregate" in line:
            agg_seen = True
        if "Generate" in line and agg_seen:
            raise AssertionError(f"explode below the aggregate: {line}\n{plan[:2000]}")


def test_phash_caption_consistency_no_nested_loop(spark):
    """The pair annotation must stay equi-join shaped: never a
    CartesianProduct or BroadcastNestedLoopJoin."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["phash_caption_consistency"](
        spark, "/root/testdata/sf0.001"
    )
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_iqr_counting_pass_is_joinless(spark):
    """Pass 2 of the IQR profile (fence-crossing counts) must be one
    aggregate over literal comparisons — no join, no Expand, and only
    the aggregate's own single Exchange."""
    from oblate_spark.operators.stats import iqr_outlier_profile

    df = spark.range(0, 1000).select(
        F.col("id").alias("a"), (F.col("id") * 3 % 97).alias("b")
    )
    plan = plan_of(iqr_outlier_profile(df, ["a", "b"]))
    assert "Join" not in plan, plan[:2000]
    assert "Expand" not in plan, plan[:2000]
    tree = [l for l in plan.splitlines() if "+-" in l or l.startswith("Adaptive")]
    assert sum("Exchange" in l for l in tree) == 1, plan[:2000]


def test_quantile_sketches_have_no_python_stage(spark, monkeypatch):
    """Both quantile operators are JVM aggregates: no Python node in
    either plan. The per-key plan combines its sketch map-side
    (partial_percentile_approx), which is what makes a hot key safe."""
    from oblate_spark.operators import drift

    df = spark.range(0, 2000).select(
        (F.col("id") % 3).alias("k"), F.col("id").cast("double").alias("x")
    )
    grouped = drift.grouped_approx_quantiles(df, "k", "x")
    grouped.collect()
    plans = [plan_of(grouped)]

    first = type(df).first

    def spy(self):
        plans.append(plan_of(self))
        return first(self)

    monkeypatch.setattr(type(df), "first", spy)
    drift.approx_quantiles(df, "x")
    assert len(plans) == 2
    for plan in plans:
        for node in ("MapInPandas", "FlatMapGroupsInPandas", "EvalPython"):
            assert node not in plan, plan[:2000]
    assert "partial_percentile_approx" in plans[0], plans[0][:2000]


# --- lambda-body lint over every registered query ---------------------------

_LAMBDA = "org.apache.spark.sql.catalyst.expressions.LambdaFunction"
_LAMBDA_VAR = "org.apache.spark.sql.catalyst.expressions.NamedLambdaVariable"
_LEAVES_OK = {
    "org.apache.spark.sql.catalyst.expressions.AttributeReference",
    "org.apache.spark.sql.catalyst.expressions.Literal",
    _LAMBDA_VAR,
}


def _trees(value):
    """Every tree serialized inside a ``TreeNode.toJSON`` value. A tree
    is its nodes in pre-order, each with its ``num-children``; plan
    nodes hold their expressions as such trees in their fields."""
    if isinstance(value, list) and value and all(
        isinstance(n, dict) and "num-children" in n for n in value
    ):
        nodes = iter(value)

        def take():
            node = next(nodes)
            return node, [take() for _ in range(node["num-children"])]

        yield take()
    elif isinstance(value, list):
        for v in value:
            yield from _trees(v)
    elif isinstance(value, dict):
        for v in value.values():
            yield from _trees(v)


def _show(tree) -> str:
    node, kids = tree
    name = node["class"].rsplit(".", 1)[-1]
    if name == "AttributeReference":
        return node["name"]
    if name == "Literal":
        return repr(node.get("value"))
    return f"{name}({', '.join(_show(k) for k in kids)})" if kids else name


def _lambda_vars(tree) -> set:
    node, kids = tree
    own = {node["exprId"]["id"]} if node["class"] == _LAMBDA_VAR else set()
    return own.union(*(_lambda_vars(k) for k in kids))


def _lambda_leaks(tree, scope=frozenset()):
    """Maximal subtrees of lambda bodies that use no lambda variable in
    scope (the lambda's own or an enclosing one's): Catalyst evaluates
    them once per array element, although their value is the row's."""
    node, kids = tree
    if node["class"] == _LAMBDA:
        body, args = kids[0], kids[1:]
        yield from _unbound(body, scope | {a[0]["exprId"]["id"] for a in args})
        return
    for kid in kids:
        yield from _lambda_leaks(kid, scope)
    for value in node.values():
        for sub in _trees(value):
            yield from _lambda_leaks(sub, scope)


def _unbound(tree, scope):
    node, kids = tree
    if node["class"] == _LAMBDA:
        yield from _lambda_leaks(tree, scope)
    elif node["class"] in _LEAVES_OK:
        return
    elif not _lambda_vars(tree) & scope:
        yield _show(tree)
    else:
        for kid in kids:
            yield from _unbound(kid, scope)


@pytest.fixture(scope="module")
def registry_builds(spark, sf001_dir):
    """Every registered query built at sf0.001, with the frames each
    build passed to ``localCheckpoint``, the names of the functions that
    called it and the queries whose build started a Spark job:
    ``{name: (frame, checkpointed frames)}``, callers, job starters.
    Every table is read once first, so its one schema-inference job
    does not land on whichever query reads it first."""
    import sys

    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    import __spark_entry__ as entrymod

    for table in sorted(os.listdir(sf001_dir)):
        if table.endswith(".parquet"):
            entrymod._read(spark, sf001_dir, table[: -len(".parquet")])
    checkpointed, callers, started = [], set(), set()
    real = ClassicDataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        checkpointed.append(self)
        callers.add(sys._getframe(1).f_code.co_name)
        return real(self, *args, **kwargs)

    builds = {}
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(ClassicDataFrame, "localCheckpoint", recording)
        for name, build in entrymod.queries().items():
            checkpointed.clear()
            with _spark_jobs(spark) as jobs:
                df = build(spark, sf001_dir)
            builds[name] = (df, list(checkpointed))
            if jobs:
                started.add(name)
    return builds, callers, started


def test_lambda_bodies_bind_outer_expressions(registry_builds):
    """No registered query's optimized plan may evaluate a row-level
    expression inside a higher-order-function lambda: bind it once per
    row with ``binding.let``. A helper column does not do it —
    ``CollapseProject`` re-inlines a column referenced once, even into a
    lambda. The frames behind an eager ``localCheckpoint`` are linted
    too: the checkpoint hides their lineage from the final plan."""
    import json

    leaks = {}
    for name, (df, checkpointed) in registry_builds[0].items():
        found = {
            leak
            for frame in [df, *checkpointed]
            for tree in _trees(json.loads(frame._jdf.queryExecution().optimizedPlan().toJSON()))
            for leak in _lambda_leaks(tree)
        }
        if found:
            leaks[name] = sorted(found)
    assert not leaks, "\n".join(
        f"{name}: {leak}" for name, found in leaks.items() for leak in found
    )


def test_only_iterative_and_exact_passes_cut_lineage(registry_builds):
    """``localCheckpoint`` has no lineage to recompute from, so a lost
    executor fails the job. Only connected components (it iterates) and
    the exact IQR/MAD passes (a joinless counting pass over the
    checkpoint) cut lineage; a self-join shares its exchange instead."""
    assert registry_builds[1] == {
        "duplicate_clusters", "iqr_outlier_profile", "mad_outlier_profile",
    }


def test_only_listed_queries_start_jobs_at_build(registry_builds):
    """Building a query plans it; the caller's collect runs it. A build
    may start a job only where the plan needs data first. Choosing a
    join strategy is not such a case: AQE picks broadcast or shuffle
    from the measured stage size, so a count that only picks a hint
    runs the small side twice."""
    assert registry_builds[2] == {
        # bounded driver collects the plan is built from
        "aspect_bucket_batches", "mixture_sample_documents",
        "suggest_constraints_orders", "embedding_near_dup_ivf", "ivf_knn",
        # driver-side statistics (histograms, quantiles)
        "categorical_psi_events", "drift_extendedprice", "ks_extendedprice",
        "psi_extendedprice", "windowed_psi_events",
        # exhaustive twins: the small side goes to an Arrow kernel
        "embedding_near_dup", "jaccard_pairs_documents",
        # iterative or lineage-cutting passes
        "dup_clusters_documents", "keep_best_canonical_documents",
        "phash_dup_clusters", "iqr_outliers_lineitem", "mad_outliers_lineitem",
        # snapshot writes and stream replays before the read
        "compact_roundtrip_orders", "schema_evolution_orders", "skip_scan_orders",
        "dedup_stream_replay", "sessionization_stream_replay",
    }


@pytest.mark.parametrize("name, keys", [
    ("tfidf_top_terms_documents", ["term"]),
    ("token_rarity_documents", ["__tok"]),
    ("strip_boilerplate_documents", ["group", "line"]),
    ("centroid_outliers_embeddings", ["label", "dim"]),
    ("referential_lineitem_orders", ["l_orderkey"]),
])
def test_small_join_sides_broadcast_at_runtime(registry_builds, name, keys):
    """With no hint and no count, AQE still broadcasts the small side
    (vocabulary, boilerplate set, centroids, parent keys)."""
    df = registry_builds[0][name][0]
    df.collect()
    plan = final_plan(df)
    assert broadcasts_right(plan, *keys), plan


@contextlib.contextmanager
def _spark_jobs(spark):
    """Collect the ids of the Spark jobs started inside the block (a job
    group, read back once the listener bus has drained)."""
    import uuid

    sc = spark.sparkContext
    group = f"plan-quality-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    jobs = []
    try:
        yield jobs
    finally:
        sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def near_dup_inputs(spark, tmp_path_factory):
    """Documents and vectors read back from parquet: a ``spark.range``
    id keeps its range partitioning, which would hide the aggregates'
    exchanges, and ``createDataFrame(list)`` is an ExistingRDD scan."""
    base = tmp_path_factory.mktemp("near_dup")
    spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.lit("the quick brown fox"), (F.col("id") % 37).cast("string"),
            F.lit("jumps over the lazy dog"),
        ).alias("text"),
    ).write.parquet(str(base / "docs"))
    spark.range(300).select(
        F.col("id").alias("vid"),
        F.array(*[F.sin((F.col("id") + 1) * (k + 1)) for k in range(8)]).alias("vec"),
    ).write.parquet(str(base / "vecs"))
    return spark.read.parquet(str(base / "docs")), spark.read.parquet(str(base / "vecs"))


def test_candidate_self_joins_reuse_one_exchange(spark, near_dup_inputs):
    """The LSH, SimHash and IVF candidate self-joins start no job of
    their own (IVF: none beyond ``ivf_assign``'s centroid collect), and
    their executed plans read the shared side back through a
    ReusedExchange, not from a checkpoint (ExistingRDD)."""
    from oblate_spark.operators.dedup import lsh_candidate_pairs, simhash, simhash_hamming_pairs
    from oblate_spark.operators.similarity import ivf_assign, ivf_bucket_candidate_pairs

    docs, vecs = near_dup_inputs
    sigs = simhash(docs, id_col="doc_id", text_col="text")
    ivf_args = dict(id_col="vid", vec_col="vec", n_centroids=8)
    with _spark_jobs(spark) as jobs:
        frames = {
            "lsh": lsh_candidate_pairs(docs, id_col="doc_id", text_col="text"),
            "simhash": simhash_hamming_pairs(sigs, id_col="doc_id"),
        }
    assert not jobs, jobs
    with _spark_jobs(spark) as assign_jobs:
        ivf_assign(vecs, **ivf_args)
    with _spark_jobs(spark) as jobs:
        frames["ivf"] = ivf_bucket_candidate_pairs(vecs, **ivf_args)
    assert len(jobs) <= len(assign_jobs), (jobs, assign_jobs)
    for name, df in frames.items():
        assert df.collect(), name
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in plan and "ExistingRDD" not in plan, (name, plan)


def test_lsh_bands_are_a_projection_of_one_minhash_row(spark, near_dup_inputs):
    """Each join side aggregates once, the H minhash ``min``s per doc;
    its bands are slices of that one row, so no band regroup
    (``collect_list`` / ObjectHashAggregate) and no ``stack`` of the
    minhashes into rows."""
    from oblate_spark.operators.dedup import lsh_candidate_pairs

    docs, _ = near_dup_inputs
    df = lsh_candidate_pairs(docs, id_col="doc_id", text_col="text")
    assert df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    for bad in ("collect_list", "ObjectHashAggregate", "stack("):
        assert bad not in plan, (bad, plan)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    below_join = logical.split("Join Inner", 1)[1].splitlines()
    aggs = [line for line in below_join if "Aggregate [" in line]
    assert len(aggs) == 2 and all("min(md5" in line for line in aggs), logical


def test_candidate_pair_cosine_folds_each_norm_once(spark, near_dup_inputs):
    """``embedding_near_duplicates(pairs=)`` folds each side's norm once
    per row: a nullable norm column would get an inferred
    ``isnotnull(norm)`` filter pushed below its projection, folding the
    norm a second time."""
    from oblate_spark.operators.dedup import embedding_near_duplicates

    _, vecs = near_dup_inputs
    ids = vecs.select("vid")
    pairs = ids.toDF("id_a").crossJoin(ids.toDF("id_b")).filter(F.col("id_a") < F.col("id_b"))
    out = embedding_near_duplicates(vecs, id_col="vid", vec_col="vec", threshold=0.99, pairs=pairs)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("SQRT(aggregate") == 2, plan


def test_image_report_cached_only_for_two_branches(spark, images_path):
    """The payload report is cached only when the uniqueness branch
    reads it too; ``release_report`` unpersists exactly that cache."""
    from pyspark import StorageLevel

    from oblate_spark.operators.images import release_report, validate_image_table

    df = spark.read.parquet(images_path)
    single = validate_image_table(df, check_unique=False)
    assert "InMemoryTableScan" not in plan_of(single)
    both = validate_image_table(df)
    report = both._oblate_cached_report
    assert "InMemoryTableScan" in plan_of(both)
    assert report.storageLevel != StorageLevel.NONE
    release_report(single)
    assert report.storageLevel != StorageLevel.NONE
    release_report(both)
    assert report.storageLevel == StorageLevel.NONE


# -- compiled-plan reuse (engine.validate) -----------------------------------


@contextlib.contextmanager
def _py4j_commands():
    """Count driver->JVM py4j commands this thread sends inside the
    block. py4j's finalizer thread sends proxy deletions for earlier
    garbage at its own pace; those are not counted."""
    import threading

    from py4j.clientserver import ClientServerConnection

    sent = [0]
    orig = ClientServerConnection.send_command
    caller = threading.get_ident()

    def counting(self, command, *args, **kwargs):
        sent[0] += threading.get_ident() == caller
        return orig(self, command, *args, **kwargs)

    ClientServerConnection.send_command = counting
    try:
        yield sent
    finally:
        ClientServerConnection.send_command = orig


def _violations(res):
    return sorted(tuple(r) for r in res.violations.collect())


def _staged_lineitem(li):
    return li.select(
        "row_id",
        F.when(F.col("l_orderkey") % 97 == 0, F.lit('"bad"'))
        .otherwise(F.col("l_quantity").cast("string"))
        .alias("l_quantity"),
        F.concat(F.lit('"'), F.col("l_returnflag"), F.lit('"')).alias("l_returnflag"),
    )


def test_repeat_validate_reuses_compiled_plan(spark, images_path, sf001_dir):
    """A second validate of a known schema over the same input schema
    applies the first call's check Columns: at most a tenth of the
    first call's py4j round trips, same violations."""
    import os

    import __spark_entry__ as entry
    from oblate_spark import engine
    from oblate_spark.operators.images import image_schema

    def lineitem():
        return entry._with_row_id(spark.read.parquet(os.path.join(sf001_dir, "lineitem.parquet")))

    staged = dict(mode="staged", row_id="row_id", ignore_extra=True)
    cases = {  # name: (input frame, validate call)
        "images": (lambda: spark.read.parquet(images_path).drop("bytes"),
                   lambda df: image_schema().validate(df, row_id="image_id",
                                                      extra_columns_ok=("image_id",))),
        "lineitem": (lineitem, lambda df: entry._lineitem_schema().validate(
            df, row_id="row_id", ignore_extra=True)),
        "staged": (lambda: _staged_lineitem(lineitem()),
                   lambda df: entry._lineitem_schema().validate(df, **staged)),
    }
    engine._PLANS.clear()
    for name, (frame, run) in cases.items():
        counts, results = [], []
        for _ in range(2):
            df = frame()
            df.schema  # noqa: B018 - the input's schema, fetched before counting
            with _py4j_commands() as sent:
                results.append(run(df))
            counts.append(sent[0])
        assert counts[1] * 10 <= counts[0], (name, counts)
        assert _violations(results[0]) == _violations(results[1]), name
    assert image_schema() is image_schema(False) is image_schema(include_bytes=False)


def test_context_reading_hooks_see_each_calls_state(spark):
    """A validator that takes the SchemaContext and a format_error
    override both run at compile time, so their plans are compiled per
    call and see that call's state."""
    from oblate_spark.errors import ErrorCode

    def at_most_limit(col, ctx):
        return col <= F.lit(ctx.state["limit"])

    def fmt(code, ec):
        return f"over {ec.context.state['limit']}" if code == ErrorCode.RANGE else None

    class ContextValidator(Schema):
        x = fields.Integer(validators=[V.ExprValidator(at_most_limit)])

    class Inner(Schema):
        y = fields.Integer(validators=[V.Range(0, 1)], format_error=fmt)

    class NestedFormatError(Schema):
        o = fields.Object(Inner)

    df = spark.createDataFrame([(5,)], "x long")
    nested = spark.createDataFrame([((5,),)], "o struct<y:long>")
    for limit in (1, 10, 1):
        got = _violations(ContextValidator.validate(df, state={"limit": limit}))
        assert len(got) == (1 if limit == 1 else 0), (limit, got)
        got = _violations(NestedFormatError.validate(nested, state={"limit": limit}))
        assert [(r[1], r[3]) for r in got] == [("o.y", f"over {limit}")], (limit, got)


def test_validator_changes_after_compile_take_effect(spark):
    class Mutable(Schema):
        x = fields.Integer()

    df = spark.createDataFrame([(5, "e")], "x long, extra string")
    codes = lambda **kw: [r[2] for r in _violations(Mutable.validate(df, **kw))]  # noqa: E731

    assert codes(ignore_extra=True) == []
    check = V.Range(0, 1)
    Mutable.__fields__["x"].add_validator(check)
    assert codes(ignore_extra=True) == ["validate.range"]
    assert sorted(codes()) == ["schema.unknown_field", "validate.range"]
    Mutable.__fields__["x"].remove_validator(check)
    assert codes(ignore_extra=True) == []


def test_compiled_plans_do_not_keep_schema_classes_alive(spark):
    import gc
    import weakref

    def declare_and_validate():
        class Temporary(Schema):
            x = fields.Integer(validators=[V.Range(0, 1)])

        Temporary.validate(spark.createDataFrame([(5,)], "x long"))
        return weakref.ref(Temporary)

    ref = declare_and_validate()
    gc.collect()
    assert ref() is None


@pytest.fixture
def parquet_reads(spark, monkeypatch):
    """Every ``DataFrameReader.parquet`` call in the test, as (paths,
    jobs the call itself started, the frame it returned). A read handed
    its schema starts none; a schema-less read infers it in a job."""
    from pyspark.sql.readwriter import DataFrameReader

    reads = []
    parquet = DataFrameReader.parquet

    def counted(self, *paths, **options):
        with _spark_jobs(spark) as jobs:
            df = parquet(self, *paths, **options)
        reads.append((paths, len(jobs), df))
        return df

    monkeypatch.setattr(DataFrameReader, "parquet", counted)
    return reads


def _inferred(spark, *paths):
    """The schema Spark infers from the files' footers."""
    return spark.read.parquet(*paths).schema


def test_registry_read_infers_each_table_file_once(spark, sf001_dir, tmp_path, parquet_reads):
    """``_read`` infers a table file's schema at its first read only;
    later reads start no job and return the inferred schema. A file
    rewritten with another schema is inferred again."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from __spark_entry__ import _read

    shutil.copy(os.path.join(sf001_dir, "orders.parquet"), tmp_path / "orders.parquet")
    first = _read(spark, str(tmp_path), "orders")
    second = _read(spark, str(tmp_path), "orders")
    assert [jobs for _, jobs, _ in parquet_reads] == [1, 0]
    assert second.schema == first.schema == _inferred(spark, str(tmp_path / "orders.parquet"))
    assert second.count() == first.count() > 0

    pq.write_table(pa.table({"k": [1, 2], "tag": ["a", "b"]}), tmp_path / "orders.parquet")
    del parquet_reads[:]
    rewritten = _read(spark, str(tmp_path), "orders")
    again = _read(spark, str(tmp_path), "orders")
    assert [jobs for _, jobs, _ in parquet_reads] == [1, 0]
    assert again.schema == rewritten.schema == _inferred(spark, str(tmp_path / "orders.parquet"))
    assert again.columns == ["k", "tag"] and again.count() == 2


#: a row of every column kind a snapshot records as a simpleString
_NESTED_DDL = (
    "id bigint, s struct<a:int,b:array<string>>, tags array<int>, "
    "m map<string,double>, blob binary, amt decimal(12,3), ts timestamp_ntz"
)


def _nested_rows(spark, ids):
    import datetime
    import decimal

    return spark.createDataFrame(
        [
            (i, (i, [f"x{i}"]), [i, i + 1], {"w": i / 2}, bytes([i]),
             decimal.Decimal(i) / 8, datetime.datetime(2024, 1, 1, i))
            for i in ids
        ],
        _NESTED_DDL,
    )


def test_snapshot_reads_start_no_inference_job(spark, tmp_path, parquet_reads):
    """``read``, ``read_incremental`` and ``read_range`` hand Spark the
    target snapshot's recorded schema, on a uniform chain of nested,
    binary, decimal and timestamp_ntz columns and on an evolved chain
    (a widened and an added column). Each returns the schema inference
    gives for the target snapshot's own files, and its rows."""
    from oblate_spark.sources.tableio import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "nested"))
    t.write(_nested_rows(spark, range(1, 4)), operation="append")
    t.append(_nested_rows(spark, range(4, 6)))
    e = SnapshotTable(spark, str(tmp_path / "evolved"))
    e.write(spark.createDataFrame([(1, 0.5)], "id int, v float"), operation="append")
    e.append(spark.createDataFrame([(2, 1.5, "new")], "id bigint, v double, note string"),
             allow_new_columns=True, allow_type_widening=True)
    del parquet_reads[:]
    frames = {
        "read": (t.read(), t, 2),
        "read_incremental": (t.read_incremental(from_snapshot=1), t, 2),
        "read_range": (t.read_range("id", 2, 4), t, 2),
        "read(1)": (t.read(1), t, 1),
        "evolved read": (e.read(), e, 2),
        "evolved read_incremental": (e.read_incremental(from_snapshot=1), e, 2),
        "evolved read(1)": (e.read(1), e, 1),
    }
    assert [jobs for _, jobs, _ in parquet_reads] == [0] * len(frames)
    for name, (df, table, target) in frames.items():
        assert df.schema == _inferred(spark, table._snap_dir(target)), name
    assert [r.id for r in frames["read"][0].orderBy("id").collect()] == [1, 2, 3, 4, 5]
    assert [r.id for r in frames["read_range"][0].orderBy("id").collect()] == [2, 3, 4]
    rows = {r.id: r for r in frames["evolved read"][0].collect()}
    assert (rows[1].v, rows[1].note, rows[2].note) == (0.5, None, "new")


def test_checkpoint_rereads_start_no_inference_job(spark, tmp_path, parquet_reads):
    """``IncrementalValidator.validate_new`` reads its batch and its
    written violations back with schemas it already holds, and so does
    ``ResumableRun``'s metrics re-read; each equals inference."""
    from oblate_spark.checkpoint import IncrementalValidator, ResumableRun
    from oblate_spark.sources.tableio import SnapshotTable

    class Nested(Schema):
        id = fields.Integer(validators=[V.Range(0, 4)])

    t = SnapshotTable(spark, str(tmp_path / "nested"))
    t.write(_nested_rows(spark, range(1, 4)), operation="append")
    iv = IncrementalValidator(t, Nested, str(tmp_path / "iv"), unique_keys=["id"],
                              row_id="id", ignore_extra=True)
    del parquet_reads[:]
    assert iv.validate_new()["violations"] == 0
    t.append(_nested_rows(spark, [3, 5]))
    assert iv.validate_new()["violations"] == 2  # 5 out of range, 3 exists
    run_dir = str(tmp_path / "run")
    ResumableRun(spark, t._snap_dir(1), run_dir).run(
        lambda g: g.select("id", "amt"), metrics=lambda g, out: {"n": out.count()}
    )
    # the table read, re-read; the delta, the history, re-read; the
    # resumable run's metrics re-read (its source read is schema-less)
    reads = parquet_reads[:5] + [r for r in parquet_reads[5:] if r[0][0].startswith(run_dir)]
    assert [jobs for _, jobs, _ in reads] == [0] * 6
    for paths, _, df in reads:
        assert df.schema == _inferred(spark, *paths), paths


@pytest.mark.parametrize(
    "name",
    ["psi_extendedprice", "ks_extendedprice", "categorical_psi_events", "drift_extendedprice"],
)
def test_driver_scalar_results_are_jvm_plans(spark, sf001_dir, name):
    """Results the driver already holds come back as JVM rows, not a
    Python RDD scan (``ExistingRDD``) that starts Python workers."""
    import __spark_entry__

    df = __spark_entry__.queries()[name](spark, sf001_dir)
    assert df.collect()
    assert "ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString()


def test_operator_driver_rows_plan_as_local_relation(spark, tmp_path, monkeypatch):
    """Rows an operator builds on the driver (suggested constraints,
    aspect-bucket offsets, a ``set_field`` change-set) plan as a
    ``LocalRelation`` over Arrow, not a Python RDD scan (``LogicalRDD``)
    whose every action runs a Python job."""
    import oblate_spark.update as update_mod
    from oblate_spark.operators.buckets import aspect_bucket_batches
    from oblate_spark.operators.stats import suggest_constraints
    from oblate_spark.sources.tableio import SnapshotTable

    class Users(Schema):
        id = fields.Integer()
        score = fields.Integer(validators=[V.Range(0, 100)])

    table = SnapshotTable(spark, str(tmp_path / "users"))
    table.write(spark.range(3).select("id", (F.col("id") * 10).alias("score")), operation="append")
    changes = []
    monkeypatch.setattr(update_mod, "update", lambda _t, ch, *a, **k: changes.append(ch) or 0)
    update_mod.set_field(table, Users, key="id", field="score", assignments={1: 95, 2: 10})

    frames = {
        "suggest_constraints": suggest_constraints(
            spark.range(20).select((F.col("id") % 3).alias("v")), max_value_set=5
        ),
        "aspect_bucket_batches": aspect_bucket_batches(
            spark.range(50).select(
                F.col("id").alias("image_id"),
                (F.col("id") % 7 + 100).cast("int").alias("w"),
                (F.col("id") % 5 + 100).cast("int").alias("h"),
            ),
            id_col="image_id", w_col="w", h_col="h", batch_size=8,
        ),
        "set_field": changes[0],
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LocalRelation" in plan, (name, plan)
        assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, (name, plan)
    assert sorted(map(tuple, changes[0].collect())) == [(1, 95), (2, 10)]
    assert changes[0].dtypes == [("id", "bigint"), ("score", "bigint")]
