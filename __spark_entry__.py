"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full image+caption table validation
(schema + payload kernel + uniqueness) on a deterministic synthetic
table, combined with row-level validation of sf0.001 lineitem.

``queries()`` / ``oracle_sql()`` — one entry per operator family from
SURVEY.md §2 and the north-rule Axis A/B extensions; oracles are exact
ANSI-SQL twins runnable by DuckDB on the same parquet. Formula parity
notes live next to each oracle.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shared constants (must match between Spark queries and SQL oracles)
# ---------------------------------------------------------------------------

PRICE_LO, PRICE_HI = 900.0, 105000.0
PSI_BINS, KS_BINS = 32, 256
PSI_EPS = 1e-6
SHINGLE_K = 5
NUM_HASHES, ROWS_PER_BAND = 16, 4
JACCARD_THRESHOLD = 0.8
FINGERPRINT_K = 8
SIMHASH_BITS = 48
KNN_K, KNN_QUERIES = 5, 3
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "dans", "que", "pour"],
    "es": ["el", "la", "de", "que", "los", "una", "por", "con", "para", "es"],
}


#: path -> ((st_mtime_ns, st_size), StructType) of every table read so far
_SCHEMAS: dict = {}


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read a table file with the schema inferred at its first read. A
    schema-less ``read.parquet`` starts a footer-inference job (~80 ms
    on 4 cores); one handed the schema starts none. A rewritten file
    changes its stamp and is inferred again."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    st = os.stat(path)
    stamp = (st.st_mtime_ns, st.st_size)
    known = _SCHEMAS.get(path)
    if known is not None and known[0] == stamp:
        return spark.read.schema(known[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (stamp, df.schema)
    return df


@functools.cache
def _lineitem_schema():
    """Row-level plan for lineitem: Range + Literal violations
    (reference semantics: oblate/validate.py:151-205, fields/typings.py:64-102).
    Declared once, so every query reuses its compiled plan."""
    from oblate_spark import Schema, fields
    from oblate_spark import validate as V

    class LineitemRow(Schema):
        l_quantity = fields.Float(validators=[V.Range(1, 49)])
        l_returnflag = fields.Literal("A", "N")

    return LineitemRow


def _scalar(spark: SparkSession, name: str, val: float) -> DataFrame:
    """A one-row, one-double result rounded to 6 decimals, as a JVM
    plan: ``createDataFrame(list)`` would be a Python RDD scan, a Python
    job on every core at each collect."""
    return spark.range(1).select(F.lit(float(f"{val:.6f}")).cast("double").alias(name))


def _with_row_id(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "row_id",
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit("_"),
            F.col("l_linenumber").cast("string"),
        ),
    )


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Validate a 1000-row synthetic image table (Axis A+B) plus sf0.001
    lineitem (row-level reference semantics); return violation counts by
    error code — stable schema (error_code string, cnt bigint)."""
    from oblate_spark import fixtures
    from oblate_spark.operators.images import validate_image_table

    sf_dir = "/root/testdata/sf0.001"
    images = fixtures.build_images_df(spark, 1000)
    image_viol = validate_image_table(images).select("error_code")

    li = _with_row_id(_read(spark, sf_dir, "lineitem"))
    res = _lineitem_schema().validate(li, row_id="row_id", ignore_extra=True)
    li_viol = res.violations.select("error_code")

    return (
        image_viol.unionByName(li_viol)
        .groupBy("error_code")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("error_code")
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_validate_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _with_row_id(_read(spark, sf_dir, "lineitem"))
    res = _lineitem_schema().validate(li, row_id="row_id", ignore_extra=True)
    return res.violations.select("row_id", "field_key", "error_code", "message")


def q_validate_staged_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged (semi-structured) ingestion under the oracle gate: cells
    are JSON-encoded strings; every 97th order's quantity is replaced
    with a JSON string token, exercising the strict-Float cast kernel
    (token classification, load-failure suppressing validators —
    reference oblate/schema.py:267-277)."""
    li = _with_row_id(_read(spark, sf_dir, "lineitem"))
    staged = li.select(
        "row_id",
        F.when(F.col("l_orderkey") % 97 == 0, F.lit('"bad"'))
        .otherwise(F.col("l_quantity").cast("string"))
        .alias("l_quantity"),
        F.concat(F.lit('"'), F.col("l_returnflag"), F.lit('"')).alias("l_returnflag"),
    )
    res = _lineitem_schema().validate(
        staged, mode="staged", row_id="row_id", ignore_extra=True
    )
    return res.violations.select("row_id", "field_key", "error_code", "message")


def q_verdict_summary_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _with_row_id(_read(spark, sf_dir, "lineitem"))
    res = _lineitem_schema().validate(li, row_id="row_id", ignore_extra=True)
    return res.annotated.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("_valid").cast("long")).alias("n_passed"),
        F.sum((~F.col("_valid")).cast("long")).alias("n_failed"),
    )


def q_column_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oblate_spark.operators.stats import column_profile

    li = _read(spark, sf_dir, "lineitem")
    prof = column_profile(
        li, ["l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag"], exact_distinct=True
    )
    return prof.select(
        "column",
        "min_value",
        "max_value",
        F.col("null_rate").cast("double").alias("null_rate"),
        F.col("distinct_count").cast("bigint").alias("distinct_count"),
        F.col("row_count").cast("bigint").alias("row_count"),
    )


def q_duplicate_o_custkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oblate_spark.operators.stats import duplicate_keys

    return duplicate_keys(_read(spark, sf_dir, "orders"), "o_custkey").select(
        "o_custkey", F.col("dup_count").cast("bigint").alias("dup_count")
    )


def q_referential_lineitem_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join referential check; the parent is filtered (o_orderkey %
    7 != 0) so ~1/7 of child rows are genuinely dangling — exercising a
    non-empty orphan path on clean TPC-H-ish data."""
    from oblate_spark.operators.stats import referential_violations

    li = _with_row_id(_read(spark, sf_dir, "lineitem"))
    parent = _read(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 != 0)
    dangling = referential_violations(li, parent, fk="l_orderkey", pk="o_orderkey")
    return dangling.select("row_id", "l_orderkey")


def q_histogram_extendedprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oblate_spark.operators.drift import fixed_width_histogram

    li = _read(spark, sf_dir, "lineitem")
    h = fixed_width_histogram(li, "l_extendedprice", lo=PRICE_LO, hi=PRICE_HI, nbins=PSI_BINS)
    return h.select(F.col("bin").cast("bigint").alias("bin"), F.col("cnt").cast("bigint").alias("cnt"))


def _drift_stats(spark: SparkSession, sf_dir: str) -> dict:
    """PSI and KS from ONE scan of lineitem (single-pass composite-bin
    aggregation; round 1 scanned the fact table twice per statistic)."""
    from oblate_spark.operators.drift import drift_statistics_flagged

    li = _read(spark, sf_dir, "lineitem")
    return drift_statistics_flagged(
        li,
        col="l_extendedprice",
        expected_cond=F.col("l_returnflag") == "A",
        actual_cond=F.col("l_returnflag") == "N",
        lo=PRICE_LO,
        hi=PRICE_HI,
        nbins_psi=PSI_BINS,
        nbins_ks=KS_BINS,
        eps=PSI_EPS,
    )


def q_psi_extendedprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    val = _drift_stats(spark, sf_dir)["psi"]
    return _scalar(spark, "psi", val)


def q_ks_extendedprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    val = _drift_stats(spark, sf_dir)["ks"]
    return _scalar(spark, "ks", val)


def q_categorical_psi_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical drift (event-type mix) between even- and odd-user
    cohorts — the format-mix check of the north rule, exercised on the
    driver's events table."""
    from oblate_spark.operators.drift import categorical_psi_flagged

    ev = _read(spark, sf_dir, "events")
    val = categorical_psi_flagged(
        ev,
        col="event_type",
        expected_cond=F.col("user_id") % 2 == 0,
        actual_cond=F.col("user_id") % 2 == 1,
        eps=PSI_EPS,
    )
    return _scalar(spark, "psi", val)


def q_exact_dup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup demonstrated on documents ∪ documents (the base table
    has no exact dups, so the doubled table makes every doc a group of 2)."""
    from oblate_spark.operators.dedup import exact_duplicates

    d = _read(spark, sf_dir, "documents")
    doubled = d.unionByName(d)
    out = exact_duplicates(doubled, id_col="doc_id", text_col="text")
    return out.select(
        "doc_id", "content_hash", F.col("group_size").cast("bigint").alias("group_size")
    ).distinct()


def q_minhash_bands_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oblate_spark.operators.dedup import lsh_band_signatures, minhash_signatures

    d = _read(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, id_col="doc_id", text_col="text", k=SHINGLE_K, num_hashes=NUM_HASHES)
    bands = lsh_band_signatures(sigs, id_col="doc_id", rows_per_band=ROWS_PER_BAND)
    return bands.select("doc_id", F.col("band").cast("bigint").alias("band"), "band_sig")


def q_lsh_candidates_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oblate_spark.operators.dedup import lsh_candidate_pairs

    d = _read(spark, sf_dir, "documents")
    return lsh_candidate_pairs(
        d, id_col="doc_id", text_col="text", k=SHINGLE_K, num_hashes=NUM_HASHES, rows_per_band=ROWS_PER_BAND
    )


def q_jaccard_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oblate_spark.operators.dedup import ngram_jaccard_pairs

    d = _read(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, id_col="doc_id", text_col="text", threshold=JACCARD_THRESHOLD)
    return pairs.select(
        "id_a", "id_b", F.round(F.col("jaccard").cast("double"), 6).alias("jaccard")
    )


def q_token_count_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oblate_spark.operators.text import token_count

    d = _read(spark, sf_dir, "documents")
    out = token_count(d, id_col="doc_id", text_col="text")
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )


def q_language_id_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oblate_spark.operators.text import language_id

    d = _read(spark, sf_dir, "documents")
    return language_id(d, id_col="doc_id", text_col="text").select("doc_id", "lang_pred")


def q_quality_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oblate_spark.operators.text import quality_score

    d = _read(spark, sf_dir, "documents")
    out = quality_score(d, id_col="doc_id", text_col="text")
    return out.select(
        "doc_id",
        F.round(F.col("len_score").cast("double"), 6).alias("len_score"),
        F.round(F.col("punct_ratio").cast("double"), 6).alias("punct_ratio"),
        F.round(F.col("stop_ratio").cast("double"), 6).alias("stop_ratio"),
        F.round(F.col("quality").cast("double"), 6).alias("quality"),
    )


def q_fingerprint_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oblate_spark.operators.text import fingerprint

    d = _read(spark, sf_dir, "documents")
    return fingerprint(d, id_col="doc_id", text_col="text", k=FINGERPRINT_K, shingle_len=SHINGLE_K)


def q_top_tokens_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 tokens by frequency (vocabulary head), deterministic
    tie-break; planned as TakeOrderedAndProject. The approximate
    space-saving variant (operators.freq.approx_heavy_hitters) is the
    unbounded-cardinality path, property-tested in tests/."""
    from oblate_spark.operators.freq import top_k_tokens

    d = _read(spark, sf_dir, "documents")
    out = top_k_tokens(d, text_col="text", k=20)
    return out.select("token", F.col("cnt").cast("bigint").alias("cnt"))


def q_simhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oblate_spark.operators.dedup import simhash

    d = _read(spark, sf_dir, "documents")
    return simhash(d, id_col="doc_id", text_col="text", bits=SIMHASH_BITS)


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs over a doubled embeddings
    table (the base table has no near-dups at 0.999; doubling guarantees
    each vector pairs with its copy at cosine 1.0)."""
    from oblate_spark.operators.dedup import embedding_near_duplicates

    emb = _read(spark, sf_dir, "embeddings")
    doubled = emb.unionByName(
        emb.select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding", "label")
    )
    out = embedding_near_duplicates(
        doubled.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")),
        id_col="vec_id", vec_col="embedding", threshold=0.9999,
    )
    return out.select("id_a", "id_b", F.round(F.col("cosine").cast("double"), 6).alias("cosine"))


def q_jaccard_on_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-path composition: LSH candidates feed the exact Jaccard
    verifier — quadratic work collapses to candidate pairs only."""
    from oblate_spark.operators.dedup import lsh_candidate_pairs, ngram_jaccard_pairs

    d = _read(spark, sf_dir, "documents")
    cand = lsh_candidate_pairs(
        d, id_col="doc_id", text_col="text", k=SHINGLE_K,
        num_hashes=NUM_HASHES, rows_per_band=ROWS_PER_BAND,
    ).select(F.col("id_a"), F.col("id_b"))
    pairs = ngram_jaccard_pairs(
        d, id_col="doc_id", text_col="text", threshold=0.0, pairs=cand
    )
    return pairs.select(
        "id_a", "id_b", F.round(F.col("jaccard").cast("double"), 6).alias("jaccard")
    )


def q_dup_clusters_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: LSH candidate pairs -> connected components
    (hash-min label propagation) -> (doc_id, cluster_id). The step
    between "pairs found" and "keep one doc per group"."""
    from oblate_spark.operators.dedup import duplicate_clusters, lsh_candidate_pairs

    d = _read(spark, sf_dir, "documents")
    cand = lsh_candidate_pairs(
        d, id_col="doc_id", text_col="text", k=SHINGLE_K,
        num_hashes=NUM_HASHES, rows_per_band=ROWS_PER_BAND,
    )
    return duplicate_clusters(cand).select(F.col("id").alias("doc_id"), "cluster_id")


def q_sessionization_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oblate_spark.operators.sessions import session_stats

    ev = _read(spark, sf_dir, "events")
    return session_stats(ev, user_col="user_id", ts_col="ts", gap_minutes=30)


def q_sessionization_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming operator's disorder contract, oracle-visible:
    replay events as 4 time-ordered microbatches through fold_sessions
    (the exact applyInPandasWithState kernel), carry state across batch
    boundaries, flush the final open session — and aggregate to the
    same per-user stats the BATCH operator produces. The oracle is the
    batch sessionization SQL, so stream == batch is hash-checked."""
    from oblate_spark.streaming.sessions_stream import replay_sessions_batched

    ev = _read(spark, sf_dir, "events")
    sessions = replay_sessions_batched(
        ev, user_col="user_id", ts_col="ts", gap_minutes=30, n_batches=4
    )
    return sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.max("n_events").cast("bigint").alias("max_session_events"),
    )


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oblate_spark.operators.similarity import knn_bruteforce

    emb = _read(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < KNN_QUERIES)
    out = knn_bruteforce(emb, q, id_col="vec_id", vec_col="embedding", k=KNN_K)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("bigint").alias("rank")
    )


def q_events_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-shaped batch query: tumbling-window counts. The same
    expression runs under readStream + watermark (oblate_spark.streaming)."""
    ev = _read(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_start"),
        F.col("event_type"),
    ).agg(F.count(F.lit(1)).alias("cnt"))


# -- rows-only queries (no SQL-expressible oracle; driver checks rows>=0) ----


def q_image_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Axis-A flagship: violation counts by code on a 2000-row synthetic
    image table (deterministic; golden counts asserted in tests/)."""
    from oblate_spark import fixtures
    from oblate_spark.operators.images import validate_image_table

    images = fixtures.build_images_df(spark, 2000)
    return (
        validate_image_table(images)
        .groupBy("error_code")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("error_code")
    )


def q_audio_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal Axis-A, audio: REAL RIFF/WAVE PCM decode (own
    pure-numpy codec) over a 500-clip deterministic fixture; per-clip
    decode outcome + sample facts match the closed-form manifest
    (fixtures.audio_manifest_for_index)."""
    from oblate_spark import fixtures
    from oblate_spark.operators.multimodal import audio_payload_report

    clips = fixtures.build_audio_df(spark, 500)
    rep = audio_payload_report(clips)
    return rep.select(
        "clip_id", "decode_ok",
        F.col("rate").cast("int").alias("rate"),
        F.col("n_samples").cast("bigint").alias("n_samples"),
        F.col("n_channels").cast("int").alias("n_channels"),
    )


def q_video_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal Axis-A, video: REAL YUV4MPEG2 demux (own pure-numpy
    Y4M codec, functions/videocodecs.py) over a 500-clip deterministic
    fixture; per-clip decode outcome + stream facts (dims, frame count,
    frame rate, colorspace) match the closed-form manifest
    (fixtures.video_manifest_for_index)."""
    from oblate_spark import fixtures
    from oblate_spark.operators.multimodal import video_payload_report

    clips = fixtures.build_video_df(spark, 500)
    rep = video_payload_report(clips)
    return rep.select(
        "video_id", "decode_ok",
        F.col("w").cast("int").alias("w"),
        F.col("h").cast("int").alias("h"),
        F.col("n_frames").cast("bigint").alias("n_frames"),
        F.col("fps_num").cast("int").alias("fps_num"),
        F.col("fps_den").cast("int").alias("fps_den"),
        "colorspace",
    )


def q_video_frame_sample_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling facts over the same video fixture: which frame
    indices the uniform sampler picks per clip (REAL demux for good
    clips, hash-stub fallback for malformed ones — visible via
    ``is_stub``). Closed-form: good clips sample
    min(total-1, k*total//4) for k in 0..3; stub rows carry k itself."""
    from oblate_spark import fixtures
    from oblate_spark.operators.multimodal import video_frame_sample

    clips = fixtures.build_video_df(spark, 500)
    frames = video_frame_sample(
        clips, bytes_col="payload", id_col="video_id", n_frames=4
    )
    return frames.select(
        "video_id", F.col("frame_index").cast("int").alias("frame_index"), "is_stub"
    )


def q_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: deterministic IVF (md5-seeded centroids, literal-
    array argmax assignment, nprobe bucket probing) — fully expressible
    in SQL, so it carries a DuckDB oracle."""
    from oblate_spark.operators.similarity import knn_ivf

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < KNN_QUERIES)
    out = knn_ivf(emb, q, id_col="vec_id", vec_col="embedding", k=KNN_K, n_centroids=8, nprobe=3)
    return out.select("query_id", "neighbor_id", F.col("rank").cast("bigint").alias("rank"))


def q_embedding_near_dup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN x dedup composition (scale path): IVF bucket blocking
    generates candidate pairs; exact cosine verifies them — mirroring
    jaccard_on_lsh_candidates for embeddings."""
    from oblate_spark.operators.dedup import embedding_near_duplicates
    from oblate_spark.operators.similarity import ivf_bucket_candidate_pairs

    emb = _read(spark, sf_dir, "embeddings")
    doubled = emb.unionByName(
        emb.select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding", "label")
    ).select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    cand = ivf_bucket_candidate_pairs(
        doubled, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    out = embedding_near_duplicates(
        doubled, id_col="vec_id", vec_col="embedding", threshold=0.9999, pairs=cand
    )
    return out.select("id_a", "id_b", F.round(F.col("cosine").cast("double"), 6).alias("cosine"))


def q_tdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketched quantiles (Spark's ``percentile_approx`` at
    ``drift.ACCURACY``, the sketch of ``drift.approx_quantiles``; the
    query keeps its historical t-digest name), oracle-gated by tolerance
    booleans: the
    sketch's estimate must sit within 0.5% of the column's value range of
    the EXACT quantile (computed by Spark's sort-based ``percentile``).
    The tolerance comparison runs entirely Spark-side; the DuckDB oracle
    contributes the EXPECTED-VERDICT constant rows (quantile, true) — a
    golden-expected gate, not an independent recomputation (DuckDB never
    sees the sketch values, so it cannot derive the booleans itself). A
    drifting sketch flips a boolean and breaks the hash match."""
    from oblate_spark.operators.drift import ACCURACY

    li = _read(spark, sf_dir, "lineitem")
    probs = [0.25, 0.5, 0.75]
    price = F.col("l_extendedprice").cast("double")
    # one aggregate row; the verdicts are element-wise and the rows come
    # out of inline(), so no Python job builds the result
    agg = li.select(
        F.percentile_approx(price, probs, ACCURACY).alias("est"),
        F.percentile(price, F.array(*[F.lit(q) for q in probs])).alias("exact"),
        (F.lit(0.005) * (F.max(price) - F.min(price))).alias("eps"),
    )
    within = [
        F.abs(F.element_at("est", i) - F.element_at("exact", i)) <= F.col("eps")
        for i in range(1, len(probs) + 1)
    ]
    return agg.select(
        F.inline(
            F.arrays_zip(
                F.array(*[F.lit(q) for q in probs]).alias("quantile"),
                F.array(*within).alias("within_bounds"),
            )
        )
    )


def q_fd_violations_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-column functional-dependency check: order keys whose line
    items span more than one return flag (the FD l_orderkey ->
    l_returnflag is false in TPC-H — plenty of violations).
    One groupBy with a single exact distinct; NULL counts as a value."""
    from oblate_spark.operators.stats import functional_dependency_violations

    li = _read(spark, sf_dir, "lineitem")
    out = functional_dependency_violations(li, "l_orderkey", "l_returnflag")
    return out.select(
        "l_orderkey",
        F.col("n_rhs_values").cast("bigint").alias("n_rhs_values"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
    )


def q_null_implication_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-column completeness contract over documents with
    deterministic synthetic nulls (the raw corpus has none): lang is
    nulled for every 7th doc, source for every 14th; a doc with a null
    lang but non-null source violates 'if lang IS NULL then source
    must be NULL'."""
    from oblate_spark.operators.stats import null_implication_violations

    d = _read(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.lit(None)).otherwise(F.col("lang")).alias("lang"),
        F.when(F.col("doc_id") % 14 == 0, F.lit(None)).otherwise(F.col("source")).alias("source"),
    )
    return null_implication_violations(
        aug, when_null="lang", then_null="source", row_id="doc_id"
    )


ASOF_TOLERANCE_SEC = 7200  # 2h attribution window


def q_asof_clicks_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward, 2h tolerance): every click event gets the
    most recent purchase by the same user at-or-before it. Right-side
    ties on (user_id, ts) break toward max purchase_id on both sides
    (operator: right_order; oracle: pre-dedup before ASOF JOIN).
    Tolerance compares exact unix_micros BIGINTs in both engines."""
    from oblate_spark.operators.asof import asof_join

    ev = _read(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    out = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_time="ts",
        right_time="p_ts",
        right_cols=["purchase_id", "p_value"],
        tolerance=ASOF_TOLERANCE_SEC,
        right_order="purchase_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("purchase_id").cast("bigint").alias("purchase_id"),
        F.col("p_value").cast("double").alias("p_value"),
    )


def q_interval_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grain-bucketed range join, keyless (pure temporal containment —
    the shape where a naive non-equi join planner falls back to a
    BroadcastNestedLoopJoin): every click inside any signup's
    [ts, ts + floor(value) minutes] window. End bounds are exact
    integer microseconds (floor of the double minutes value) in both
    engines; grain_seconds only shapes the plan, never the result."""
    from oblate_spark.operators.ranges import interval_join

    ev = _read(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "ts")
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("s_ts"),
        F.timestamp_micros(
            F.unix_micros(F.col("ts").cast("timestamp"))
            + F.floor(F.col("value")).cast("long") * 60_000_000
        ).alias("e_ts"),
    )
    out = interval_join(
        clicks,
        signups,
        point_time="ts",
        start_col="s_ts",
        end_col="e_ts",
        grain_seconds=300,
        interval_cols=["signup_id"],
    )
    return out.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("signup_id").cast("bigint").alias("signup_id"),
    )


def q_repetition_signals_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals; every doc is augmented with a
    deterministic boilerplate tail (doc_id % 5 copies of a repeated
    bigram) so the top-fraction columns gate real discrimination, not
    near-constant values. All ratios are exact-integer quotients —
    bit-identical across engines without rounding."""
    from oblate_spark.operators.text import repetition_signals

    d = _read(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.repeat(F.lit(" spam ham"), (F.col("doc_id") % 5).cast("int")),
        ).alias("text"),
    )
    return repetition_signals(aug, id_col="doc_id", text_col="text")


def q_approx_distinct_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketch gate (the 100 TB profiling path): per column,
    approx_count_distinct must land within max(20% of exact, 2) of the
    exact single-distinct count. Oracle emits the exact counts + TRUE —
    the same tolerance-boolean pattern as the quantile-sketch gates."""
    from oblate_spark.operators.stats import column_profile

    cols = ["l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag"]
    li = _read(spark, sf_dir, "lineitem").select(*cols)
    ap = column_profile(li, cols, exact_distinct=False, approx_rsd=0.05).select(
        "column", F.col("distinct_count").alias("approx")
    )
    ex = column_profile(li, cols, exact_distinct=True).select(
        "column", F.col("distinct_count").alias("exact")
    )
    j = ex.join(ap, "column")
    tol = F.greatest(F.col("exact").cast("double") * 0.2, F.lit(2.0))
    return j.select(
        F.col("column").alias("col_name"),
        F.col("exact").cast("bigint").alias("exact_distinct"),
        (
            F.abs(F.col("approx").cast("double") - F.col("exact").cast("double"))
            <= tol
        ).alias("within_tol"),
    )


def q_simhash_near_dup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming near-dup pairs over 48-bit simhashes via bit-sliced LSH
    (4 bands of 12 bits; bands > max_distance, so the banded join is
    provably exhaustive and the all-pairs SQL oracle is the exact
    ground truth, not an approximation being excused)."""
    from oblate_spark.operators.dedup import simhash, simhash_hamming_pairs

    d = _read(spark, sf_dir, "documents")
    sigs = simhash(d, id_col="doc_id", text_col="text", bits=SIMHASH_BITS)
    out = simhash_hamming_pairs(
        sigs, id_col="doc_id", bits=SIMHASH_BITS, bands=4, max_distance=3
    )
    return out.select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        F.col("hamming").cast("bigint").alias("hamming"),
    )


NGRAM_CONTAM_N = 4  # corpus vocabulary is tiny; 13-grams would never collide


def q_ngram_contamination_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: n-gram overlap of every document
    against a 'benchmark' slice (doc_id % 20 == 0 stands in for the
    eval corpus). Counts are exact; the fraction is one IEEE division."""
    from oblate_spark.operators.text import ngram_contamination

    d = _read(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 20 == 0)
    out = ngram_contamination(
        d, bench, id_col="doc_id", text_col="text", n=NGRAM_CONTAM_N
    )
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.col("n_contaminated").cast("bigint").alias("n_contaminated"),
        F.col("contamination").cast("double").alias("contamination"),
    )


PACK_BUDGET = 256
PACK_SHARDS = 4


def q_pack_sequences_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: shard by doc_id % 4, order by
    doc_id, cumulative token offsets -> sequence ids. All BIGINTs."""
    from oblate_spark.operators.sampling import pack_sequences
    from oblate_spark.operators.text import token_count

    d = _read(spark, sf_dir, "documents")
    tc = token_count(d, id_col="doc_id", text_col="text").select(
        "doc_id", "n_tokens"
    )
    out = pack_sequences(
        tc,
        id_col="doc_id",
        tokens_col="n_tokens",
        budget=PACK_BUDGET,
        n_shards=PACK_SHARDS,
    )
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("tokens").cast("bigint").alias("tokens"),
        F.col("shard").cast("bigint").alias("shard"),
        F.col("seq_id").cast("bigint").alias("seq_id"),
        F.col("seq_offset").cast("bigint").alias("seq_offset"),
    )


SAMPLE_SALT = "r5"
SAMPLE_STRATA = {"en": 0.5, "de": 0.25}
SAMPLE_DEFAULT_FRACTION = 0.1


def q_deterministic_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5-threshold stratified sampling: keep 50% of 'en', 25% of
    'de', 10% otherwise — decided per row by a hash, so the sample is
    identical across engines, reruns and partitionings (df.sample is
    none of those)."""
    from oblate_spark.operators.sampling import deterministic_sample

    d = _read(spark, sf_dir, "documents")
    out = deterministic_sample(
        d,
        key_cols=["doc_id"],
        fraction=SAMPLE_DEFAULT_FRACTION,
        strata_fractions=SAMPLE_STRATA,
        strata_col="lang",
        salt=SAMPLE_SALT,
    )
    return out.select(F.col("doc_id").cast("bigint").alias("doc_id"), "lang")


def q_dedup_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-dedup contract made oracle-visible: first click per
    user via the streaming fold kernel replayed over 4 time-ordered
    microbatch slices with state carried across boundaries. Without
    retention the result is split-invariant and equals SQL's
    row_number()=1 — which is exactly what the oracle asserts."""
    from oblate_spark.streaming.dedup_stream import replay_dedup_batched

    ev = _read(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    out = replay_dedup_batched(
        ev, key_col="user_id", id_col="event_id", ts_col="ts", n_batches=4
    )
    return out.select(
        F.col("key").cast("bigint").alias("user_id"),
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("first_us").cast("bigint").alias("first_us"),
    )


DUP_SHINGLE_N = 6  # tiny vocabulary: 6-grams separate planted dups from chance
CHUNK_TOKENS, CHUNK_STRIDE = 16, 12  # docs are ~30-40 tokens -> 3-4 chunks


def q_dup_shingle_fraction_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-shingle fraction (RefinedWeb/Gopher
    dups_frac): share of each doc's distinct 6-gram shingles that occur
    in >= 1 other document. Exact BIGINT ratio — hash-exact oracle."""
    from oblate_spark.operators.text import dup_shingle_fraction

    d = _read(spark, sf_dir, "documents")
    return dup_shingle_fraction(
        d, id_col="doc_id", text_col="text", n=DUP_SHINGLE_N
    ).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_shingles",
        "n_dup",
        "dup_fraction",
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token LM training windows with overlap (chunk 16, stride
    12): map-only explode+slice, zero shuffles. The chunk text itself is
    in the output, so the oracle hash pins the exact window contents."""
    from oblate_spark.operators.text import chunk_documents

    d = _read(spark, sf_dir, "documents")
    return chunk_documents(
        d,
        id_col="doc_id",
        text_col="text",
        chunk_tokens=CHUNK_TOKENS,
        stride=CHUNK_STRIDE,
    ).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "chunk_id",
        "chunk_text",
        "n_tokens",
    )


def q_label_centroids_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroids in exact integer arithmetic
    (floor-quantized micro-components, BIGINT sums, one double division)
    — float avg() could never hash-match across engines; this does."""
    from oblate_spark.operators.similarity import label_centroids

    e = _read(spark, sf_dir, "embeddings")
    return label_centroids(e, vec_col="embedding", label_col="label").select(
        F.col("label").cast("int").alias("label"),
        "dim",
        "sum_q",
        F.col("n").cast("bigint").alias("n"),
        "centroid",
    )


SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}
SPLIT_SALT = "split5"


def q_group_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: all docs of a source land in
    the same split via md5(salt||source) against cumulative thresholds
    (map-only, layout-stable — randomSplit is neither)."""
    from oblate_spark.operators.sampling import group_split

    d = _read(spark, sf_dir, "documents")
    out = group_split(
        d, group_cols=["source"], fractions=SPLIT_FRACTIONS, salt=SPLIT_SALT
    )
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "source", "split"
    )


def q_keep_best_canonical_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical per duplicate cluster: LSH pairs ->
    connected components -> keep the highest-quality member (ties: min
    doc_id). The full 'dedup policy' pipeline end-to-end."""
    from oblate_spark.operators.dedup import (
        duplicate_clusters,
        keep_best_canonical,
        lsh_candidate_pairs,
    )
    from oblate_spark.operators.text import quality_score

    d = _read(spark, sf_dir, "documents")
    cand = lsh_candidate_pairs(
        d, id_col="doc_id", text_col="text", k=SHINGLE_K,
        num_hashes=NUM_HASHES, rows_per_band=ROWS_PER_BAND,
    )
    clusters = duplicate_clusters(cand)
    scores = quality_score(d, id_col="doc_id", text_col="text").select(
        "doc_id", "quality"
    )
    out = keep_best_canonical(
        clusters, scores, id_col="doc_id", score_col="quality"
    )
    return out.select(
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        F.col("canonical_id").cast("bigint").alias("canonical_id"),
        "canonical_score",
        "n_members",
    )


MIXTURE_WEIGHTS = {"en": 0.4, "de": 0.3, "es": 0.3}
MIXTURE_SALT = "mix5"


def q_mixture_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture rebalance: downsample abundant languages so the
    kept set is 40% en / 30% de / 30% es (other langs dropped). The
    per-stratum thresholds derive from one bounded groupBy-count; the
    oracle recomputes them with the identical fixed-order double math
    and printf('%08x') hexing."""
    from oblate_spark.operators.sampling import mixture_sample

    d = _read(spark, sf_dir, "documents")
    out = mixture_sample(
        d,
        key_cols=["doc_id"],
        strata_col="lang",
        target_weights=MIXTURE_WEIGHTS,
        salt=MIXTURE_SALT,
    )
    return out.select(F.col("doc_id").cast("bigint").alias("doc_id"), "lang")


ROLLING_WINDOW_SEC = 3600


def q_rolling_event_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-hour per-user window features for every event; integer
    microsecond frames and integer cents make the range-frame window
    oracle-exact (double sums would be accumulation-order-dependent)."""
    from oblate_spark.operators.features import rolling_event_features

    ev = _read(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = rolling_event_features(
        ev,
        key_cols=["user_id"],
        time_col="ts",
        value_col="value",
        window_seconds=ROLLING_WINDOW_SEC,
    )
    return out.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("t_us").cast("bigint").alias("t_us"),
        F.col("w_count").cast("bigint").alias("w_count"),
        F.col("w_sum_cents").cast("bigint").alias("w_sum_cents"),
        F.col("w_max_cents").cast("bigint").alias("w_max_cents"),
    )


def q_pii_scrub_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over documents augmented with deterministic
    synthetic PII (the raw corpus has none, which would gate nothing):
    each doc gains an email, an IPv4 and a phone number derived from
    its doc_id; the scrub must redact all three (byte-identical
    clean_text vs the oracle's RE2 twin) and count them."""
    from oblate_spark.operators.text import pii_scrub

    d = _read(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" reach user"), F.col("doc_id").cast("string"),
            F.lit("@mail.example from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 call +1 555 010 "),
            (1000 + F.col("doc_id") % 9000).cast("string"),
        ).alias("text"),
    )
    out = pii_scrub(aug, id_col="doc_id", text_col="text")
    return out.select(
        "doc_id", "clean_text",
        F.col("n_email").cast("bigint").alias("n_email"),
        F.col("n_ipv4").cast("bigint").alias("n_ipv4"),
        F.col("n_phone").cast("bigint").alias("n_phone"),
    )


def q_tfidf_top_terms_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document, ``idf='rational'``: the score
    tf*N/df is rounded half-up to 6 decimals in exact integer
    arithmetic, so scores and the (score desc, term asc) ranking are
    bit-identical in any IEEE engine — the default ln-based scoring
    depends on libm agreeing to the last ulp, which made this oracle
    gate potentially flaky on other corpora (round-4 advice)."""
    from oblate_spark.operators.text import tfidf_top_terms

    d = _read(spark, sf_dir, "documents")
    out = tfidf_top_terms(d, id_col="doc_id", text_col="text", k=3, idf="rational")
    return out.select(
        "doc_id", "term", "score", F.col("rank").cast("int").alias("rank")
    )


def q_grouped_tdigest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-KEY sketched quantiles (``drift.grouped_approx_quantiles``:
    ``percentile_approx`` per group, combined map-side; the query keeps
    its historical t-digest name), oracle-gated by
    tolerance booleans per (event_type, quantile): the sketch estimate
    must sit within 1% of the group's value range of the exact per-group
    percentile. Same golden-expected gate as tdigest_quantiles."""
    from oblate_spark.operators.drift import grouped_approx_quantiles

    ev = _read(spark, sf_dir, "events")
    probs = (0.25, 0.5, 0.75)
    sk = grouped_approx_quantiles(ev, "event_type", "value", probs)
    exact = ev.groupBy(F.col("event_type").cast("string").alias("key")).agg(
        F.expr("percentile(value, array(0.25, 0.5, 0.75))").alias("exact"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.count("value").alias("n"),
    )
    ex = exact.select(
        "key",
        "lo",
        "hi",
        "n",
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(float(p)) for p in probs]).alias("q"),
                F.col("exact").alias("v"),
            )
        ).alias("z"),
    ).select(
        "key", "lo", "hi", "n",
        F.col("z.q").alias("quantile"),
        F.col("z.v").alias("exact_v"),
    )
    # sketch tolerance: 1% of the group's range for real groups, but a
    # tiny group's midpoint-interpolated quantile can sit a whole
    # inter-sample gap from the exact order statistic — (hi-lo)/n
    # covers that regime and vanishes as n grows
    span = F.col("hi") - F.col("lo")
    eps = F.greatest(0.01 * span, span / F.col("n"), F.lit(1e-9))
    return sk.join(ex, ["key", "quantile"]).select(
        F.col("key").alias("event_type"),
        "quantile",
        (F.abs(F.col("value") - F.col("exact_v")) <= eps).alias("within_bounds"),
    )


def q_drift_extendedprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI and KS from the ONE single-scan ``drift_statistics_flagged``
    pass — the registered surface matching the operator's real cost (the
    individual psi_/ks_ queries are kept for back-compat; each recomputes
    the shared pass under the per-query driver contract)."""
    stats = _drift_stats(spark, sf_dir)
    import pyarrow as pa

    return spark.createDataFrame(pa.table({
        "statistic": ["ks", "psi"],
        "value": [float(f"{stats[k]:.6f}") for k in ("ks", "psi")],
    }))


def q_subword_count_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oblate_spark.operators.text import subword_count

    d = _read(spark, sf_dir, "documents")
    out = subword_count(d, id_col="doc_id", text_col="text")
    return out.select("doc_id", F.col("n_subwords").cast("bigint").alias("n_subwords"))


RARE_DOC_THRESHOLD = 2  # tokens in <=2 documents count as rare

#: aspect-bucket oracle fixture: dims manifest size + packing params
BUCKET_N_IMAGES = 2000
BUCKET_BATCH = 32
BUCKET_SHARDS = 8
CDC_INSERT_OFFSET = 20_000_000_000  # past any sf's real o_orderkey


def q_token_rarity_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-rarity triage profile: per-doc distinct-token count,
    minimum corpus document-frequency, hapax count and rare-token count
    — the OOD/garbage signal. All exact BIGINTs -> hash-exact oracle."""
    from oblate_spark.operators.text import token_rarity

    d = _read(spark, sf_dir, "documents")
    out = token_rarity(
        d, id_col="doc_id", text_col="text",
        rare_doc_threshold=RARE_DOC_THRESHOLD,
    )
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_distinct_tokens",
        "min_df",
        "n_hapax",
        "n_rare",
    )


def _bucket_dims_rows() -> list:
    """(idx, w, h) manifest for the aspect-bucket fixture — the
    no-encode closed-form twin of the image fixture's dims (parity
    pinned by test_dims_for_index_matches_make_row). Bounded: 2000
    rows, built driver-side once per query/oracle construction."""
    from oblate_spark import fixtures

    rows = []
    for i in range(BUCKET_N_IMAGES):
        _, w, h = fixtures.dims_for_index(i)
        rows.append((i, w, h))
    return rows


def q_aspect_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-axis batch packing: nearest aspect-ratio bucket by exact
    integer cross-multiplication, then a SKEW-FREE global per-bucket
    rank (sharded window + bounded offset table — never one window
    partition per bucket) -> (batch_id, slot) training coordinates.
    The shard expression is arithmetic (idx % shards) so the total
    order is reproducible in the SQL oracle; production default is
    xxhash64."""
    from oblate_spark.operators.buckets import (
        DEFAULT_BUCKETS,
        aspect_bucket_batches,
    )

    df = spark.createDataFrame(_bucket_dims_rows(), "idx bigint, w int, h int")
    out = aspect_bucket_batches(
        df,
        id_col="idx",
        w_col="w",
        h_col="h",
        buckets=DEFAULT_BUCKETS,
        batch_size=BUCKET_BATCH,
        n_shards=BUCKET_SHARDS,
        shard=F.pmod(F.col("idx"), F.lit(BUCKET_SHARDS)),
    )
    return out.select(
        F.col("idx").cast("bigint").alias("idx"),
        F.col("bucket_id").cast("int").alias("bucket_id"),
        "bucket_w",
        "bucket_h",
        "rank",
        "batch_id",
        F.col("slot").cast("int").alias("slot"),
    )


def q_snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two table versions: base = orders; new = orders with
    keys %13 deleted, %7 repriced, %11 re-prioritized, and %17 cloned
    to fresh keys (inserts). One full-outer sort-merge join; output is
    the exact keyed change set with per-row changed-column lists."""
    from oblate_spark.operators.cdc import snapshot_diff

    o = _read(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    base = o.select(
        k.cast("bigint").alias("o_orderkey"),
        "o_totalprice",
        "o_orderpriority",
        "o_orderstatus",
    )
    kb = F.col("o_orderkey")
    mutated = base.filter(kb % 13 != 0).select(
        kb,
        F.when(kb % 7 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        F.when(kb % 11 == 0, F.lit("X-PRIORITY"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
        "o_orderstatus",
    )
    inserts = base.filter(kb % 17 == 0).select(
        (kb + F.lit(CDC_INSERT_OFFSET)).alias("o_orderkey"),
        "o_totalprice",
        "o_orderpriority",
        F.lit("I").alias("o_orderstatus"),
    )
    new = mutated.unionByName(inserts)
    out = snapshot_diff(base, new, key_cols=["o_orderkey"])
    return out.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        "change_type",
        "changed_cols",
        F.col("n_changed").cast("int").alias("n_changed"),
    )


N_FIDELITY = 1000


def q_pixel_fidelity_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule per-row invariant, distributed: decoded-pixel
    fidelity (exact-integer SSE + the log-free PSNR>=40dB gate) and
    caption equality between an image table and its degraded twin.
    The twin's perturbations are closed-form (LSB flip -> 48.13 dB
    passes, MSB flip -> 5.99 dB fails, bad payloads undecodable), so
    the oracle is a pure literal manifest."""
    from oblate_spark import fixtures
    from oblate_spark.operators.fidelity import pixel_fidelity

    a = fixtures.build_indexed_images_df(spark, N_FIDELITY)
    b = fixtures.build_degraded_images_df(spark, N_FIDELITY)
    out = pixel_fidelity(
        a, b, id_col="idx", bytes_col="bytes",
        caption_col="caption", min_psnr_db=40.0,
    )
    return out.select(
        "idx", "status", "both_decoded", "pixels_exact",
        "psnr_ok", "sse", "n_px", "caption_equal",
    )


def _sql_pixel_fidelity() -> str:
    """Literal expected-outcome manifest: per index, the encoded pixel
    count and the closed-form perturbation category fully determine
    every output column of the fidelity report."""
    from oblate_spark import fixtures

    rows = []
    for i in range(N_FIDELITY):
        _, w, h = fixtures.dims_for_index(i)
        if fixtures.defect_for_index(i) == "dims_mismatch":
            w -= 7  # declared w is encoded w + 7; decode sees encoded
        cat = fixtures.fidelity_category_for_index(i)
        cap_edit = "TRUE" if i % 10 == 9 else "FALSE"
        rows.append(f"({i}, {w * h * 3}, '{cat}', {cap_edit})")
    vals = ", ".join(rows)
    return f"""
        WITH m(idx, n_px, cat, cap_edit) AS (VALUES {vals})
        SELECT idx::BIGINT AS idx,
               CASE WHEN cat = 'undecodable' THEN 'undecodable'
                    WHEN cat = 'msb_flip' THEN 'low_psnr'
                    ELSE 'pass' END AS status,
               (cat <> 'undecodable') AS both_decoded,
               CASE WHEN cat = 'undecodable' THEN NULL
                    ELSE cat = 'identical' END AS pixels_exact,
               CASE WHEN cat = 'undecodable' THEN NULL
                    ELSE cat <> 'msb_flip' END AS psnr_ok,
               (CASE cat WHEN 'identical' THEN 0
                         WHEN 'lsb_flip' THEN n_px
                         WHEN 'msb_flip' THEN 16384 * n_px END)::BIGINT AS sse,
               (CASE WHEN cat = 'undecodable' THEN NULL
                     ELSE n_px END)::BIGINT AS n_px,
               (NOT cap_edit) AS caption_equal
        FROM m
    """


WPSI_LO, WPSI_HI, WPSI_BINS = 0.0, 500.0, 16
OUTLIER_DIST = 1.0  # embeddings' centroid distances straddle 1.0 at sf0.01


def q_centroid_outliers_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding label-noise triage: exact-integer squared distance to
    the own-class centroid (grid-snapped), outliers flagged past 1.0 —
    distances at sf0.01 straddle the threshold so both arms are
    exercised. Everything up to the display sqrt is BIGINT."""
    from oblate_spark.operators.similarity import centroid_distance_outliers

    emb = _read(spark, sf_dir, "embeddings")
    out = centroid_distance_outliers(
        emb, id_col="vec_id", vec_col="embedding", label_col="label",
        threshold=OUTLIER_DIST,
    )
    return out.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("label").cast("int").alias("label"),
        "dist2_q",
        "dist",
        "is_outlier",
    )


def q_windowed_psi_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitoring, oracle-visible: per-hour PSI of
    events.value against the table's own global distribution, via the
    SAME windowed bin-count reduction the streaming monitor runs under
    readStream+watermark (drift_stream.windowed_bin_counts — batch and
    stream agree exactly on the same data). The per-window scoring is
    driver-side arithmetic over the windows x nbins sink stream — the
    operator's documented consumption pattern."""
    from oblate_spark.operators.drift import bin_expr
    from oblate_spark.streaming.drift_stream import (
        psi_per_window,
        windowed_bin_counts,
    )

    ev = _read(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    counts = windowed_bin_counts(
        ev, col="value", ts_col="ts", lo=WPSI_LO, hi=WPSI_HI,
        nbins=WPSI_BINS, window="1 hour", watermark="2 hours",
    )
    rows = counts.select("window_start", "bin", "cnt").collect()
    # frozen reference = the global distribution (exact count ratios)
    ref_rows = (
        ev.filter(F.col("value").isNotNull())
        .groupBy(bin_expr(F.col("value"), WPSI_LO, WPSI_HI, WPSI_BINS).alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )  # bounded: <= nbins rows
    ref_total = float(sum(r["cnt"] for r in ref_rows)) or 1.0
    ref_probs = {int(r["bin"]): r["cnt"] / ref_total for r in ref_rows}
    scores = psi_per_window(rows, ref_probs, nbins=WPSI_BINS, eps=PSI_EPS)
    out = [(w, float(f"{v:.6f}")) for w, v in scores.items()]
    return spark.createDataFrame(out, "hour_start timestamp, psi double")


SKIP_LO, SKIP_HI = 10_000, 19_999  # narrow o_orderkey audit range


def q_skip_scan_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan planning with data skipping, end-to-end: orders lands
    range-clustered with manifest column stats; ``read_range`` must
    open only the files whose [min,max] overlap the audit range (the
    in-query assert pins that pruning really happened) and aggregate
    identically to a plain SQL WHERE over the raw table."""
    import shutil
    import tempfile

    from oblate_spark.sources.tableio import SnapshotTable

    o = _read(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    tmp = tempfile.mkdtemp(prefix="oblate_skip_")
    try:
        t = SnapshotTable(spark, tmp)
        t.write(o.repartitionByRange(8, "o_orderkey"), stats_cols=["o_orderkey"])
        m = t._read_manifest()
        kept, total = t._plan_range_files(
            m, t._chain_sids(m, m["current"]), "o_orderkey", SKIP_LO, SKIP_HI
        )
        assert len(kept) < total, "stats failed to prune a range-clustered table"
        agg = (
            t.read_range("o_orderkey", SKIP_LO, SKIP_HI)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias("sum_cents"),
            )
        )
        rows = [
            (r["o_orderstatus"], r["n"], r["sum_cents"])
            for r in agg.collect()  # bounded: one row per order status
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, "o_orderstatus string, n bigint, sum_cents bigint"
    )


def q_compact_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table maintenance end-to-end: orders lands in 5 small-file delta
    appends, ``compact()`` rewrites the chain into size-targeted files
    as a new snapshot, and the post-compaction read must aggregate
    IDENTICALLY to the raw table (exact bigint cents, min/max keys per
    status). The tiny per-status aggregate is collected so the staging
    directory can be removed before returning."""
    import shutil
    import tempfile

    from oblate_spark.sources.tableio import SnapshotTable

    o = _read(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    tmp = tempfile.mkdtemp(prefix="oblate_compact_")
    try:
        t = SnapshotTable(spark, tmp)
        t.write(o.filter(F.col("o_orderkey") % 5 == 0).repartition(4))
        for r in range(1, 5):
            t.append(o.filter(F.col("o_orderkey") % 5 == r).repartition(4))
        sid = t.compact(target_file_bytes=1 << 30)
        assert sid is not None, "compaction should apply to a 20-file chain"
        agg = (
            t.read(sid)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias("sum_cents"),
                F.min("o_orderkey").cast("bigint").alias("min_key"),
                F.max("o_orderkey").cast("bigint").alias("max_key"),
            )
        )
        rows = [
            (r["o_orderstatus"], r["n"], r["sum_cents"], r["min_key"], r["max_key"])
            for r in agg.collect()  # bounded: one row per order status
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "o_orderstatus string, n bigint, sum_cents bigint, "
        "min_key bigint, max_key bigint",
    )


def q_schema_evolution_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution end-to-end: even-key orders land with
    o_orderkey committed as INT; odd-key orders then append with
    o_orderkey as BIGINT plus an added `flag` column
    (allow_type_widening + allow_new_columns, Iceberg promotion
    parity). The evolved-chain read must serve the pre-evolution int32
    files through the widened bigint schema, surface NULL flags for
    them, and aggregate IDENTICALLY to a plain SQL pass over the raw
    table with the same even/odd split."""
    import shutil
    import tempfile

    from oblate_spark.sources.tableio import SnapshotTable

    o = _read(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    tmp = tempfile.mkdtemp(prefix="oblate_evolve_")
    try:
        t = SnapshotTable(spark, tmp)
        t.write(
            o.filter(F.col("o_orderkey") % 2 == 0)
            .select(F.col("o_orderkey").cast("int").alias("o_orderkey"),
                    "o_orderstatus")
            .repartition(4)
        )
        t.append(
            o.filter(F.col("o_orderkey") % 2 == 1)
            .withColumn("flag", F.lit("late"))
            .repartition(4),
            allow_type_widening=True,
            allow_new_columns=True,
        )
        got = t.read()
        assert got.schema["o_orderkey"].dataType.simpleString() == "bigint", (
            "chain read must surface the widened type"
        )
        agg = got.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("o_orderkey").cast("bigint").alias("sum_key"),
            F.count("flag").cast("bigint").alias("n_flagged"),
        )
        rows = [
            (r["o_orderstatus"], r["n"], r["sum_key"], r["n_flagged"])
            for r in agg.collect()  # bounded: one row per order status
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, "o_orderstatus string, n bigint, sum_key bigint, n_flagged bigint"
    )


def q_cross_table_ship_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table row constraint: a lineitem may not ship more than
    90 days after its parent order was placed. One equi-join + codegen
    filter; violations carry the day gap as evidence."""
    from oblate_spark.operators.stats import cross_table_violations

    li = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders")
    return cross_table_violations(
        li,
        o,
        fact_key="l_orderkey",
        dim_key="o_orderkey",
        must_hold=lambda f, d: F.datediff(
            F.to_date(f["l_shipdate"]), F.to_date(d["o_orderdate"])
        )
        <= 90,
        row_cols=[
            "l_orderkey",
            "l_linenumber",
            F.datediff(
                F.to_date(F.col("l_shipdate")), F.to_date(F.col("o_orderdate"))
            )
            .cast("int")
            .alias("gap_days"),
        ],
    )


def q_correlation_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer Pearson correlations over lineitem: quantity vs
    price-in-cents, discount vs tax (basis points), quantity vs
    discount — one full-width aggregate for all three pairs."""
    from oblate_spark.operators.stats import correlation_profile

    li = _read(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_quantity")).cast("bigint").alias("qty"),
        F.floor(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.floor(F.col("l_discount") * 10000).cast("bigint").alias("disc_bp"),
        F.floor(F.col("l_tax") * 10000).cast("bigint").alias("tax_bp"),
    )
    return correlation_profile(
        li, [("qty", "cents"), ("disc_bp", "tax_bp"), ("qty", "disc_bp")]
    )


def q_entropy_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of lineitem's three categorical columns —
    the profile signal for constant-collapse / id-explosion."""
    from oblate_spark.operators.stats import categorical_entropy

    li = _read(spark, sf_dir, "lineitem")
    return categorical_entropy(li, ["l_returnflag", "l_linestatus", "l_suppkey"])


def q_suggest_constraints_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint suggestion over orders: propose not_null / unique /
    value_set / range checks from one profiling pass — the reference's
    declare-then-validate loop with the declaration half inferred."""
    from oblate_spark.operators.stats import suggest_constraints

    o = _read(spark, sf_dir, "orders")
    return suggest_constraints(
        o,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
        max_value_set=10,
    )


def q_volume_anomalies_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day ingest-volume anomaly flags over events — exact-integer
    (c·n−S)² > k²·(n·Q−S²) gate, every bucket reported."""
    from oblate_spark.operators.drift import volume_anomalies

    ev = _read(spark, sf_dir, "events")
    return volume_anomalies(ev, "ts", k=2)


def q_grouped_completeness_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-return-flag completeness of zero-as-missing discount/tax —
    the "which ingest group broke the column" check; a global null rate
    would average the damage away."""
    from oblate_spark.operators.stats import grouped_completeness

    li = _read(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.when(F.col("l_discount") != 0, F.col("l_discount")).alias("disc_nn"),
        F.when(F.col("l_tax") != 0, F.col("l_tax")).alias("tax_nn"),
    )
    return grouped_completeness(
        li, "l_returnflag", ["disc_nn", "tax_nn"], min_completeness=0.95
    )


def q_uniqueness_metrics_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-class completeness/distinctness/uniqueness metrics over
    three documents columns in one scan."""
    from oblate_spark.operators.stats import uniqueness_metrics

    d = _read(spark, sf_dir, "documents")
    return uniqueness_metrics(d, ["doc_id", "lang", "source"])


def q_pattern_ratio_events_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-compliance ratio: what fraction of events.props matches
    the expected single-key JSON shape."""
    from oblate_spark.operators.stats import pattern_ratio

    ev = _read(spark, sf_dir, "events")
    return pattern_ratio(ev, "props", r'^\{"k": \d+\}$')


def q_benford_cents_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit profile of lineitem's extended price in
    cents — string-derived digits, no float log of the value."""
    from oblate_spark.operators.drift import benford_first_digit

    li = _read(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_extendedprice") * 100).cast("bigint").alias("cents")
    )
    return benford_first_digit(li, "cents")


def q_key_skew_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 heaviest user_ids with share and skew-vs-uniform — the
    pre-shuffle audit that decides whether a join key needs salting.
    TakeOrderedAndProject top-N, never a global sort."""
    from oblate_spark.operators.stats import key_skew_profile

    ev = _read(spark, sf_dir, "events")
    return key_skew_profile(ev, "user_id", top_n=10)


FRESH_AS_OF = "2024-01-31 00:00:00"
FRESH_MAX_LAG = 14400  # 4 h


def q_freshness_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard freshness (shard = user_id % 97) against an explicit
    as-of instant: lag in whole seconds from a microsecond-exact diff,
    stale above 4 h. Deterministic — no wall clock anywhere."""
    from oblate_spark.operators.stats import freshness_check

    ev = _read(spark, sf_dir, "events").select(
        (F.col("user_id") % 97).cast("bigint").alias("shard"), "ts"
    )
    return freshness_check(
        ev,
        ts_col="ts",
        group_col="shard",
        as_of=FRESH_AS_OF,
        max_lag_seconds=FRESH_MAX_LAG,
    )


def q_category_diff_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-domain diff between early- and late-January cohorts
    over a sparse composite category (user bucket x props.k): which
    categories are new, which vanished, which kept — the
    schema-on-read regression a share-based PSI smooths over."""
    from oblate_spark.operators.drift import category_diff

    ev = _read(spark, sf_dir, "events")
    cat = F.concat(
        (F.col("user_id") % 50).cast("string"),
        F.lit(":"),
        F.get_json_object("props", "$.k"),
    )
    return category_diff(
        ev.select(cat.alias("cat"), "ts"),
        "cat",
        base_cond=F.col("ts") < F.lit("2024-01-16"),
        cur_cond=F.col("ts") >= F.lit("2024-01-16"),
    )


BP_LINE_TOKENS = 8  # non-overlapping 8-token pseudo-lines


def q_strip_boilerplate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style line-level dedup: 8-token pseudo-lines (the docs have
    no newlines), boilerplate = a line shared by >= 2 docs of one
    source, rebuilt text with boilerplate stripped. The oracle hash
    pins the exact cleaned text of every document."""
    from oblate_spark.operators.text import strip_boilerplate, tokens_expr

    L = BP_LINE_TOKENS
    d = _read(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", "source", tokens_expr(F.col("text")).alias("t")
    ).filter(F.size("t") > 0)
    n_lines = (F.floor((F.size("t") - 1) / F.lit(L)) + 1).cast("int")
    lines = base.select(
        "doc_id",
        "source",
        "t",
        F.explode(F.sequence(F.lit(0), n_lines - 1)).alias("i"),
    ).select(
        "doc_id",
        "source",
        "i",
        F.array_join(F.slice("t", F.col("i") * L + 1, L), " ").alias("line"),
    )
    out = strip_boilerplate(
        lines,
        doc_col="doc_id",
        group_col="source",
        idx_col="i",
        line_col="line",
        min_docs=2,
    )
    return out.select(
        F.col("doc").cast("bigint").alias("doc_id"),
        "clean_text",
        "n_lines",
        "n_removed",
    )


def q_frequent_values_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most frequent values per categorical lineitem column in one
    scan — the profiler's value-histogram panel."""
    from oblate_spark.operators.stats import frequent_values_profile

    li = _read(spark, sf_dir, "lineitem")
    return frequent_values_profile(
        li, ["l_returnflag", "l_linestatus", "l_linenumber"], k=5
    )


def q_type_inference_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical type inference over a staged all-string table built from
    lineitem (int / float-ish / bool / date / junk columns, with nulls):
    the landed-CSV profiler that proposes the schema the typed
    validators then enforce. Strings are synthesized from integer and
    date columns only — double→string rendering is engine-specific and
    would poison the oracle."""
    from oblate_spark.operators.stats import type_inference_profile

    li = _read(spark, sf_dir, "lineitem")
    staged = li.select(
        F.when(
            F.col("l_linenumber") != 1, F.col("l_orderkey").cast("string")
        ).alias("s_int"),
        F.concat(
            (F.col("l_partkey") % 100).cast("string"),
            F.lit("."),
            (F.col("l_suppkey") % 10).cast("string"),
        ).alias("s_float"),
        F.when(F.col("l_orderkey") % 2 == 0, "true")
        .otherwise("false")
        .alias("s_bool"),
        F.col("l_shipdate").cast("date").cast("string").alias("s_date"),
        F.concat(
            F.col("l_returnflag"), F.lit(" "), F.col("l_linestatus")
        ).alias("s_junk"),
        F.when(
            F.col("l_linenumber") % 3 == 0,
            (F.col("l_orderkey") % 50).cast("string"),
        )
        .otherwise(
            F.concat(
                (F.col("l_partkey") % 100).cast("string"),
                F.lit("."),
                (F.col("l_suppkey") % 10).cast("string"),
            )
        )
        .alias("s_mixed"),
    )
    return type_inference_profile(
        staged, ["s_int", "s_float", "s_bool", "s_date", "s_junk", "s_mixed"]
    )


FUNNEL_STAGES = ["view", "click", "purchase"]


def q_funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel over events: stage-i events
    count only after the user's first qualifying stage-(i-1) event."""
    from oblate_spark.operators.sessions import funnel_counts

    ev = _read(spark, sf_dir, "events")
    return funnel_counts(
        ev,
        user_col="user_id",
        ts_col="ts",
        type_col="event_type",
        stages=FUNNEL_STAGES,
    )


GROUP_CAP = 10


def q_group_cap_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (≤10 per source, hash-ordered kept set):
    the RefinedWeb-style per-domain cap; the sharded two-phase physical
    plan is oracle-checked against the one-window ground truth."""
    from oblate_spark.operators.sampling import group_cap

    d = _read(spark, sf_dir, "documents").select("doc_id", "source")
    out = group_cap(
        d, group_col="source", id_col="doc_id", max_per_group=GROUP_CAP
    )
    return out.select(F.col("doc_id").cast("bigint").alias("doc_id"), "source")


def q_embedding_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-payload constraint check over embeddings with synthesized
    corruption (truncated / NaN-poisoned / zeroed vectors via exclusive
    id-modulus arms, identical in the oracle): dims, NaN/Inf/null
    flags, exact-integer micro-norm, zero-norm regression flag."""
    from oblate_spark.operators.similarity import embedding_validation

    e = _read(spark, sf_dir, "embeddings")
    vec = F.col("embedding")
    corrupted = (
        F.when(
            F.col("vec_id") % 97 == 0,
            F.expr("slice(embedding, 1, size(embedding) - 1)"),
        )
        .when(
            F.col("vec_id") % 89 == 0,
            F.concat(
                F.array(F.lit(float("nan")).cast("float")),
                F.expr("slice(embedding, 2, size(embedding) - 1)"),
            ),
        )
        .when(
            F.col("vec_id") % 83 == 0,
            F.transform(vec, lambda x: F.lit(0.0).cast("float")),
        )
        .otherwise(vec)
    )
    staged = e.select("vec_id", corrupted.alias("embedding"))
    return embedding_validation(
        staged, id_col="vec_id", vec_col="embedding", expected_dim=64
    )


IQR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_iqr_outliers_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence (1.5·IQR) outlier profile over lineitem numerics,
    computed on integer cents so the exact-percentile interpolation is
    bit-identical across engines (dyadic fractions over exact integers
    — the integer-scaling pattern the tfidf oracle uses). Two
    whole-table aggregates total, regardless of column count."""
    from oblate_spark.operators.stats import iqr_outlier_profile

    li = _read(spark, sf_dir, "lineitem")
    cents = li.select(
        *[F.round(F.col(c) * 100, 0).cast("bigint").alias(c) for c in IQR_COLS]
    )
    return iqr_outlier_profile(cents, IQR_COLS)


def _sql_iqr_lineitem(k: str = "1.5") -> str:
    """Per-column brute quartiles + fence counts, UNION ALL'd. Uses the
    same cents scaling; quantile_cont's linear interpolation over exact
    integers with dyadic fractions matches Spark's percentile exactly."""
    parts = []
    for c in IQR_COLS:
        parts.append(f"""
        SELECT '{c}' AS column, q.q1 AS q1, q.q3 AS q3,
               q.q1 - {k}*(q.q3 - q.q1) AS lo_fence,
               q.q3 + {k}*(q.q3 - q.q1) AS hi_fence,
               count(CASE WHEN s.v < q.q1 - {k}*(q.q3 - q.q1) THEN 1 END)::BIGINT AS n_below,
               count(CASE WHEN s.v > q.q3 + {k}*(q.q3 - q.q1) THEN 1 END)::BIGINT AS n_above
        FROM (SELECT round({c} * 100)::BIGINT AS v FROM lineitem) s
        CROSS JOIN (
            SELECT quantile_cont(v, 0.25) AS q1, quantile_cont(v, 0.75) AS q3
            FROM (SELECT round({c} * 100)::BIGINT AS v FROM lineitem)
        ) q
        GROUP BY q.q1, q.q3
        """)
    return " UNION ALL ".join(parts)


def q_mad_outliers_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outliers (modified-z-score family, dyadic k=5
    MADs) over lineitem numerics on integer cents — the heavy-tail
    companion to the Tukey IQR profile; exact-percentile medians make
    the DuckDB oracle bit-identical."""
    from oblate_spark.operators.stats import mad_outlier_profile

    li = _read(spark, sf_dir, "lineitem")
    cents = li.select(
        *[F.round(F.col(c) * 100, 0).cast("bigint").alias(c) for c in IQR_COLS]
    )
    return mad_outlier_profile(cents, IQR_COLS)


def _sql_mad_lineitem(k: str = "5.0") -> str:
    parts = []
    for c in IQR_COLS:
        src = f"(SELECT round({c} * 100)::BIGINT AS v FROM lineitem)"
        parts.append(f"""
        SELECT '{c}' AS column, q.med AS median, q.mad AS mad,
               q.med - {k}*q.mad AS lo_fence, q.med + {k}*q.mad AS hi_fence,
               count(CASE WHEN s.v < q.med - {k}*q.mad THEN 1 END)::BIGINT AS n_below,
               count(CASE WHEN s.v > q.med + {k}*q.mad THEN 1 END)::BIGINT AS n_above
        FROM {src} s
        CROSS JOIN (
            SELECT m.med AS med, quantile_cont(abs(t.v - m.med), 0.5) AS mad
            FROM {src} t
            CROSS JOIN (SELECT quantile_cont(v, 0.5) AS med FROM {src}) m
            GROUP BY m.med
        ) q
        GROUP BY q.med, q.mad
        """)
    return " UNION ALL ".join(parts)


PHASH_NEARDUP_N = 4000


def q_phash_near_dup_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs by perceptual-hash Hamming distance —
    the north rule's phash-uniqueness check extended to NEAR-duplicates
    (re-encoded / slightly-recompressed copies whose phash differs in a
    few bits). Bit-sliced LSH via ``simhash_hamming_pairs`` (4 bands of
    12 bits over a 48-bit signature; bands > max_distance, so pigeonhole
    makes the banded join exhaustive and the all-pairs DuckDB oracle is
    exact ground truth). The fixture plants XOR-pair near-dups AND a
    ~n/101-row hot clique sharing one (band, slice) bucket — the "hot
    phash bucket" skew case; the bucket join's fan-out there is a
    genuine near-dup cluster, which AQE skew-split absorbs at scale.
    Input synthesized closed-form (fixtures.build_phash_df): pure
    Column arithmetic over spark.range, no Python rows."""
    from oblate_spark.fixtures import PHASH_BITS, build_phash_df
    from oblate_spark.operators.dedup import simhash_hamming_pairs

    imgs = build_phash_df(spark, PHASH_NEARDUP_N)
    out = simhash_hamming_pairs(
        imgs,
        id_col="image_id",
        sig_col="phash",
        bits=PHASH_BITS,
        bands=4,
        max_distance=3,
    )
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


_CAPTION_EXPR_SPARK = "concat('cap_', cast(shiftright(phash, 8) % 1009 as string))"
_CAPTION_EXPR_SQL = "'cap_' || ((phash >> 8) % 1009)::VARCHAR"


def q_phash_caption_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star composition over image+caption pairs: near-dup pairs
    by phash (banded LSH) annotated with caption agreement. Captions
    derive from the HIGH bits of the content hash, so exact dups and
    low-bit near-dups agree ('safe to collapse') while pairs whose
    flipped bits reach past bit 8 diverge — the 'same image, different
    alt-text' curation signal. Pair list ≪ corpus, so AQE broadcasts
    it into both caption joins; the corpus never shuffles."""
    from oblate_spark.fixtures import PHASH_BITS, build_phash_df
    from oblate_spark.operators.dedup import (
        pair_label_consistency,
        simhash_hamming_pairs,
    )

    items = build_phash_df(spark, PHASH_NEARDUP_N).withColumn(
        "caption", F.expr(_CAPTION_EXPR_SPARK)
    )
    pairs = simhash_hamming_pairs(
        items,
        id_col="image_id",
        sig_col="phash",
        bits=PHASH_BITS,
        bands=4,
        max_distance=3,
    )
    out = pair_label_consistency(
        pairs, items, id_col="image_id", label_col="caption"
    )
    return out.select(
        "id_a",
        "id_b",
        F.col("hamming").cast("int").alias("hamming"),
        "label_match",
    )


def _sql_phash_caption_consistency(n_rows: int, max_distance: int = 3) -> str:
    from oblate_spark.fixtures import phash_oracle_cte

    return f"""
    WITH t AS ({phash_oracle_cte(n_rows)}),
    items AS (
        SELECT image_id, phash, {_CAPTION_EXPR_SQL} AS caption FROM t
    )
    SELECT a.image_id AS id_a, b.image_id AS id_b,
           bit_count(xor(a.phash, b.phash))::INT AS hamming,
           (a.caption = b.caption) AS label_match
    FROM items a JOIN items b ON a.image_id < b.image_id
    WHERE bit_count(xor(a.phash, b.phash)) <= {max_distance}
    """


def q_duplicate_phash_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north rule's phash uniqueness check on the closed-form image
    table: the hot clique's members split into exactly 3 shared phash
    values (HOT xor bit i%3 over multiples of 101), plus any XOR-pair
    whose two flipped bits cancel. COUNT is algebraic, so a plain
    groupBy is the right plan: map-side combine bounds the hot key."""
    from oblate_spark.fixtures import build_phash_df
    from oblate_spark.operators.stats import duplicate_keys

    return duplicate_keys(
        build_phash_df(spark, PHASH_NEARDUP_N), "phash"
    ).select("phash", F.col("dup_count").cast("bigint").alias("dup_count"))


def _sql_duplicate_phash(n_rows: int) -> str:
    from oblate_spark.fixtures import phash_oracle_cte

    return f"""
    WITH t AS ({phash_oracle_cte(n_rows)})
    SELECT phash, count(*)::BIGINT AS dup_count
    FROM t GROUP BY phash HAVING count(*) > 1
    """


def q_phash_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full image-dedup chain the north rule implies: banded phash
    LSH pairs -> hash-min connected components -> (image_id,
    cluster_id). The planted hot clique must come out as ONE cluster
    labelled by its minimum member; XOR pairs come out as 2-clusters.
    Oracle: brute-force pairs + recursive-CTE label walk in DuckDB."""
    from oblate_spark.fixtures import PHASH_BITS, build_phash_df
    from oblate_spark.operators.dedup import (
        duplicate_clusters,
        simhash_hamming_pairs,
    )

    pairs = simhash_hamming_pairs(
        build_phash_df(spark, PHASH_NEARDUP_N),
        id_col="image_id",
        sig_col="phash",
        bits=PHASH_BITS,
        bands=4,
        max_distance=3,
    )
    return duplicate_clusters(pairs).select(
        F.col("id").alias("image_id"), "cluster_id"
    )


def _sql_phash_dup_clusters(n_rows: int, max_distance: int = 3) -> str:
    from oblate_spark.fixtures import phash_oracle_cte

    return f"""
    WITH RECURSIVE t AS ({phash_oracle_cte(n_rows)}),
    cand AS (
        SELECT a.image_id AS id_a, b.image_id AS id_b
        FROM t a JOIN t b ON a.image_id < b.image_id
        WHERE bit_count(xor(a.phash, b.phash)) <= {max_distance}),
    edges AS (SELECT id_a AS src, id_b AS dst FROM cand
              UNION SELECT id_b, id_a FROM cand),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    walk(node, label) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
    )
    SELECT node AS image_id, min(label) AS cluster_id
    FROM walk GROUP BY node
    """


def q_phash_bit_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bit signature drift between two image snapshots: the current
    snapshot plants a decoder-change-style bias (bit 5 forced on for
    every 7th image). One algebraic aggregate per side (48 map-side
    combinable sums, no row fan-out), 48-row output — catches a
    systematic phash-pipeline change BEFORE any pair-level near-dup
    stage would see it."""
    from oblate_spark.fixtures import PHASH_BITS, build_phash_df
    from oblate_spark.operators.drift import signature_bit_drift

    base = build_phash_df(spark, PHASH_NEARDUP_N)
    i = F.expr("cast(substring(image_id, 5) as bigint)")
    cur = base.select(
        "image_id",
        F.when(i % 7 == 0, F.expr("phash | 32"))
        .otherwise(F.col("phash"))
        .alias("phash"),
    )
    return signature_bit_drift(base, cur, "phash", bits=PHASH_BITS)


def _sql_phash_bit_drift(n_rows: int, threshold: str = "0.05") -> str:
    from oblate_spark.fixtures import PHASH_BITS, phash_oracle_cte

    return f"""
    WITH t AS ({phash_oracle_cte(n_rows)}),
    cur AS (
        SELECT image_id,
               CASE WHEN CAST(substring(image_id, 5) AS BIGINT) % 7 = 0
                    THEN phash | 32 ELSE phash END AS phash
        FROM t
    ),
    bits AS (SELECT unnest(generate_series(0, {PHASH_BITS - 1})) AS bit),
    pb AS (
        SELECT b.bit AS bit, sum((t.phash >> b.bit) & 1) AS ones, count(*) AS n
        FROM t CROSS JOIN bits b GROUP BY b.bit
    ),
    pc AS (
        SELECT b.bit AS bit, sum((cur.phash >> b.bit) & 1) AS ones, count(*) AS n
        FROM cur CROSS JOIN bits b GROUP BY b.bit
    )
    SELECT pb.bit::INT AS bit,
           pb.ones::DOUBLE / pb.n AS frac_base,
           pc.ones::DOUBLE / pc.n AS frac_current,
           abs(pc.ones::DOUBLE / pc.n - pb.ones::DOUBLE / pb.n) AS abs_diff,
           abs(pc.ones::DOUBLE / pc.n - pb.ones::DOUBLE / pb.n) > {threshold} AS flagged
    FROM pb JOIN pc ON pb.bit = pc.bit
    """


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order (round 6): the driver's correctness harness checks
    a ~50-entry PREFIX in registry order — CORRECTNESS_r04/r05 were
    exact prefixes — so the 41 queries added after position 50 (rounds
    3-5) had never received a driver correctness row. They now come
    FIRST, right after two long-green canaries, so CORRECTNESS_r06
    witnesses them; the long-green remainder follows. Same 91 names,
    same functions, same oracles — ordering only."""
    return {
        # canaries: long-green core queries, ordered so the session's
        # one-shot costs (scan/codegen init, the big staged compile, the
        # python-worker spawn for the first Arrow exchange) land on
        # queries whose round-5 floors already include those costs
        "validate_lineitem": q_validate_lineitem,
        "validate_staged_lineitem": q_validate_staged_lineitem,
        "sessionization_stream_replay": q_sessionization_stream_replay,
        "image_validation": q_image_validation,
        # rounds 3-5 additions, never driver-checked before round 6
        "rolling_event_features": q_rolling_event_features,
        "dedup_stream_replay": q_dedup_stream_replay,
        "dup_shingle_fraction_documents": q_dup_shingle_fraction_documents,
        "chunk_documents": q_chunk_documents,
        "label_centroids_embeddings": q_label_centroids_embeddings,
        "group_split_documents": q_group_split_documents,
        "keep_best_canonical_documents": q_keep_best_canonical_documents,
        "token_rarity_documents": q_token_rarity_documents,
        "pixel_fidelity_images": q_pixel_fidelity_images,
        "compact_roundtrip_orders": q_compact_roundtrip_orders,
        "skip_scan_orders": q_skip_scan_orders,
        "schema_evolution_orders": q_schema_evolution_orders,
        "cross_table_ship_gap": q_cross_table_ship_gap,
        "correlation_profile_lineitem": q_correlation_profile_lineitem,
        "entropy_profile_lineitem": q_entropy_profile_lineitem,
        "suggest_constraints_orders": q_suggest_constraints_orders,
        "volume_anomalies_events": q_volume_anomalies_events,
        "uniqueness_metrics_documents": q_uniqueness_metrics_documents,
        "grouped_completeness_lineitem": q_grouped_completeness_lineitem,
        "key_skew_events": q_key_skew_events,
        "freshness_events": q_freshness_events,
        "category_diff_events": q_category_diff_events,
        "strip_boilerplate_documents": q_strip_boilerplate_documents,
        "frequent_values_lineitem": q_frequent_values_lineitem,
        "type_inference_staged": q_type_inference_staged,
        "funnel_events": q_funnel_events,
        "group_cap_documents": q_group_cap_documents,
        "embedding_validation": q_embedding_validation,
        "phash_near_dup_images": q_phash_near_dup_images,
        "iqr_outliers_lineitem": q_iqr_outliers_lineitem,
        "mad_outliers_lineitem": q_mad_outliers_lineitem,
        "phash_bit_drift": q_phash_bit_drift,
        "phash_caption_consistency": q_phash_caption_consistency,
        "phash_dup_clusters": q_phash_dup_clusters,
        "duplicate_phash_images": q_duplicate_phash_images,
        "pattern_ratio_events_props": q_pattern_ratio_events_props,
        "benford_cents_lineitem": q_benford_cents_lineitem,
        "windowed_psi_events": q_windowed_psi_events,
        "centroid_outliers_embeddings": q_centroid_outliers_embeddings,
        "aspect_bucket_batches": q_aspect_bucket_batches,
        "snapshot_diff_orders": q_snapshot_diff_orders,
        # long-green queries (driver-checked in rounds 2-5)
        "verdict_summary_lineitem": q_verdict_summary_lineitem,
        "column_profile_lineitem": q_column_profile_lineitem,
        "duplicate_o_custkey": q_duplicate_o_custkey,
        "referential_lineitem_orders": q_referential_lineitem_orders,
        "histogram_extendedprice": q_histogram_extendedprice,
        "psi_extendedprice": q_psi_extendedprice,
        "ks_extendedprice": q_ks_extendedprice,
        "drift_extendedprice": q_drift_extendedprice,
        "categorical_psi_events": q_categorical_psi_events,
        "exact_dup_documents": q_exact_dup_documents,
        "minhash_bands_documents": q_minhash_bands_documents,
        "lsh_candidates_documents": q_lsh_candidates_documents,
        "jaccard_pairs_documents": q_jaccard_pairs_documents,
        "token_count_documents": q_token_count_documents,
        "language_id_documents": q_language_id_documents,
        "quality_documents": q_quality_documents,
        "fingerprint_documents": q_fingerprint_documents,
        "top_tokens_documents": q_top_tokens_documents,
        "simhash_documents": q_simhash_documents,
        "knn_bruteforce": q_knn_bruteforce,
        "embedding_near_dup": q_embedding_near_dup,
        "jaccard_on_lsh_candidates": q_jaccard_on_lsh_candidates,
        "ivf_knn": q_ivf_knn,
        "embedding_near_dup_ivf": q_embedding_near_dup_ivf,
        "dup_clusters_documents": q_dup_clusters_documents,
        "sessionization_events": q_sessionization_events,
        "events_hourly_counts": q_events_hourly_counts,
        # golden-manifest oracles (closed-form fixture manifests)
        "audio_validation": q_audio_validation,
        "video_validation": q_video_validation,
        "video_frame_sample_facts": q_video_frame_sample_facts,
        "subword_count_documents": q_subword_count_documents,
        # sketch, oracle-gated via tolerance booleans vs exact quantiles
        "tdigest_quantiles": q_tdigest_quantiles,
        "grouped_tdigest_events": q_grouped_tdigest_events,
        "pii_scrub_documents": q_pii_scrub_documents,
        "tfidf_top_terms_documents": q_tfidf_top_terms_documents,
        "fd_violations_lineitem": q_fd_violations_lineitem,
        "null_implication_documents": q_null_implication_documents,
        "asof_clicks_purchases": q_asof_clicks_purchases,
        "interval_join_events": q_interval_join_events,
        "repetition_signals_documents": q_repetition_signals_documents,
        "approx_distinct_lineitem": q_approx_distinct_lineitem,
        "simhash_near_dup_documents": q_simhash_near_dup_documents,
        "ngram_contamination_documents": q_ngram_contamination_documents,
        "pack_sequences_documents": q_pack_sequences_documents,
        "deterministic_sample_documents": q_deterministic_sample_documents,
        "mixture_sample_documents": q_mixture_sample_documents,
    }


# ---------------------------------------------------------------------------
# oracles (DuckDB SQL over pre-registered views)
# ---------------------------------------------------------------------------

_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
_TOKENS = f"list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> len(x) > 0)"


def _sql_shingles() -> str:
    # generate_series in expression context returns a LIST in DuckDB
    # (the lateral-join form can't take correlated arguments)
    return f"""
    SELECT DISTINCT doc_id, unnest(
        list_transform(generate_series(1, greatest(length(norm) - {SHINGLE_K - 1}, 1)),
                       i -> substr(norm, i, {SHINGLE_K}))) AS shingle
    FROM (SELECT doc_id, {_NORM} AS norm FROM documents) d
    """


def _sql_minhash() -> str:
    return f"""
    WITH sh AS ({_sql_shingles()}),
    seeds AS (SELECT unnest(generate_series(0, {NUM_HASHES - 1})) AS h)
    SELECT doc_id, h, min(md5(h::VARCHAR || '|' || shingle)) AS minhash
    FROM sh CROSS JOIN seeds
    GROUP BY doc_id, h
    """


def _sql_bands() -> str:
    return f"""
    WITH mh AS ({_sql_minhash()})
    SELECT doc_id, (h // {ROWS_PER_BAND})::BIGINT AS band,
           md5(string_agg(minhash, ',' ORDER BY h)) AS band_sig
    FROM mh GROUP BY doc_id, (h // {ROWS_PER_BAND})
    """


def _sql_lang_ratios() -> str:
    parts = []
    for lang, words in STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        parts.append(
            f"len(list_filter(toks, x -> list_contains([{lst}], x)))::DOUBLE"
            f" / greatest(len(toks), 1) AS r_{lang}"
        )
    return (
        f"SELECT doc_id, {', '.join(parts)} "
        f"FROM (SELECT doc_id, {_TOKENS} AS toks FROM documents)"
    )


def _sql_simhash() -> str:
    high = "('8','9','a','b','c','d','e','f')"
    sums = ", ".join(
        f"sum(CASE WHEN substr(th, {j + 1}, 1) IN {high} THEN 1 ELSE -1 END) AS b_{j}"
        for j in range(SIMHASH_BITS)
    )
    combine = " + ".join(
        f"(CASE WHEN b_{j} > 0 THEN 1 ELSE 0 END)::BIGINT * {2 ** j}::BIGINT"
        for j in range(SIMHASH_BITS)
    )
    return f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, unnest(list_distinct({_TOKENS})) AS tok FROM documents
    ),
    hashed AS (SELECT doc_id, md5(tok) AS th FROM toks),
    votes AS (SELECT doc_id, {sums} FROM hashed GROUP BY doc_id)
    SELECT doc_id, {combine} AS simhash FROM votes
    """


def _sql_simhash_pairs(max_distance: int = 3) -> str:
    """All-pairs Hamming filter over the simhash CTE — exact ground
    truth for the engine's banded LSH because bands > max_distance
    guarantees exhaustive candidate recall (pigeonhole)."""
    return f"""
    WITH sims AS ({_sql_simhash()})
    SELECT a.doc_id::BIGINT AS id_a, b.doc_id::BIGINT AS id_b,
           bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
    FROM sims a JOIN sims b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_distance}
    """


def _sql_phash_pairs(n_rows: int, max_distance: int = 3) -> str:
    """Brute-force all-pairs twin of the banded phash LSH join — exact
    ground truth (pigeonhole, as in _sql_simhash_pairs). The phash CTE
    body lives beside the Python/Column formula in
    fixtures.phash_oracle_cte so the twins can't drift apart."""
    from oblate_spark.fixtures import phash_oracle_cte

    return f"""
    WITH t AS ({phash_oracle_cte(n_rows)})
    SELECT a.image_id AS id_a, b.image_id AS id_b,
           bit_count(xor(a.phash, b.phash))::INT AS hamming
    FROM t a JOIN t b ON a.image_id < b.image_id
    WHERE bit_count(xor(a.phash, b.phash)) <= {max_distance}
    """


def _sql_deterministic_sample() -> str:
    from oblate_spark.operators.sampling import _threshold_hex

    default = _threshold_hex(SAMPLE_DEFAULT_FRACTION)
    whens = " ".join(
        f"WHEN '{v}' THEN '{_threshold_hex(f)}'"
        for v, f in sorted(SAMPLE_STRATA.items())
    )
    return f"""
    SELECT doc_id::BIGINT AS doc_id, lang FROM documents
    WHERE substr(md5(concat_ws(chr(31), '{SAMPLE_SALT}', doc_id::VARCHAR)), 1, 8)
          < CASE lang {whens} ELSE '{default}' END
    """


def _sql_group_split() -> str:
    from oblate_spark.operators.sampling import split_boundaries

    bounds = split_boundaries(SPLIT_FRACTIONS)
    prefix = (
        f"substr(md5(concat_ws(chr(31), '{SPLIT_SALT}', source)), 1, 8)"
    )
    whens = " ".join(
        f"WHEN {prefix} < '{b}' THEN '{name}'" for name, b in bounds[:-1]
    )
    return f"""
    SELECT doc_id::BIGINT AS doc_id, source,
           CASE {whens} ELSE '{bounds[-1][0]}' END AS split
    FROM documents
    """


def _sql_mixture_sample() -> str:
    """Recompute the engine's mixture thresholds from the same counts
    with the IDENTICAL fixed-order double expression
    (((w * t) / c) * total_fraction) * 2^32 — bit-exact, then hex via
    printf('%08x') which matches Python's format(v, '08x')."""
    langs = ", ".join(f"'{s}'" for s in sorted(MIXTURE_WEIGHTS))
    wcase = " ".join(
        f"WHEN '{s}' THEN {w!r}::DOUBLE" for s, w in sorted(MIXTURE_WEIGHTS.items())
    )
    return f"""
    WITH cnt AS (
        SELECT lang, count(*)::DOUBLE AS c, CASE lang {wcase} END AS w
        FROM documents WHERE lang IN ({langs}) GROUP BY lang),
    cap AS (SELECT min(c / w) AS t FROM cnt),
    thr AS (
        SELECT lang, floor((((w * t) / c) * 1.0) * 4294967296.0) AS v
        FROM cnt, cap)
    SELECT d.doc_id::BIGINT AS doc_id, d.lang
    FROM documents d JOIN thr USING (lang)
    WHERE substr(md5(concat_ws(chr(31), '{MIXTURE_SALT}', d.doc_id::VARCHAR)), 1, 8)
          < CASE WHEN v >= 4294967296 THEN 'g' ELSE printf('%08x', v::BIGINT) END
    """


def _sql_psi_ks(nbins: int, stat: str) -> str:
    width = (PRICE_HI - PRICE_LO) / nbins
    binexpr = (
        f"greatest(0, least({nbins - 1}, "
        f"floor((l_extendedprice - {PRICE_LO}) / {width})))::BIGINT"
    )
    base = f"""
    WITH e AS (SELECT {binexpr} AS bin FROM lineitem
               WHERE l_returnflag = 'A' AND l_extendedprice IS NOT NULL),
    a AS (SELECT {binexpr} AS bin FROM lineitem
          WHERE l_returnflag = 'N' AND l_extendedprice IS NOT NULL),
    eb AS (SELECT bin, count(*)::DOUBLE AS cnt FROM e GROUP BY bin),
    ab AS (SELECT bin, count(*)::DOUBLE AS cnt FROM a GROUP BY bin),
    bins AS (SELECT unnest(generate_series(0, {nbins - 1}))::BIGINT AS bin),
    probs AS (
        SELECT b.bin,
               coalesce(eb.cnt, 0) / (SELECT sum(cnt) FROM eb) AS pe0,
               coalesce(ab.cnt, 0) / (SELECT sum(cnt) FROM ab) AS pa0
        FROM bins b LEFT JOIN eb ON b.bin = eb.bin LEFT JOIN ab ON b.bin = ab.bin)
    """
    if stat == "psi":
        return (
            base
            + f"""
    SELECT round(sum((greatest(pa0, {PSI_EPS}) - greatest(pe0, {PSI_EPS}))
                 * ln(greatest(pa0, {PSI_EPS}) / greatest(pe0, {PSI_EPS}))), 6)::DOUBLE AS psi
    FROM probs
    """
        )
    return (
        base
        + """
    , cdf AS (SELECT bin,
                     sum(pe0) OVER (ORDER BY bin) AS ce,
                     sum(pa0) OVER (ORDER BY bin) AS ca
              FROM probs)
    SELECT round(max(abs(ce - ca)), 6)::DOUBLE AS ks FROM cdf
    """
    )


def _sql_ivf_assigned(source: str, n_centroids: int) -> str:
    """CTE body: deterministic IVF over ``source`` (vec_id, embedding) —
    centroids = n vectors with smallest md5(vec_id), ids 1..n in md5
    order; each vector assigned to argmax-cosine centroid (tie: smallest
    centroid id). Exact twin of operators/similarity.py seeding +
    literal-array argmax."""
    return f"""
    cents AS (
        SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) AS cid,
               embedding::DOUBLE[] AS cvec
        FROM (SELECT vec_id, embedding FROM {source}
              ORDER BY md5(vec_id::VARCHAR) LIMIT {n_centroids})),
    assigned AS (
        SELECT vec_id, v, bucket FROM (
            SELECT s.vec_id, s.embedding::DOUBLE[] AS v, c.cid AS bucket,
                   row_number() OVER (
                       PARTITION BY s.vec_id
                       ORDER BY list_cosine_similarity(s.embedding::DOUBLE[], c.cvec) DESC,
                                c.cid ASC) AS rk
            FROM {source} s CROSS JOIN cents c)
        WHERE rk = 1)
    """


def _sql_image_golden(n: int) -> str:
    """Literal golden-count oracle for ``q_image_validation``: the
    synthetic fixture injects defects at fixed index slots
    (oblate_spark/fixtures.py defect_for_index), so the violation counts
    by error code are closed-form. The Spark side actually decodes every
    payload; the oracle pins the manifest."""
    from oblate_spark.fixtures import expected_defect_counts

    exp = expected_defect_counts(n)
    rows = {
        "field.none_disallowed": exp["caption_null"],
        "image.decode_failed": exp["bad_bytes"],
        "image.dims_mismatch": exp["dims_mismatch"],
        "image.phash_mismatch": exp["stale_phash"],
        "validate.range": exp["w_range"],
        "validate.length": exp["caption_overlength"],
        "literal.invalid_value": exp["bad_fmt"],
        "image.fmt_mismatch": exp["bad_fmt"],
        # image_id dups pair with their base row (2x); phash dups = the
        # hot bucket plus the dup_phash slot rows
        "unique.duplicate": 2 * exp["dup_image_id"] + exp["hot_phash"] + exp["dup_phash"],
    }
    return " UNION ALL ".join(
        f"SELECT '{code}' AS error_code, {cnt}::BIGINT AS cnt"
        for code, cnt in sorted(rows.items())
    )


def _sql_aspect_buckets() -> str:
    """Independent SQL restatement of aspect-bucket batch packing over
    the literal (idx, w, h) dims manifest. The argmin orders by
    ``|w*bh - h*bw| * (LCM/bh)`` — the exact-integer equivalent of the
    operator's pairwise cross-multiplication (multiplying each cost by
    LCM(all bh)/bh puts every bucket's |w/h - bw/bh| on one common
    integer scale), so ties break on bucket index identically in both
    engines with zero float rounding anywhere."""
    import math

    from oblate_spark.operators.buckets import DEFAULT_BUCKETS

    lcm = math.lcm(*[bh for _, bh in DEFAULT_BUCKETS])
    bucket_vals = ", ".join(
        f"({i}, {bw}, {bh}, {lcm // bh})"
        for i, (bw, bh) in enumerate(DEFAULT_BUCKETS)
    )
    dims_vals = ", ".join(f"({i}, {w}, {h})" for i, w, h in _bucket_dims_rows())
    return f"""
        WITH t(idx, w, h) AS (VALUES {dims_vals}),
        b(bidx, bw, bh, mult) AS (VALUES {bucket_vals}),
        assigned AS (
            SELECT t.idx, t.w, t.h,
                   (SELECT b.bidx FROM b
                    ORDER BY abs(t.w::BIGINT * b.bh - t.h::BIGINT * b.bw) * b.mult,
                             b.bidx
                    LIMIT 1) AS bucket_id
            FROM t),
        ranked AS (
            SELECT idx, bucket_id,
                   row_number() OVER (
                       PARTITION BY bucket_id
                       ORDER BY idx % {BUCKET_SHARDS}, idx) - 1 AS rank
            FROM assigned)
        SELECT r.idx::BIGINT AS idx,
               r.bucket_id::INT AS bucket_id,
               b.bw::INT AS bucket_w,
               b.bh::INT AS bucket_h,
               r.rank::BIGINT AS rank,
               (r.rank // {BUCKET_BATCH})::BIGINT AS batch_id,
               (r.rank % {BUCKET_BATCH})::INT AS slot
        FROM ranked r JOIN b ON b.bidx = r.bucket_id
    """


def _type_inference_oracle() -> str:
    """DuckDB twin of q_type_inference_staged: identical staged-string
    synthesis, the SAME anchored RE2-safe TYPE_PATTERNS, identical
    all-nonnull-match inference priority (int, date, bool, float)."""
    from oblate_spark.operators.stats import TYPE_PATTERNS as TP

    cols = {
        "s_int": "CASE WHEN l_linenumber != 1 THEN l_orderkey::VARCHAR END",
        "s_float": "concat(l_partkey % 100, '.', l_suppkey % 10)",
        "s_bool": "CASE WHEN l_orderkey % 2 = 0 THEN 'true' ELSE 'false' END",
        "s_date": "(l_shipdate::DATE)::VARCHAR",
        "s_junk": "concat(l_returnflag, ' ', l_linestatus)",
        "s_mixed": (
            "CASE WHEN l_linenumber % 3 = 0 THEN (l_orderkey % 50)::VARCHAR "
            "ELSE concat(l_partkey % 100, '.', l_suppkey % 10) END"
        ),
    }
    stack = " UNION ALL ".join(
        f"SELECT '{name}' AS col, {expr} AS v FROM lineitem"
        for name, expr in cols.items()
    )
    hits = ", ".join(
        f"sum(CASE WHEN regexp_matches(v, '{TP[t]}') THEN 1 ELSE 0 END) AS c_{t}"
        for t in ("int", "float", "bool", "date")
    )
    fracs = ", ".join(
        f"round(CASE WHEN nn > 0 THEN c_{t}::DOUBLE / nn::DOUBLE "
        f"ELSE 0.0 END, 6) AS frac_{t}"
        for t in ("int", "float", "bool", "date")
    )
    return f"""
        WITH s AS ({stack}),
        g AS (
            SELECT col, count(*) AS n, count(v) AS nn, {hits}
            FROM s GROUP BY 1
        )
        SELECT col AS "column", n::BIGINT AS n_rows, nn::BIGINT AS n_nonnull,
               {fracs},
               CASE WHEN nn > 0 AND c_int = nn THEN 'int'
                    WHEN nn > 0 AND c_date = nn THEN 'date'
                    WHEN nn > 0 AND c_bool = nn THEN 'bool'
                    WHEN nn > 0 AND c_float = nn THEN 'float'
                    ELSE 'string' END AS inferred_type
        FROM g
    """


def oracle_sql() -> dict[str, str]:
    all_stops = sorted({w for ws in STOPWORDS.values() for w in ws})
    stops_lst = ", ".join(f"'{w}'" for w in all_stops)
    lang_case = " ".join(
        f"WHEN r_{lang} = best THEN '{lang}'" for lang in sorted(STOPWORDS)
    )
    return {
        "validate_lineitem": """
            SELECT l_orderkey::VARCHAR || '_' || l_linenumber::VARCHAR AS row_id,
                   'l_quantity' AS field_key, 'validate.range' AS error_code,
                   'Value must be in range 1 to 49 inclusive' AS message
            FROM lineitem WHERE l_quantity IS NOT NULL AND l_quantity NOT BETWEEN 1 AND 49
            UNION ALL
            SELECT l_orderkey::VARCHAR || '_' || l_linenumber::VARCHAR,
                   'l_returnflag', 'literal.invalid_value',
                   'Value must be one of: ''A'', ''N'''
            FROM lineitem WHERE l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A', 'N')
        """,
        "validate_staged_lineitem": """
            SELECT l_orderkey::VARCHAR || '_' || l_linenumber::VARCHAR AS row_id,
                   'l_quantity' AS field_key, 'float.invalid_datatype' AS error_code,
                   'Value must be a floating point number' AS message
            FROM lineitem WHERE l_orderkey % 97 = 0 AND l_quantity IS NOT NULL
            UNION ALL
            SELECT l_orderkey::VARCHAR || '_' || l_linenumber::VARCHAR,
                   'l_quantity', 'validate.range',
                   'Value must be in range 1 to 49 inclusive'
            FROM lineitem WHERE l_orderkey % 97 <> 0
              AND l_quantity IS NOT NULL AND l_quantity NOT BETWEEN 1 AND 49
            UNION ALL
            SELECT l_orderkey::VARCHAR || '_' || l_linenumber::VARCHAR,
                   'l_returnflag', 'literal.invalid_value',
                   'Value must be one of: ''A'', ''N'''
            FROM lineitem WHERE l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A', 'N')
        """,
        "verdict_summary_lineitem": """
            SELECT count(*)::BIGINT AS n_rows,
                   sum(CASE WHEN (l_quantity IS NULL OR l_quantity BETWEEN 1 AND 49)
                             AND (l_returnflag IS NULL OR l_returnflag IN ('A','N'))
                            THEN 1 ELSE 0 END)::BIGINT AS n_passed,
                   sum(CASE WHEN (l_quantity IS NOT NULL AND l_quantity NOT BETWEEN 1 AND 49)
                             OR (l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N'))
                            THEN 1 ELSE 0 END)::BIGINT AS n_failed
            FROM lineitem
        """,
        "column_profile_lineitem": """
            SELECT 'l_orderkey' AS column, min(l_orderkey)::VARCHAR AS min_value,
                   max(l_orderkey)::VARCHAR AS max_value,
                   (sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*)) AS null_rate,
                   count(DISTINCT l_orderkey)::BIGINT AS distinct_count, count(*)::BIGINT AS row_count
            FROM lineitem
            UNION ALL
            SELECT 'l_quantity', min(l_quantity)::VARCHAR, max(l_quantity)::VARCHAR,
                   (sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*)),
                   count(DISTINCT l_quantity)::BIGINT, count(*)::BIGINT FROM lineitem
            UNION ALL
            SELECT 'l_extendedprice', min(l_extendedprice)::VARCHAR, max(l_extendedprice)::VARCHAR,
                   (sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*)),
                   count(DISTINCT l_extendedprice)::BIGINT, count(*)::BIGINT FROM lineitem
            UNION ALL
            SELECT 'l_returnflag', min(l_returnflag), max(l_returnflag),
                   (sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*)),
                   count(DISTINCT l_returnflag)::BIGINT, count(*)::BIGINT FROM lineitem
        """,
        "duplicate_o_custkey": """
            SELECT o_custkey, count(*)::BIGINT AS dup_count
            FROM orders GROUP BY o_custkey HAVING count(*) > 1
        """,
        "referential_lineitem_orders": """
            SELECT l.l_orderkey::VARCHAR || '_' || l.l_linenumber::VARCHAR AS row_id,
                   l.l_orderkey
            FROM lineitem l
            WHERE l.l_orderkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey AND o.o_orderkey % 7 <> 0)
        """,
        "histogram_extendedprice": f"""
            SELECT greatest(0, least({PSI_BINS - 1},
                     floor((l_extendedprice - {PRICE_LO}) / {(PRICE_HI - PRICE_LO) / PSI_BINS})))::BIGINT AS bin,
                   count(*)::BIGINT AS cnt
            FROM lineitem WHERE l_extendedprice IS NOT NULL
            GROUP BY 1
        """,
        "psi_extendedprice": _sql_psi_ks(PSI_BINS, "psi"),
        "ks_extendedprice": _sql_psi_ks(KS_BINS, "ks"),
        "drift_extendedprice": f"""
            SELECT 'ks' AS statistic, ({_sql_psi_ks(KS_BINS, "ks")}) AS value
            UNION ALL
            SELECT 'psi', ({_sql_psi_ks(PSI_BINS, "psi")})
        """,
        # quantile-sketch tolerance gate: the Spark side emits within_bounds =
        # |sketch_q - exact_q| <= 0.005*(max-min) against Spark's exact
        # sort-based percentile; a correct sketch therefore matches these
        # literal-true rows, and a drifting one hash-mismatches.
        "tdigest_quantiles": """
            SELECT CAST(0.25 AS DOUBLE) AS quantile, true AS within_bounds
            UNION ALL SELECT CAST(0.5 AS DOUBLE), true
            UNION ALL SELECT CAST(0.75 AS DOUBLE), true
        """,
        "grouped_tdigest_events": """
            SELECT event_type, q AS quantile, true AS within_bounds
            FROM (SELECT DISTINCT event_type FROM events),
                 (SELECT unnest([0.25, 0.5, 0.75]::DOUBLE[]) AS q)
        """,
        "fd_violations_lineitem": """
            SELECT l_orderkey,
                   (count(DISTINCT l_returnflag)
                    + max(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END))::BIGINT
                       AS n_rhs_values,
                   count(*)::BIGINT AS n_rows
            FROM lineitem
            GROUP BY l_orderkey
            HAVING (count(DISTINCT l_returnflag)
                    + max(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)) > 1
        """,
        "null_implication_documents": """
            SELECT doc_id::VARCHAR AS row_id,
                   'source' AS field_key,
                   'implication.violated' AS error_code,
                   'Column (source) must be null when (lang) is null' AS message,
                   source AS value_repr
            FROM documents
            WHERE doc_id % 7 = 0 AND doc_id % 14 <> 0
        """,
        # DuckDB's native ASOF JOIN is the oracle; the right side is
        # pre-deduped to max purchase_id per (user_id, ts), matching the
        # operator's right_order tiebreak. Tolerance compares exact
        # epoch_us BIGINTs, mirroring Spark's unix_micros — no float
        # time arithmetic in either engine.
        "asof_clicks_purchases": f"""
            WITH clicks AS (
                SELECT event_id, user_id, ts FROM events
                WHERE event_type = 'click'),
            p AS (
                SELECT event_id AS purchase_id, user_id, ts, value
                FROM events WHERE event_type = 'purchase'
                QUALIFY row_number() OVER (PARTITION BY user_id, ts
                                           ORDER BY event_id DESC) = 1),
            j AS (
                SELECT c.event_id, c.user_id, c.ts AS cts,
                       p.purchase_id, p.value AS p_value, p.ts AS pts
                FROM clicks c ASOF LEFT JOIN p
                  ON c.user_id = p.user_id AND c.ts >= p.ts)
            SELECT event_id, user_id,
                   CASE WHEN pts IS NOT NULL
                             AND epoch_us(cts) - epoch_us(pts)
                                 <= {ASOF_TOLERANCE_SEC}::BIGINT * 1000000
                        THEN purchase_id END::BIGINT AS purchase_id,
                   CASE WHEN pts IS NOT NULL
                             AND epoch_us(cts) - epoch_us(pts)
                                 <= {ASOF_TOLERANCE_SEC}::BIGINT * 1000000
                        THEN p_value END::DOUBLE AS p_value
            FROM j
        """,
        # plain BETWEEN join is the oracle; the engine side buckets by
        # grain, which affects only the plan — bounds are exact integer
        # microseconds in both engines (floor of double minutes, then
        # integer add: no float time arithmetic at the boundary)
        "interval_join_events": """
            WITH c AS (
                SELECT event_id, epoch_us(ts) AS t_us FROM events
                WHERE event_type = 'click'),
            s AS (
                SELECT event_id AS signup_id, epoch_us(ts) AS s_us,
                       epoch_us(ts) + floor(value)::BIGINT * 60000000 AS e_us
                FROM events WHERE event_type = 'signup')
            SELECT c.event_id::BIGINT AS event_id,
                   s.signup_id::BIGINT AS signup_id
            FROM c JOIN s ON c.t_us BETWEEN s.s_us AND s.e_us
        """,
        # ratios are quotients of exact integer counts — single IEEE
        # divisions, bit-identical across engines, no rounding
        "repetition_signals_documents": f"""
            WITH aug AS (
                SELECT doc_id,
                       text || repeat(' spam ham', (doc_id % 5)::INT) AS text
                FROM documents),
            toks AS (SELECT doc_id, unnest({_TOKENS}) AS g FROM aug),
            uni AS (SELECT doc_id, g, count(*)::BIGINT AS c
                    FROM toks GROUP BY 1, 2),
            us AS (SELECT doc_id, sum(c)::BIGINT AS n_tokens,
                          count(*)::BIGINT AS n_distinct,
                          max(c)::BIGINT AS top_c
                   FROM uni GROUP BY 1),
            tl AS (SELECT doc_id, {_TOKENS} AS tokens FROM aug),
            big AS (SELECT doc_id,
                           unnest(list_transform(
                               generate_series(1, len(tokens) - 1),
                               i -> tokens[i] || ' ' || tokens[i + 1])) AS g
                    FROM tl),
            bi AS (SELECT doc_id, g, count(*)::BIGINT AS c
                   FROM big GROUP BY 1, 2),
            bs AS (SELECT doc_id, sum(c)::BIGINT AS n_bi,
                          max(c)::BIGINT AS top_bi
                   FROM bi GROUP BY 1)
            SELECT d.doc_id,
                   coalesce(us.n_tokens, 0)::BIGINT AS n_tokens,
                   CASE WHEN us.n_tokens > 0
                        THEN us.n_distinct / us.n_tokens::DOUBLE
                        ELSE 0.0 END::DOUBLE AS distinct_token_ratio,
                   CASE WHEN us.n_tokens > 0
                        THEN us.top_c / us.n_tokens::DOUBLE
                        ELSE 0.0 END::DOUBLE AS top_token_fraction,
                   CASE WHEN bs.n_bi > 0
                        THEN bs.top_bi / bs.n_bi::DOUBLE
                        ELSE 0.0 END::DOUBLE AS top_bigram_fraction
            FROM documents d
            LEFT JOIN us USING (doc_id) LEFT JOIN bs USING (doc_id)
        """,
        # tolerance-boolean gate for the HLL sketch (same pattern as the
        # quantile-sketch oracles): the oracle pins the exact counts and TRUE
        "approx_distinct_lineitem": """
            SELECT 'l_orderkey' AS col_name,
                   count(DISTINCT l_orderkey)::BIGINT AS exact_distinct,
                   TRUE AS within_tol FROM lineitem
            UNION ALL
            SELECT 'l_quantity', count(DISTINCT l_quantity)::BIGINT, TRUE
            FROM lineitem
            UNION ALL
            SELECT 'l_extendedprice', count(DISTINCT l_extendedprice)::BIGINT,
                   TRUE FROM lineitem
            UNION ALL
            SELECT 'l_returnflag', count(DISTINCT l_returnflag)::BIGINT, TRUE
            FROM lineitem
        """,
        "pii_scrub_documents": r"""
            WITH aug AS (
                SELECT doc_id,
                       text || ' reach user' || doc_id ||
                       '@mail.example from 10.0.' || (doc_id % 256) ||
                       '.7 call +1 555 010 ' || (1000 + doc_id % 9000) AS t0
                FROM documents),
            -- counts follow the redaction chain: each pattern counted
            -- on the text AFTER the earlier patterns' redactions
            s1 AS (SELECT doc_id, t0, regexp_replace(t0,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '[EMAIL]', 'g') AS t1 FROM aug),
            s2 AS (SELECT doc_id, t0, t1, regexp_replace(t1,
                       '\b(\d{1,3}\.){3}\d{1,3}\b', '[IPV4]', 'g') AS t2 FROM s1)
            SELECT doc_id,
                   regexp_replace(t2, '\+?\d[\d ()-]{7,}\d', '[PHONE]', 'g')
                       AS clean_text,
                   len(regexp_extract_all(t0,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_email,
                   len(regexp_extract_all(t1,
                       '\b(\d{1,3}\.){3}\d{1,3}\b'))::BIGINT AS n_ipv4,
                   len(regexp_extract_all(t2,
                       '\+?\d[\d ()-]{7,}\d'))::BIGINT AS n_phone
            FROM s2
        """,
        "tfidf_top_terms_documents": f"""
            WITH toks AS (SELECT doc_id, unnest({_TOKENS}) AS term FROM documents),
            tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
            dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
            n AS (SELECT count(DISTINCT doc_id)::BIGINT AS n FROM documents),
            -- idf='rational': exact integer half-up rounding of
            -- tf*N*1e6/df, then one IEEE-exact /1e6 — bit-identical to
            -- the Spark side (no libm ln in either engine)
            scored AS (SELECT doc_id, tf.term AS term,
                              floor((tf * n.n * 2000000 + df) / (df * 2)) / 1e6
                                  AS score
                       FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN n),
            ranked AS (SELECT doc_id, term, score,
                              row_number() OVER (PARTITION BY doc_id
                                                 ORDER BY score DESC, term) AS rank
                       FROM scored)
            SELECT doc_id, term, score, rank::INT AS rank
            FROM ranked WHERE rank <= 3
        """,
        "categorical_psi_events": f"""
            WITH e AS (SELECT event_type, count(*)::DOUBLE AS c FROM events
                       WHERE user_id % 2 = 0 GROUP BY 1),
            a AS (SELECT event_type, count(*)::DOUBLE AS c FROM events
                  WHERE user_id % 2 = 1 GROUP BY 1),
            cats AS (SELECT event_type FROM e UNION SELECT event_type FROM a),
            p AS (SELECT cats.event_type,
                         greatest(coalesce(e.c, 0) / (SELECT sum(c) FROM e), {PSI_EPS}) AS pe,
                         greatest(coalesce(a.c, 0) / (SELECT sum(c) FROM a), {PSI_EPS}) AS pa
                  FROM cats LEFT JOIN e USING (event_type) LEFT JOIN a USING (event_type))
            SELECT round(sum((pa - pe) * ln(pa / pe)), 6)::DOUBLE AS psi FROM p
        """,
        "exact_dup_documents": f"""
            WITH doubled AS (SELECT * FROM documents UNION ALL SELECT * FROM documents),
            hashed AS (SELECT doc_id, md5({_NORM}) AS content_hash FROM doubled),
            groups AS (SELECT content_hash, count(*)::BIGINT AS group_size
                       FROM hashed GROUP BY content_hash HAVING count(*) > 1)
            SELECT DISTINCT h.doc_id, h.content_hash, g.group_size
            FROM hashed h JOIN groups g USING (content_hash)
        """,
        "minhash_bands_documents": _sql_bands(),
        "lsh_candidates_documents": f"""
            WITH bands AS ({_sql_bands()})
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
            WHERE a.doc_id < b.doc_id
        """,
        "jaccard_pairs_documents": f"""
            WITH toks AS (SELECT doc_id, list_distinct(string_split({_NORM}, ' ')) AS t
                          FROM documents)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(len(list_intersect(a.t, b.t))::DOUBLE
                         / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))), 6)::DOUBLE AS jaccard
            FROM toks a, toks b
            WHERE a.doc_id < b.doc_id
              AND len(list_intersect(a.t, b.t))::DOUBLE
                  / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))) >= {JACCARD_THRESHOLD}
        """,
        "token_count_documents": f"""
            SELECT doc_id, len({_TOKENS})::BIGINT AS n_tokens,
                   length(text)::BIGINT AS n_chars
            FROM documents
        """,
        "language_id_documents": f"""
            WITH r AS ({_sql_lang_ratios()}),
            m AS (SELECT doc_id, r_de, r_en, r_es, r_fr,
                         greatest(r_de, r_en, r_es, r_fr) AS best FROM r)
            SELECT doc_id,
                   CASE WHEN best <= 0 THEN 'und' {lang_case} ELSE 'und' END AS lang_pred
            FROM m
        """,
        "quality_documents": f"""
            WITH base AS (
                SELECT doc_id,
                       least(length(text)::DOUBLE / 500.0, 1.0) AS len_score,
                       length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g'))::DOUBLE
                           / greatest(length(text), 1) AS punct_ratio,
                       len(list_filter({_TOKENS}, x -> list_contains([{stops_lst}], x)))::DOUBLE
                           / greatest(len({_TOKENS}), 1) AS stop_ratio
                FROM documents)
            SELECT doc_id,
                   round(len_score, 6)::DOUBLE AS len_score,
                   round(punct_ratio, 6)::DOUBLE AS punct_ratio,
                   round(stop_ratio, 6)::DOUBLE AS stop_ratio,
                   round(0.4 * len_score + 0.3 * (1.0 - least(punct_ratio * 5, 1.0))
                         + 0.3 * least(stop_ratio * 4, 1.0), 6)::DOUBLE AS quality
            FROM base
        """,
        "fingerprint_documents": f"""
            WITH sh AS ({_sql_shingles()}),
            hashed AS (SELECT DISTINCT doc_id, md5(shingle) AS sh FROM sh),
            ranked AS (SELECT doc_id, sh,
                              row_number() OVER (PARTITION BY doc_id ORDER BY sh) AS rk
                       FROM hashed)
            SELECT doc_id, md5(string_agg(sh, ',' ORDER BY sh)) AS fingerprint
            FROM ranked WHERE rk <= {FINGERPRINT_K} GROUP BY doc_id
        """,
        "top_tokens_documents": f"""
            WITH toks AS (SELECT unnest({_TOKENS}) AS token FROM documents),
            c AS (SELECT token, count(*)::BIGINT AS cnt FROM toks GROUP BY token)
            SELECT token, cnt FROM c ORDER BY cnt DESC, token ASC LIMIT 20
        """,
        "simhash_documents": _sql_simhash(),
        "embedding_near_dup": """
            WITH doubled AS (
                SELECT vec_id, embedding FROM embeddings
                UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings),
            pairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos
                FROM doubled a, doubled b WHERE a.vec_id < b.vec_id)
            SELECT id_a, id_b, round(cos, 6)::DOUBLE AS cosine
            FROM pairs WHERE cos >= 0.9999
        """,
        "jaccard_on_lsh_candidates": f"""
            WITH bands AS ({_sql_bands()}),
            cand AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
                WHERE a.doc_id < b.doc_id),
            toks AS (SELECT doc_id, list_distinct(string_split({_NORM}, ' ')) AS t
                     FROM documents)
            SELECT c.id_a, c.id_b,
                   round(len(list_intersect(a.t, b.t))::DOUBLE
                         / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))), 6)::DOUBLE AS jaccard
            FROM cand c JOIN toks a ON c.id_a = a.doc_id JOIN toks b ON c.id_b = b.doc_id
        """,
        "ivf_knn": f"""
            WITH {_sql_ivf_assigned("embeddings", 8)},
            probes AS (
                SELECT query_id, qv, bucket FROM (
                    SELECT q.vec_id AS query_id, q.embedding::DOUBLE[] AS qv,
                           c.cid AS bucket,
                           row_number() OVER (
                               PARTITION BY q.vec_id
                               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.cvec) DESC,
                                        c.cid ASC) AS rk
                    FROM embeddings q CROSS JOIN cents c
                    WHERE q.vec_id < {KNN_QUERIES})
                WHERE rk <= 3),
            cand AS (
                SELECT p.query_id, a.vec_id AS neighbor_id,
                       list_cosine_similarity(a.v, p.qv) AS cos
                FROM probes p JOIN assigned a ON a.bucket = p.bucket
                WHERE a.vec_id <> p.query_id),
            r AS (SELECT query_id, neighbor_id,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY cos DESC, neighbor_id ASC) AS rk
                  FROM cand)
            SELECT query_id, neighbor_id, rk::BIGINT AS "rank" FROM r WHERE rk <= {KNN_K}
        """,
        "embedding_near_dup_ivf": f"""
            WITH doubled AS (
                SELECT vec_id, embedding FROM embeddings
                UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings),
            {_sql_ivf_assigned("doubled", 8)},
            cand AS (
                SELECT a.vec_id AS id_a, a.v AS va, b.vec_id AS id_b, b.v AS vb
                FROM assigned a JOIN assigned b ON a.bucket = b.bucket
                WHERE a.vec_id < b.vec_id)
            SELECT id_a, id_b,
                   round(list_cosine_similarity(va, vb), 6)::DOUBLE AS cosine
            FROM cand WHERE list_cosine_similarity(va, vb) >= 0.9999
        """,
        # stream replay must equal the batch twin, so both keys share
        # the same batch-sessionization oracle
        "sessionization_stream_replay": """
            WITH flagged AS (
                SELECT user_id, ts,
                       CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                              OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800
                            THEN 1 ELSE 0 END AS new_s
                FROM events),
            sess AS (
                SELECT user_id,
                       sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING) AS session_id
                FROM flagged),
            per AS (SELECT user_id, session_id, count(*) AS events
                    FROM sess GROUP BY user_id, session_id)
            SELECT user_id, count(*)::BIGINT AS n_sessions,
                   sum(events)::BIGINT AS n_events,
                   max(events)::BIGINT AS max_session_events
            FROM per GROUP BY user_id
        """,
        "sessionization_events": """
            WITH flagged AS (
                SELECT user_id, ts,
                       CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                              OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800
                            THEN 1 ELSE 0 END AS new_s
                FROM events),
            sess AS (
                SELECT user_id,
                       sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING) AS session_id
                FROM flagged),
            per AS (SELECT user_id, session_id, count(*) AS events
                    FROM sess GROUP BY user_id, session_id)
            SELECT user_id, count(*)::BIGINT AS n_sessions,
                   sum(events)::BIGINT AS n_events,
                   max(events)::BIGINT AS max_session_events
            FROM per GROUP BY user_id
        """,
        "knn_bruteforce": f"""
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                       FROM embeddings WHERE vec_id < {KNN_QUERIES}),
            s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                         list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS cos
                  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
            r AS (SELECT query_id, neighbor_id,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY cos DESC, neighbor_id ASC) AS rk
                  FROM s)
            SELECT query_id, neighbor_id, rk::BIGINT AS "rank" FROM r WHERE rk <= {KNN_K}
        """,
        "events_hourly_counts": """
            SELECT date_trunc('hour', ts) AS hour_start, event_type,
                   count(*)::BIGINT AS cnt
            FROM events GROUP BY 1, 2
        """,
        "dup_clusters_documents": f"""
            WITH RECURSIVE bands AS ({_sql_bands()}),
            cand AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
                WHERE a.doc_id < b.doc_id),
            edges AS (SELECT id_a AS src, id_b AS dst FROM cand
                      UNION SELECT id_b, id_a FROM cand),
            nodes AS (SELECT DISTINCT src AS id FROM edges),
            walk(node, label) AS (
                SELECT id, id FROM nodes
                UNION
                SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
            )
            SELECT node AS doc_id, min(label) AS cluster_id
            FROM walk GROUP BY node
        """,
        "image_validation": _sql_image_golden(2000),
        "audio_validation": """
            SELECT 'clip_' || lpad(i::VARCHAR, 5, '0') AS clip_id,
                   (i % 10 <> 9) AS decode_ok,
                   CASE WHEN i % 10 <> 9 THEN 8000 END::INT AS rate,
                   CASE WHEN i % 10 <> 9 THEN 4000 + (i % 5) * 1000 END::BIGINT AS n_samples,
                   CASE WHEN i % 10 <> 9 THEN 1 END::INT AS n_channels
            FROM (SELECT unnest(generate_series(0, 499)) AS i)
        """,
        "video_validation": """
            SELECT 'vid_' || lpad(i::VARCHAR, 5, '0') AS video_id,
                   (i % 10 <> 9) AS decode_ok,
                   CASE WHEN i % 10 <> 9 THEN 16 + (i % 2) * 8 END::INT AS w,
                   CASE WHEN i % 10 <> 9 THEN 8 + (i % 2) * 8 END::INT AS h,
                   CASE WHEN i % 10 <> 9 THEN 2 + (i % 4) END::BIGINT AS n_frames,
                   CASE WHEN i % 10 <> 9 THEN 25 + (i % 2) * 5 END::INT AS fps_num,
                   CASE WHEN i % 10 <> 9 THEN 1 END::INT AS fps_den,
                   CASE WHEN i % 10 = 9 THEN NULL
                        WHEN i % 3 = 0 THEN '420jpeg'
                        WHEN i % 3 = 1 THEN '444'
                        ELSE 'mono' END AS colorspace
            FROM (SELECT unnest(generate_series(0, 499)) AS i)
        """,
        "video_frame_sample_facts": """
            SELECT 'vid_' || lpad(i::VARCHAR, 5, '0') AS video_id,
                   CASE WHEN i % 10 = 9 THEN k
                        ELSE least(2 + (i % 4) - 1, (k * (2 + (i % 4))) // 4)
                   END::INT AS frame_index,
                   (i % 10 = 9) AS is_stub
            FROM (SELECT unnest(generate_series(0, 499)) AS i),
                 (SELECT unnest(generate_series(0, 3)) AS k)
        """,
        "subword_count_documents": r"""
            SELECT doc_id,
                   len(regexp_extract_all(text,
                       '[A-Z]?[a-z]+|[A-Z]+|[0-9]|[^A-Za-z0-9\s]'))::BIGINT AS n_subwords
            FROM documents
        """,
        # bands > max_distance makes the engine's banded LSH provably
        # exhaustive, so the all-pairs filter IS its exact ground truth
        "simhash_near_dup_documents": _sql_simhash_pairs(),
        "phash_near_dup_images": _sql_phash_pairs(PHASH_NEARDUP_N),
        "iqr_outliers_lineitem": _sql_iqr_lineitem(),
        "mad_outliers_lineitem": _sql_mad_lineitem(),
        "phash_bit_drift": _sql_phash_bit_drift(PHASH_NEARDUP_N),
        "phash_caption_consistency": _sql_phash_caption_consistency(PHASH_NEARDUP_N),
        "phash_dup_clusters": _sql_phash_dup_clusters(PHASH_NEARDUP_N),
        "duplicate_phash_images": _sql_duplicate_phash(PHASH_NEARDUP_N),
        "ngram_contamination_documents": f"""
            WITH grams AS (
                SELECT doc_id, list_distinct(list_transform(
                    generate_series(1, len({_TOKENS}) - {NGRAM_CONTAM_N - 1}),
                    i -> array_to_string(
                        list_slice({_TOKENS}, i, i + {NGRAM_CONTAM_N - 1}), ' ')
                )) AS gs
                FROM documents),
            bench AS (
                SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 20 = 0),
            dg AS (SELECT doc_id, unnest(gs) AS g FROM grams),
            hits AS (
                SELECT doc_id, count(*) AS n_c
                FROM dg JOIN bench USING (g) GROUP BY doc_id)
            SELECT g.doc_id::BIGINT AS doc_id,
                   len(g.gs)::BIGINT AS n_grams,
                   coalesce(h.n_c, 0)::BIGINT AS n_contaminated,
                   coalesce(h.n_c, 0)::DOUBLE
                       / greatest(len(g.gs), 1)::DOUBLE AS contamination
            FROM grams g LEFT JOIN hits h USING (doc_id)
        """,
        "pack_sequences_documents": f"""
            WITH tc AS (
                SELECT doc_id, len({_TOKENS})::BIGINT AS tokens FROM documents),
            packed AS (
                SELECT doc_id, tokens, doc_id % {PACK_SHARDS} AS shard,
                       coalesce(sum(tokens) OVER (
                           PARTITION BY doc_id % {PACK_SHARDS} ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS seq_offset
                FROM tc)
            SELECT doc_id::BIGINT AS doc_id, tokens::BIGINT AS tokens,
                   shard::BIGINT AS shard,
                   floor(seq_offset / {PACK_BUDGET})::BIGINT AS seq_id,
                   seq_offset::BIGINT AS seq_offset
            FROM packed
        """,
        "deterministic_sample_documents": _sql_deterministic_sample(),
        "mixture_sample_documents": _sql_mixture_sample(),
        "dup_shingle_fraction_documents": f"""
            WITH grams AS (
                SELECT doc_id, list_distinct(list_transform(
                    generate_series(1, len({_TOKENS}) - {DUP_SHINGLE_N - 1}),
                    i -> array_to_string(
                        list_slice({_TOKENS}, i, i + {DUP_SHINGLE_N - 1}), ' ')
                )) AS gs
                FROM documents),
            dg AS (SELECT doc_id, unnest(gs) AS g FROM grams),
            dfreq AS (SELECT g, count(*) AS df_docs FROM dg GROUP BY g),
            per AS (
                SELECT doc_id, count(*) AS n_shingles,
                       sum(CASE WHEN df_docs >= 2 THEN 1 ELSE 0 END) AS n_dup
                FROM dg JOIN dfreq USING (g) GROUP BY doc_id)
            SELECT d.doc_id::BIGINT AS doc_id,
                   coalesce(p.n_shingles, 0)::BIGINT AS n_shingles,
                   coalesce(p.n_dup, 0)::BIGINT AS n_dup,
                   coalesce(p.n_dup, 0)::DOUBLE
                       / greatest(coalesce(p.n_shingles, 0), 1)::DOUBLE
                       AS dup_fraction
            FROM documents d LEFT JOIN per p USING (doc_id)
        """,
        "chunk_documents": f"""
            WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
            c AS (
                SELECT doc_id, toks,
                       unnest(generate_series(
                           0, (len(toks) - 1) // {CHUNK_STRIDE})) AS chunk_id
                FROM t WHERE len(toks) > 0)
            SELECT doc_id::BIGINT AS doc_id,
                   chunk_id::INT AS chunk_id,
                   array_to_string(list_slice(
                       toks, chunk_id * {CHUNK_STRIDE} + 1,
                       chunk_id * {CHUNK_STRIDE} + {CHUNK_TOKENS}), ' ')
                       AS chunk_text,
                   len(list_slice(
                       toks, chunk_id * {CHUNK_STRIDE} + 1,
                       chunk_id * {CHUNK_STRIDE} + {CHUNK_TOKENS}))::BIGINT
                       AS n_tokens
            FROM c
        """,
        "label_centroids_embeddings": """
            WITH ex AS (
                SELECT label,
                       unnest(range(len(embedding))) AS dim,
                       unnest(embedding) AS val
                FROM embeddings WHERE embedding IS NOT NULL),
            q AS (
                SELECT label, dim,
                       floor(val::DOUBLE * 1000000)::BIGINT AS q
                FROM ex)
            SELECT label::INT AS label, dim::INT AS dim,
                   sum(q)::BIGINT AS sum_q, count(*)::BIGINT AS n,
                   sum(q)::DOUBLE / (count(*) * 1000000)::DOUBLE AS centroid
            FROM q GROUP BY label, dim
        """,
        "group_split_documents": _sql_group_split(),
        "keep_best_canonical_documents": f"""
            WITH RECURSIVE bands AS ({_sql_bands()}),
            cand AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
                WHERE a.doc_id < b.doc_id),
            edges AS (SELECT id_a AS src, id_b AS dst FROM cand
                      UNION SELECT id_b, id_a FROM cand),
            nodes AS (SELECT DISTINCT src AS id FROM edges),
            walk(node, label) AS (
                SELECT id, id FROM nodes
                UNION
                SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
            ),
            clusters AS (
                SELECT node AS doc_id, min(label) AS cluster_id
                FROM walk GROUP BY node),
            qual AS (
                SELECT doc_id,
                       round(0.4 * least(length(text)::DOUBLE / 500.0, 1.0)
                             + 0.3 * (1.0 - least(
                                 length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g'))::DOUBLE
                                     / greatest(length(text), 1) * 5, 1.0))
                             + 0.3 * least(
                                 len(list_filter({_TOKENS}, x -> list_contains([{stops_lst}], x)))::DOUBLE
                                     / greatest(len({_TOKENS}), 1) * 4, 1.0),
                             6)::DOUBLE AS quality
                FROM documents),
            r AS (
                SELECT c.cluster_id, c.doc_id, q.quality,
                       row_number() OVER (
                           PARTITION BY c.cluster_id
                           ORDER BY q.quality DESC, c.doc_id) AS rn,
                       count(*) OVER (PARTITION BY c.cluster_id) AS n_members
                FROM clusters c JOIN qual q USING (doc_id))
            SELECT cluster_id::BIGINT AS cluster_id,
                   doc_id::BIGINT AS canonical_id,
                   quality AS canonical_score,
                   n_members::BIGINT AS n_members
            FROM r WHERE rn = 1
        """,
        "dedup_stream_replay": """
            WITH c AS (
                SELECT user_id, event_id, epoch_us(ts) AS us
                FROM events WHERE event_type = 'click'),
            r AS (
                SELECT user_id, event_id, us,
                       row_number() OVER (
                           PARTITION BY user_id ORDER BY us, event_id) AS rn
                FROM c)
            SELECT user_id::BIGINT AS user_id, event_id::BIGINT AS event_id,
                   us::BIGINT AS first_us
            FROM r WHERE rn = 1
        """,
        "rolling_event_features": f"""
            WITH e AS (
                SELECT event_id, user_id, epoch_us(ts) AS t_us,
                       floor(value * 100)::BIGINT AS cents
                FROM events WHERE ts IS NOT NULL)
            SELECT event_id::BIGINT AS event_id, user_id::BIGINT AS user_id,
                   t_us::BIGINT AS t_us,
                   (count(*) OVER w)::BIGINT AS w_count,
                   coalesce(sum(cents) OVER w, 0)::BIGINT AS w_sum_cents,
                   (max(cents) OVER w)::BIGINT AS w_max_cents
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY t_us
                         RANGE BETWEEN {ROLLING_WINDOW_SEC * 1_000_000} PRECEDING
                         AND CURRENT ROW)
        """,
        "token_rarity_documents": f"""
            WITH toks AS (
                SELECT doc_id, unnest(list_distinct({_TOKENS})) AS tok
                FROM documents),
            dfreq AS (SELECT tok, count(*) AS dfq FROM toks GROUP BY tok),
            per AS (
                SELECT doc_id,
                       count(*) AS n_distinct_tokens,
                       min(dfq) AS min_df,
                       sum(CASE WHEN dfq = 1 THEN 1 ELSE 0 END) AS n_hapax,
                       sum(CASE WHEN dfq <= {RARE_DOC_THRESHOLD} THEN 1 ELSE 0 END) AS n_rare
                FROM toks JOIN dfreq USING (tok) GROUP BY doc_id)
            SELECT d.doc_id::BIGINT AS doc_id,
                   coalesce(p.n_distinct_tokens, 0)::BIGINT AS n_distinct_tokens,
                   p.min_df::BIGINT AS min_df,
                   coalesce(p.n_hapax, 0)::BIGINT AS n_hapax,
                   coalesce(p.n_rare, 0)::BIGINT AS n_rare
            FROM documents d LEFT JOIN per p USING (doc_id)
        """,
        "aspect_bucket_batches": _sql_aspect_buckets(),
        "pixel_fidelity_images": _sql_pixel_fidelity(),
        "centroid_outliers_embeddings": f"""
            WITH ex AS (
                SELECT vec_id, label,
                       unnest(range(len(embedding))) AS dim,
                       unnest(embedding) AS val
                FROM embeddings WHERE embedding IS NOT NULL),
            q AS (SELECT vec_id, label, dim,
                         floor(val::DOUBLE * 1000000)::BIGINT AS q
                  FROM ex),
            cent AS (
                SELECT label, dim,
                       floor(sum(q)::DOUBLE / count(*)::DOUBLE)::BIGINT AS c_q
                FROM q GROUP BY label, dim),
            d AS (
                SELECT vec_id, q.label,
                       sum((q - c_q) * (q - c_q))::BIGINT AS dist2_q
                FROM q JOIN cent ON cent.label = q.label AND cent.dim = q.dim
                GROUP BY vec_id, q.label)
            SELECT vec_id::BIGINT AS vec_id, label::INT AS label, dist2_q,
                   sqrt(dist2_q::DOUBLE) / 1000000.0 AS dist,
                   (dist2_q::DOUBLE > {(OUTLIER_DIST * 1_000_000.0) ** 2}) AS is_outlier
            FROM d
        """,
        "windowed_psi_events": f"""
            WITH v AS (
                SELECT date_trunc('hour', ts) AS h,
                       greatest(0, least({WPSI_BINS - 1},
                           floor((value - {WPSI_LO}) / {(WPSI_HI - WPSI_LO) / WPSI_BINS})))::BIGINT AS bin
                FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
            ref AS (SELECT bin, count(*)::DOUBLE AS cnt FROM v GROUP BY bin),
            wb AS (SELECT h, bin, count(*)::DOUBLE AS cnt FROM v GROUP BY h, bin),
            wt AS (SELECT h, sum(cnt) AS t FROM wb GROUP BY h),
            bins AS (SELECT unnest(generate_series(0, {WPSI_BINS - 1}))::BIGINT AS bin),
            grid AS (SELECT wt.h, wt.t, b.bin FROM wt CROSS JOIN bins b),
            probs AS (
                SELECT g.h,
                       greatest(coalesce(wb.cnt, 0) / g.t, {PSI_EPS}) AS pa,
                       greatest(coalesce(r.cnt, 0)
                                / (SELECT sum(cnt) FROM ref), {PSI_EPS}) AS pe
                FROM grid g
                LEFT JOIN wb ON wb.h = g.h AND wb.bin = g.bin
                LEFT JOIN ref r ON r.bin = g.bin)
            SELECT h AS hour_start,
                   round(sum((pa - pe) * ln(pa / pe)), 6)::DOUBLE AS psi
            FROM probs GROUP BY h
        """,
        "skip_scan_orders": f"""
            SELECT o_orderstatus,
                   count(*)::BIGINT AS n,
                   sum(floor(o_totalprice * 100)::BIGINT)::BIGINT AS sum_cents
            FROM orders
            WHERE o_orderkey BETWEEN {SKIP_LO} AND {SKIP_HI}
            GROUP BY o_orderstatus
        """,
        "schema_evolution_orders": """
            SELECT o_orderstatus,
                   count(*)::BIGINT AS n,
                   sum(o_orderkey)::BIGINT AS sum_key,
                   sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)::BIGINT
                       AS n_flagged
            FROM orders
            GROUP BY o_orderstatus
        """,
        "cross_table_ship_gap": """
            SELECT l_orderkey, l_linenumber,
                   date_diff('day', o_orderdate::DATE, l_shipdate::DATE)::INT
                       AS gap_days
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE date_diff('day', o_orderdate::DATE, l_shipdate::DATE) > 90
        """,
        "correlation_profile_lineitem": """
            WITH s AS (
                SELECT floor(l_quantity)::BIGINT AS q,
                       floor(l_extendedprice * 100)::BIGINT AS c,
                       floor(l_discount * 10000)::BIGINT AS d,
                       floor(l_tax * 10000)::BIGINT AS t
                FROM lineitem
            ), a AS (
                SELECT count(*)::DOUBLE AS n,
                       sum(q)::DOUBLE AS sq, sum(c)::DOUBLE AS sc,
                       sum(d)::DOUBLE AS sd, sum(t)::DOUBLE AS st,
                       sum(q*q)::DOUBLE AS sqq, sum(c*c)::DOUBLE AS scc,
                       sum(d*d)::DOUBLE AS sdd, sum(t*t)::DOUBLE AS stt,
                       sum(q*c)::DOUBLE AS sqc, sum(d*t)::DOUBLE AS sdt,
                       sum(q*d)::DOUBLE AS sqd
                FROM s
            )
            SELECT 'qty' AS x, 'cents' AS y, n::BIGINT AS n,
                   round((n*sqc - sq*sc)
                         / sqrt((n*sqq - sq*sq) * (n*scc - sc*sc)), 6) AS corr
            FROM a
            UNION ALL
            SELECT 'disc_bp', 'tax_bp', n::BIGINT,
                   round((n*sdt - sd*st)
                         / sqrt((n*sdd - sd*sd) * (n*stt - st*st)), 6)
            FROM a
            UNION ALL
            SELECT 'qty', 'disc_bp', n::BIGINT,
                   round((n*sqd - sq*sd)
                         / sqrt((n*sqq - sq*sq) * (n*sdd - sd*sd)), 6)
            FROM a
        """,
        "entropy_profile_lineitem": """
            WITH rf AS (
                SELECT count(*)::BIGINT AS cnt FROM lineitem
                WHERE l_returnflag IS NOT NULL GROUP BY l_returnflag
            ), ls AS (
                SELECT count(*)::BIGINT AS cnt FROM lineitem
                WHERE l_linestatus IS NOT NULL GROUP BY l_linestatus
            ), sm AS (
                SELECT count(*)::BIGINT AS cnt FROM lineitem
                WHERE l_suppkey IS NOT NULL GROUP BY l_suppkey
            )
            SELECT 'l_returnflag' AS "column", count(*)::BIGINT AS n_values,
                   sum(cnt)::BIGINT AS n_rows,
                   round(ln(sum(cnt)::DOUBLE)
                         - sum(cnt::DOUBLE * ln(cnt::DOUBLE))
                           / sum(cnt)::DOUBLE, 6) AS entropy
            FROM rf
            UNION ALL
            SELECT 'l_linestatus', count(*)::BIGINT, sum(cnt)::BIGINT,
                   round(ln(sum(cnt)::DOUBLE)
                         - sum(cnt::DOUBLE * ln(cnt::DOUBLE))
                           / sum(cnt)::DOUBLE, 6)
            FROM ls
            UNION ALL
            SELECT 'l_suppkey', count(*)::BIGINT, sum(cnt)::BIGINT,
                   round(ln(sum(cnt)::DOUBLE)
                         - sum(cnt::DOUBLE * ln(cnt::DOUBLE))
                           / sum(cnt)::DOUBLE, 6)
            FROM sm
        """,
        "grouped_completeness_lineitem": """
            WITH s AS (
                SELECT l_returnflag AS grp,
                       CASE WHEN l_discount != 0 THEN l_discount END AS disc_nn,
                       CASE WHEN l_tax != 0 THEN l_tax END AS tax_nn
                FROM lineitem
            ), g AS (
                SELECT grp, count(*)::BIGINT AS n,
                       count(disc_nn)::BIGINT AS nn_d,
                       count(tax_nn)::BIGINT AS nn_t
                FROM s GROUP BY grp
            )
            SELECT grp AS "group", 'disc_nn' AS "column", n AS n_rows,
                   nn_d AS n_nonnull,
                   round(nn_d::DOUBLE / n::DOUBLE, 6) AS completeness,
                   (nn_d::DOUBLE / n::DOUBLE) < 0.95 AS below_threshold
            FROM g
            UNION ALL
            SELECT grp, 'tax_nn', n, nn_t,
                   round(nn_t::DOUBLE / n::DOUBLE, 6),
                   (nn_t::DOUBLE / n::DOUBLE) < 0.95
            FROM g
        """,
        "key_skew_events": """
            WITH c AS (
                SELECT user_id::VARCHAR AS key_value, count(*)::BIGINT AS n_rows
                FROM events GROUP BY 1
            ), t AS (
                SELECT sum(n_rows)::BIGINT AS total_rows,
                       count(*)::BIGINT AS n_keys
                FROM c
            ), top AS (
                SELECT key_value, n_rows,
                       row_number() OVER (ORDER BY n_rows DESC,
                                          key_value ASC NULLS FIRST) AS rank
                FROM c QUALIFY rank <= 10
            )
            SELECT rank::INT AS rank, key_value, n_rows,
                   round(n_rows::DOUBLE / total_rows::DOUBLE, 6) AS share,
                   round(n_rows::DOUBLE * n_keys::DOUBLE
                         / total_rows::DOUBLE, 6) AS skew,
                   n_keys, total_rows
            FROM top CROSS JOIN t
        """,
        "freshness_events": f"""
            WITH g AS (
                SELECT (user_id % 97)::BIGINT AS shard, max(ts) AS last_ts
                FROM events GROUP BY 1
            ), l AS (
                SELECT shard, last_ts,
                       floor(date_diff('microseconds', last_ts,
                                       TIMESTAMP '{FRESH_AS_OF}')
                             / 1000000.0)::BIGINT AS lag_seconds
                FROM g
            )
            SELECT shard AS "group", last_ts, lag_seconds,
                   lag_seconds > {FRESH_MAX_LAG} AS stale
            FROM l
        """,
        "category_diff_events": """
            WITH e AS (
                SELECT concat(user_id % 50, ':',
                              json_extract_string(props, '$.k')) AS category,
                       CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS b,
                       CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS c
                FROM events
            )
            SELECT category, sum(b)::BIGINT AS n_base,
                   sum(c)::BIGINT AS n_current,
                   CASE WHEN sum(b) = 0 THEN 'new'
                        WHEN sum(c) = 0 THEN 'vanished'
                        ELSE 'kept' END AS status
            FROM e GROUP BY 1
            HAVING sum(b) > 0 OR sum(c) > 0
        """,
        "strip_boilerplate_documents": f"""
            WITH t AS (SELECT doc_id, source, {_TOKENS} AS toks FROM documents),
            c AS (
                SELECT doc_id, source, toks,
                       unnest(generate_series(
                           0, (len(toks) - 1) // {BP_LINE_TOKENS})) AS i
                FROM t WHERE len(toks) > 0
            ),
            lines AS (
                SELECT doc_id, source, i,
                       array_to_string(list_slice(
                           toks, i * {BP_LINE_TOKENS} + 1,
                           i * {BP_LINE_TOKENS} + {BP_LINE_TOKENS}), ' ') AS line
                FROM c
            ),
            bp AS (
                SELECT source, line FROM lines
                GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 2
            ),
            fl AS (
                SELECT l.doc_id, l.i, l.line, (bp.line IS NOT NULL) AS is_bp
                FROM lines l LEFT JOIN bp
                  ON l.source = bp.source AND l.line = bp.line
            )
            SELECT doc_id::BIGINT AS doc_id,
                   coalesce(string_agg(CASE WHEN NOT is_bp THEN line END,
                                       ' ' ORDER BY i), '') AS clean_text,
                   count(*)::BIGINT AS n_lines,
                   sum(CASE WHEN is_bp THEN 1 ELSE 0 END)::BIGINT AS n_removed
            FROM fl GROUP BY doc_id
        """,
        "frequent_values_lineitem": """
            WITH s AS (
                SELECT 'l_returnflag' AS col, l_returnflag::VARCHAR AS value FROM lineitem
                UNION ALL
                SELECT 'l_linestatus', l_linestatus::VARCHAR FROM lineitem
                UNION ALL
                SELECT 'l_linenumber', l_linenumber::VARCHAR FROM lineitem
            ), c AS (
                SELECT col, value, count(*)::BIGINT AS n_rows
                FROM s GROUP BY 1, 2
            ), r AS (
                SELECT col, value, n_rows,
                       row_number() OVER (PARTITION BY col
                                          ORDER BY n_rows DESC,
                                                   value ASC NULLS FIRST) AS rank
                FROM c
            )
            SELECT col AS "column", value, n_rows, rank::INT AS rank
            FROM r WHERE rank <= 5
        """,
        "type_inference_staged": _type_inference_oracle(),
        "funnel_events": f"""
            WITH u1 AS (
                SELECT user_id, min(ts) AS t FROM events
                WHERE event_type = '{FUNNEL_STAGES[0]}' GROUP BY 1
            ), u2 AS (
                SELECT e.user_id, min(e.ts) AS t FROM events e
                JOIN u1 ON e.user_id = u1.user_id
                WHERE e.event_type = '{FUNNEL_STAGES[1]}' AND e.ts > u1.t
                GROUP BY 1
            ), u3 AS (
                SELECT e.user_id, min(e.ts) AS t FROM events e
                JOIN u2 ON e.user_id = u2.user_id
                WHERE e.event_type = '{FUNNEL_STAGES[2]}' AND e.ts > u2.t
                GROUP BY 1
            )
            SELECT 1::INT AS stage_idx, '{FUNNEL_STAGES[0]}' AS stage,
                   count(*)::BIGINT AS n_users FROM u1
            UNION ALL
            SELECT 2::INT, '{FUNNEL_STAGES[1]}', count(*)::BIGINT FROM u2
            UNION ALL
            SELECT 3::INT, '{FUNNEL_STAGES[2]}', count(*)::BIGINT FROM u3
        """,
        "group_cap_documents": f"""
            WITH r AS (
                SELECT doc_id, source,
                       row_number() OVER (
                           PARTITION BY source
                           ORDER BY md5(concat('cap-v1', doc_id::VARCHAR)),
                                    doc_id) AS rk
                FROM documents
            )
            SELECT doc_id::BIGINT AS doc_id, source
            FROM r WHERE rk <= {GROUP_CAP}
        """,
        "embedding_validation": """
            WITH staged AS (
                SELECT vec_id,
                       CASE
                           WHEN vec_id % 97 = 0
                               THEN list_slice(embedding, 1, len(embedding) - 1)
                           WHEN vec_id % 89 = 0
                               THEN list_concat(['NaN'::FLOAT],
                                        list_slice(embedding, 2, len(embedding)))
                           WHEN vec_id % 83 = 0
                               THEN list_transform(embedding, x -> 0.0::FLOAT)
                           ELSE embedding
                       END AS embedding
                FROM embeddings
            ), m AS (
                SELECT vec_id, embedding,
                       len(embedding) AS dim,
                       len(list_filter(embedding,
                           x -> x IS NOT NULL AND isnan(x::DOUBLE))) > 0 AS has_nan,
                       len(list_filter(embedding,
                           x -> x IS NOT NULL AND isinf(x::DOUBLE))) > 0 AS has_inf,
                       len(list_filter(embedding, x -> x IS NULL)) AS n_null
                FROM staged
            )
            SELECT vec_id, dim::INT AS dim,
                   coalesce(dim = 64, false) AS dim_ok,
                   n_null::INT AS n_null_components,
                   coalesce(has_nan, false) AS has_nan,
                   coalesce(has_inf, false) AS has_inf,
                   CASE WHEN embedding IS NOT NULL AND NOT has_nan
                             AND NOT has_inf AND n_null = 0
                        THEN list_sum(list_transform(embedding,
                                 x -> floor(x::DOUBLE * 1000.0)::BIGINT
                                      * floor(x::DOUBLE * 1000.0)::BIGINT))::BIGINT
                   END AS micro_sumsq,
                   coalesce(CASE WHEN embedding IS NOT NULL AND NOT has_nan
                                      AND NOT has_inf AND n_null = 0
                                 THEN list_sum(list_transform(embedding,
                                      x -> floor(x::DOUBLE * 1000.0)::BIGINT
                                           * floor(x::DOUBLE * 1000.0)::BIGINT)) = 0
                            END, false) AS zero_norm,
                   coalesce(dim = 64, false)
                       AND NOT coalesce(has_nan, true)
                       AND NOT coalesce(has_inf, true)
                       AND n_null = 0
                       AND coalesce(CASE WHEN embedding IS NOT NULL AND NOT has_nan
                                              AND NOT has_inf AND n_null = 0
                                         THEN list_sum(list_transform(embedding,
                                              x -> floor(x::DOUBLE * 1000.0)::BIGINT
                                                   * floor(x::DOUBLE * 1000.0)::BIGINT)) != 0
                                    END, false) AS ok
            FROM m
        """,
        "uniqueness_metrics_documents": """
            WITH ci AS (
                SELECT doc_id::VARCHAR AS v, count(*)::BIGINT AS cnt
                FROM documents GROUP BY 1
            ), cl AS (
                SELECT lang AS v, count(*)::BIGINT AS cnt
                FROM documents GROUP BY 1
            ), cs AS (
                SELECT source AS v, count(*)::BIGINT AS cnt
                FROM documents GROUP BY 1
            )
            SELECT 'doc_id' AS "column",
                   sum(cnt)::BIGINT AS n_rows,
                   sum(CASE WHEN v IS NOT NULL THEN cnt ELSE 0 END)::BIGINT
                       AS n_nonnull,
                   count(CASE WHEN v IS NOT NULL THEN 1 END)::BIGINT
                       AS n_distinct,
                   count(CASE WHEN v IS NOT NULL AND cnt = 1 THEN 1 END)::BIGINT
                       AS n_unique_once,
                   round(sum(CASE WHEN v IS NOT NULL THEN cnt ELSE 0 END)::DOUBLE
                         / sum(cnt)::DOUBLE, 6) AS completeness,
                   round(count(CASE WHEN v IS NOT NULL THEN 1 END)::DOUBLE
                         / sum(CASE WHEN v IS NOT NULL THEN cnt ELSE 0 END)::DOUBLE,
                         6) AS distinctness,
                   round(count(CASE WHEN v IS NOT NULL AND cnt = 1 THEN 1 END)::DOUBLE
                         / sum(CASE WHEN v IS NOT NULL THEN cnt ELSE 0 END)::DOUBLE,
                         6) AS uniqueness
            FROM ci
            UNION ALL
            SELECT 'lang', sum(cnt)::BIGINT,
                   sum(CASE WHEN v IS NOT NULL THEN cnt ELSE 0 END)::BIGINT,
                   count(CASE WHEN v IS NOT NULL THEN 1 END)::BIGINT,
                   count(CASE WHEN v IS NOT NULL AND cnt = 1 THEN 1 END)::BIGINT,
                   round(sum(CASE WHEN v IS NOT NULL THEN cnt ELSE 0 END)::DOUBLE
                         / sum(cnt)::DOUBLE, 6),
                   round(count(CASE WHEN v IS NOT NULL THEN 1 END)::DOUBLE
                         / sum(CASE WHEN v IS NOT NULL THEN cnt ELSE 0 END)::DOUBLE,
                         6),
                   round(count(CASE WHEN v IS NOT NULL AND cnt = 1 THEN 1 END)::DOUBLE
                         / sum(CASE WHEN v IS NOT NULL THEN cnt ELSE 0 END)::DOUBLE,
                         6)
            FROM cl
            UNION ALL
            SELECT 'source', sum(cnt)::BIGINT,
                   sum(CASE WHEN v IS NOT NULL THEN cnt ELSE 0 END)::BIGINT,
                   count(CASE WHEN v IS NOT NULL THEN 1 END)::BIGINT,
                   count(CASE WHEN v IS NOT NULL AND cnt = 1 THEN 1 END)::BIGINT,
                   round(sum(CASE WHEN v IS NOT NULL THEN cnt ELSE 0 END)::DOUBLE
                         / sum(cnt)::DOUBLE, 6),
                   round(count(CASE WHEN v IS NOT NULL THEN 1 END)::DOUBLE
                         / sum(CASE WHEN v IS NOT NULL THEN cnt ELSE 0 END)::DOUBLE,
                         6),
                   round(count(CASE WHEN v IS NOT NULL AND cnt = 1 THEN 1 END)::DOUBLE
                         / sum(CASE WHEN v IS NOT NULL THEN cnt ELSE 0 END)::DOUBLE,
                         6)
            FROM cs
        """,
        "pattern_ratio_events_props": r"""
            SELECT count(props)::BIGINT AS n_nonnull,
                   count(CASE WHEN regexp_matches(props, '^\{"k": \d+\}$')
                              THEN 1 END)::BIGINT AS n_matching,
                   round(count(CASE WHEN regexp_matches(props,
                                        '^\{"k": \d+\}$')
                               THEN 1 END)::DOUBLE
                         / count(props)::DOUBLE, 6) AS ratio
            FROM events
        """,
        "benford_cents_lineitem": """
            WITH c AS (
                SELECT substr(abs(floor(l_extendedprice * 100)::BIGINT)::VARCHAR,
                              1, 1)::INT AS digit,
                       count(*)::BIGINT AS cnt
                FROM lineitem
                WHERE l_extendedprice IS NOT NULL
                  AND floor(l_extendedprice * 100)::BIGINT != 0
                GROUP BY 1
            ), t AS (SELECT sum(cnt)::BIGINT AS tt FROM c)
            SELECT d.digit::INT AS digit,
                   coalesce(cnt, 0)::BIGINT AS n,
                   round(coalesce(cnt, 0)::DOUBLE / tt::DOUBLE, 6)
                       AS p_observed,
                   round(log10(1.0 + 1.0 / d.digit::DOUBLE), 6) AS p_expected
            FROM (SELECT generate_series AS digit
                  FROM generate_series(1, 9)) d
            LEFT JOIN c ON c.digit = d.digit, t
        """,
        "volume_anomalies_events": """
            WITH c AS (
                SELECT date_trunc('day', ts)::TIMESTAMP AS bucket_start,
                       count(*)::BIGINT AS n_rows
                FROM events GROUP BY 1
            ), s AS (
                SELECT count(*)::BIGINT AS n, sum(n_rows)::BIGINT AS sm,
                       sum(n_rows * n_rows)::BIGINT AS q
                FROM c
            )
            SELECT bucket_start, n_rows,
                   ((n_rows * n - sm) * (n_rows * n - sm))
                       > (4 * (n * q - sm * sm)) AS is_anomaly
            FROM c, s
        """,
        "suggest_constraints_orders": """
            WITH p AS (
                SELECT count(*)::BIGINT AS n,
                       count(o_orderkey)::BIGINT AS nn_k,
                       count(DISTINCT o_orderkey)::BIGINT AS d_k,
                       min(o_orderkey)::BIGINT AS mn_k,
                       max(o_orderkey)::BIGINT AS mx_k,
                       count(o_custkey)::BIGINT AS nn_c,
                       count(DISTINCT o_custkey)::BIGINT AS d_c,
                       min(o_custkey)::BIGINT AS mn_c,
                       max(o_custkey)::BIGINT AS mx_c,
                       count(o_orderstatus)::BIGINT AS nn_s,
                       count(DISTINCT o_orderstatus)::BIGINT AS d_s,
                       count(o_orderpriority)::BIGINT AS nn_p,
                       count(DISTINCT o_orderpriority)::BIGINT AS d_p
                FROM orders
            )
            SELECT 'o_orderkey' AS "column", 'not_null' AS code,
                   'o_orderkey IS NOT NULL' AS expression
            FROM p WHERE nn_k = n AND n > 0
            UNION ALL
            SELECT 'o_orderkey', 'unique', 'o_orderkey IS UNIQUE'
            FROM p WHERE nn_k > 0 AND d_k = nn_k
            UNION ALL
            SELECT 'o_orderkey', 'range',
                   'o_orderkey BETWEEN ' || mn_k || ' AND ' || mx_k
            FROM p WHERE nn_k > 0
            UNION ALL
            SELECT 'o_custkey', 'not_null', 'o_custkey IS NOT NULL'
            FROM p WHERE nn_c = n AND n > 0
            UNION ALL
            SELECT 'o_custkey', 'unique', 'o_custkey IS UNIQUE'
            FROM p WHERE nn_c > 0 AND d_c = nn_c
            UNION ALL
            SELECT 'o_custkey', 'range',
                   'o_custkey BETWEEN ' || mn_c || ' AND ' || mx_c
            FROM p WHERE nn_c > 0
            UNION ALL
            SELECT 'o_orderstatus', 'not_null', 'o_orderstatus IS NOT NULL'
            FROM p WHERE nn_s = n AND n > 0
            UNION ALL
            SELECT 'o_orderstatus', 'unique', 'o_orderstatus IS UNIQUE'
            FROM p WHERE nn_s > 0 AND d_s = nn_s
            UNION ALL
            SELECT 'o_orderstatus', 'value_set',
                   'o_orderstatus IN ('
                   || (SELECT string_agg('''' || v || '''', ', ' ORDER BY v)
                       FROM (SELECT DISTINCT o_orderstatus AS v FROM orders
                             WHERE o_orderstatus IS NOT NULL))
                   || ')'
            FROM p WHERE 0 < d_s AND d_s <= 10
            UNION ALL
            SELECT 'o_orderpriority', 'not_null',
                   'o_orderpriority IS NOT NULL'
            FROM p WHERE nn_p = n AND n > 0
            UNION ALL
            SELECT 'o_orderpriority', 'unique', 'o_orderpriority IS UNIQUE'
            FROM p WHERE nn_p > 0 AND d_p = nn_p
            UNION ALL
            SELECT 'o_orderpriority', 'value_set',
                   'o_orderpriority IN ('
                   || (SELECT string_agg('''' || v || '''', ', ' ORDER BY v)
                       FROM (SELECT DISTINCT o_orderpriority AS v FROM orders
                             WHERE o_orderpriority IS NOT NULL))
                   || ')'
            FROM p WHERE 0 < d_p AND d_p <= 10
        """,
        "compact_roundtrip_orders": """
            SELECT o_orderstatus,
                   count(*)::BIGINT AS n,
                   sum(floor(o_totalprice * 100)::BIGINT)::BIGINT AS sum_cents,
                   min(o_orderkey)::BIGINT AS min_key,
                   max(o_orderkey)::BIGINT AS max_key
            FROM orders GROUP BY o_orderstatus
        """,
        "snapshot_diff_orders": f"""
            WITH base AS (
                SELECT o_orderkey::BIGINT AS k, o_totalprice AS p,
                       o_orderpriority AS pr, o_orderstatus AS st
                FROM orders),
            nw AS (
                SELECT k,
                       CASE WHEN k % 7 = 0 THEN p + 1.0 ELSE p END AS p,
                       CASE WHEN k % 11 = 0 THEN 'X-PRIORITY' ELSE pr END AS pr,
                       st
                FROM base WHERE k % 13 <> 0
                UNION ALL
                SELECT k + {CDC_INSERT_OFFSET}, p, pr, 'I'
                FROM base WHERE k % 17 = 0),
            j AS (
                SELECT coalesce(b.k, n.k) AS o_orderkey,
                       b.k IS NOT NULL AS in_b, n.k IS NOT NULL AS in_n,
                       list_filter([
                           CASE WHEN b.pr IS DISTINCT FROM n.pr THEN 'o_orderpriority' END,
                           CASE WHEN b.st IS DISTINCT FROM n.st THEN 'o_orderstatus' END,
                           CASE WHEN b.p  IS DISTINCT FROM n.p  THEN 'o_totalprice' END
                       ], x -> x IS NOT NULL) AS ch
                FROM base b FULL OUTER JOIN nw n ON b.k = n.k)
            SELECT o_orderkey,
                   CASE WHEN in_b AND NOT in_n THEN 'delete'
                        WHEN in_n AND NOT in_b THEN 'insert'
                        ELSE 'update' END AS change_type,
                   CASE WHEN in_b AND in_n
                        THEN array_to_string(ch, ',') ELSE '' END AS changed_cols,
                   (CASE WHEN in_b AND in_n THEN len(ch) ELSE 0 END)::INT AS n_changed
            FROM j
            WHERE NOT (in_b AND in_n AND len(ch) = 0)
        """,
    }
