"""Structured-Streaming validation: same compiled plan over readStream,
watermarked windowed violation counts, clean/quarantine routing."""

from __future__ import annotations

import pytest

from oblate_spark import Schema, fields
from oblate_spark import validate as V
from oblate_spark.streaming import (
    valid_invalid_split,
    validate_stream,
    violation_counts_windowed,
)


class EventRow(Schema):
    event_id = fields.Integer()
    ts = fields.Timestamp()
    user_id = fields.Integer()
    event_type = fields.Literal("click", "view", "purchase", "signup", "logout")
    value = fields.Float(validators=[V.Range(0, 100)])


@pytest.fixture(scope="module")
def events_source(spark, sf001_dir, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("stream_src"))
    df = spark.read.parquet(f"{sf001_dir}/events.parquet").drop("props")
    df.coalesce(2).write.mode("overwrite").parquet(src)
    return src, df


def test_stream_matches_batch(spark, events_source):
    src, batch_df = events_source
    stream = spark.readStream.schema(batch_df.schema).parquet(src)
    annotated = validate_stream(stream, EventRow, row_id="event_id")
    assert annotated.isStreaming

    q = (
        annotated.writeStream.format("memory")
        .queryName("stream_validation")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT count(*) AS n, sum(CASE WHEN _valid THEN 1 ELSE 0 END) AS ok "
        "FROM stream_validation"
    ).collect()[0]

    batch_res = EventRow.validate(batch_df, row_id="event_id")
    exp = batch_res.metrics()
    assert got["n"] == exp["rows"]
    assert got["ok"] == exp["passed"]


def test_windowed_violation_counts(spark, events_source):
    src, batch_df = events_source
    stream = spark.readStream.schema(batch_df.schema).parquet(src)
    annotated = validate_stream(stream, EventRow, row_id="event_id")
    windowed = violation_counts_windowed(annotated, ts_col="ts", window="1 day", watermark="2 days")
    q = (
        windowed.writeStream.format("memory")
        .queryName("windowed_violations")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM windowed_violations").collect()
    assert rows
    total_from_windows = sum(r["cnt"] for r in rows if r["error_code"] != "__ok__")
    batch_total = EventRow.validate(batch_df, row_id="event_id").violations.count()
    assert total_from_windows == batch_total


def test_valid_invalid_split(spark, events_source):
    src, batch_df = events_source
    stream = spark.readStream.schema(batch_df.schema).parquet(src)
    annotated = validate_stream(stream, EventRow, row_id="event_id")
    clean, quarantine = valid_invalid_split(annotated)
    assert clean.isStreaming and quarantine.isStreaming
    assert "_violations" not in clean.columns
    q = (
        clean.writeStream.format("memory")
        .queryName("clean_rows")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n_clean = spark.sql("SELECT count(*) c FROM clean_rows").collect()[0]["c"]
    exp = EventRow.validate(batch_df, row_id="event_id").metrics()
    assert n_clean == exp["passed"]


class StagedReading(Schema):
    q = fields.Float(validators=[V.Range(0, 50)])


def test_staged_stream_matches_batch(spark, tmp_path):
    """A staged (JSON-string) stream gets the batch path's violations:
    its check expressions reference the per-field helper columns, which
    the stream must project too; the helpers stay out of the output."""
    src = str(tmp_path / "staged_src")
    batch = spark.createDataFrame(
        [("0", "1.5"), ("1", '"bad"'), ("2", "99.0")], "row_id string, q string"
    )
    batch.write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    annotated = validate_stream(stream, StagedReading, mode="staged")
    assert not [c for c in annotated.columns if c.startswith("__sp_")]
    q = (
        annotated.writeStream.format("memory")
        .queryName("staged_stream_validation")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    def codes(rows):
        return {r["row_id"]: sorted((v["field_key"], v["error_code"]) for v in r["_violations"]) for r in rows}

    got = codes(spark.sql("SELECT * FROM staged_stream_validation").collect())
    assert got == {
        "0": [],
        "1": [("q", "float.invalid_datatype")],
        "2": [("q", "validate.range")],
    }
    assert got == codes(StagedReading.validate(batch, mode="staged").annotated.collect())


def test_stateful_sessionization_stream(spark, tmp_path):
    """applyInPandasWithState custom stateful operator: state persists
    across micro-batches (a session spanning two files is ONE session)
    and gap-expired sessions are emitted exactly once."""
    import time as _time

    from pyspark.sql import functions as F
    from oblate_spark.streaming import sessionize_stream

    src = tmp_path / "sess_src"
    src.mkdir()
    base = "2024-01-01 10:00:00"
    b = lambda mins: f"2024-01-01 {10 + (mins // 60):02d}:{mins % 60:02d}:00"
    # file 1: user A two close events; user B one event
    f1 = spark.createDataFrame(
        [("A", b(0)), ("A", b(5)), ("B", b(1))], "user_id string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    # file 2: user A event 90min later -> closes A's first session (gap);
    # B keeps its session open (no emission)
    f2 = spark.createDataFrame(
        [("A", b(95))], "user_id string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    f1.coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))
    f2.coalesce(1).write.mode("overwrite").parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema("user_id string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    out = sessionize_stream(stream, gap_minutes=30, watermark="0 seconds")
    name = f"sess_{int(_time.time()*1000) % 10_000_000}"
    q = out.writeStream.format("memory").queryName(name).outputMode("append").start()
    try:
        q.processAllAvailable()
        rows = spark.sql(f"SELECT * FROM {name}").collect()
    finally:
        q.stop()

    closed = {(r["user_id"], r["n_events"], r["closed_by"]) for r in rows}
    # A's first session (2 events) closed by the 90-min gap, exactly once
    assert ("A", 2, "gap") in closed
    # B's session never closed by gap; A's second session only via
    # watermark timeout (may or may not have fired depending on final
    # watermark advance) — assert no spurious gap-closures
    assert not [r for r in rows if r["user_id"] == "B" and r["closed_by"] == "gap"]
    a_gap = [r for r in rows if r["user_id"] == "A" and r["closed_by"] == "gap"]
    assert len(a_gap) == 1
    r = a_gap[0]
    assert str(r["session_start"]) == "2024-01-01 10:00:00"
    assert str(r["session_end"]) == "2024-01-01 10:05:00"


def test_sessionize_stream_late_event_within_watermark(spark, tmp_path):
    """Regression (ADVICE r2): an event later than `gap` but inside the
    watermark used to produce a timeout timestamp at/below the current
    watermark — GroupState.setTimeoutTimestamp raises
    INVALID_TIMEOUT_TIMESTAMP and the whole query dies. The fix clamps
    the timeout to watermark+1ms."""
    import time as _time

    from pyspark.sql import functions as F
    from oblate_spark.streaming import sessionize_stream

    src = tmp_path / "late_src"
    src.mkdir()
    mk = lambda rows: spark.createDataFrame(rows, "user_id string, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    # batch 1: A at 10:00 and 12:00 -> watermark advances to 11:00
    mk([("A", "2024-01-01 10:00:00"), ("A", "2024-01-01 12:00:00")]).coalesce(1).write.parquet(
        str(src / "f1")
    )
    # batch 2: B's only event at 10:20 — 40min late but within the 1h
    # watermark; new session's last+gap = 10:50 <= watermark 11:00.
    # Old code: crash. New code: timeout clamped to 11:00+1ms.
    mk([("B", "2024-01-01 10:20:00")]).coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema("user_id string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    out = sessionize_stream(stream, gap_minutes=30, watermark="1 hour")
    name = f"late_{int(_time.time()*1000) % 10_000_000}"
    q = out.writeStream.format("memory").queryName(name).outputMode("append").start()
    try:
        q.processAllAvailable()  # raises StreamingQueryException on task failure
        assert q.exception() is None
        rows = spark.sql(f"SELECT * FROM {name}").collect()
    finally:
        q.stop()
    # A's first session (one event at 10:00) closed by the 2h gap
    assert ("A", 1, "gap") in {(r["user_id"], r["n_events"], r["closed_by"]) for r in rows}


def test_sessionize_stream_out_of_order_monotonic(spark, tmp_path):
    """A cross-batch out-of-order event inside the gap must not move the
    session end backwards (regression: `last = t` unconditionally)."""
    import time as _time

    from pyspark.sql import functions as F
    from oblate_spark.streaming import sessionize_stream

    src = tmp_path / "ooo_src"
    src.mkdir()
    mk = lambda rows: spark.createDataFrame(rows, "user_id string, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    mk([("A", "2024-01-01 10:00:00"), ("A", "2024-01-01 10:10:00")]).coalesce(1).write.parquet(
        str(src / "f1")
    )
    # out-of-order: 10:05 arrives after 10:10 (watermark 0s -> not dropped)
    mk([("A", "2024-01-01 10:05:00")]).coalesce(1).write.parquet(str(src / "f2"))
    # 11:00 is >30min after the true session end 10:10 -> closes it by gap
    mk([("A", "2024-01-01 11:00:00")]).coalesce(1).write.parquet(str(src / "f3"))

    stream = (
        spark.readStream.schema("user_id string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    out = sessionize_stream(stream, gap_minutes=30, watermark="0 seconds")
    name = f"ooo_{int(_time.time()*1000) % 10_000_000}"
    q = out.writeStream.format("memory").queryName(name).outputMode("append").start()
    try:
        q.processAllAvailable()
        rows = spark.sql(f"SELECT * FROM {name}").collect()
    finally:
        q.stop()
    gap_rows = [r for r in rows if r["closed_by"] == "gap"]
    assert len(gap_rows) == 1
    r = gap_rows[0]
    assert str(r["session_start"]) == "2024-01-01 10:00:00"
    # with the bug the end regressed to 10:05
    assert str(r["session_end"]) == "2024-01-01 10:10:00"
    assert r["n_events"] == 3


def test_streaming_drift_matches_batch_and_scores(spark, events_source):
    """Windowed streaming histogram == the identical batch expression on
    the same data; PSI per window against a frozen reference is finite
    and ~0 when the reference IS the global distribution."""
    import time as _time

    from pyspark.sql import functions as F
    from oblate_spark.operators.drift import bin_expr, fixed_width_histogram
    from oblate_spark.streaming import psi_per_window, windowed_bin_counts

    src, batch_df = events_source
    lo, hi, nbins = 0.0, 100.0, 16

    stream = spark.readStream.schema(batch_df.schema).parquet(src)
    counts = windowed_bin_counts(
        stream, col="value", ts_col="ts", lo=lo, hi=hi, nbins=nbins,
        window="6 hours", watermark="0 seconds",
    )
    name = f"drift_{int(_time.time()*1000) % 10_000_000}"
    q = counts.writeStream.format("memory").queryName(name).outputMode("complete").start()
    try:
        q.processAllAvailable()
        rows = spark.sql(f"SELECT * FROM {name}").collect()
    finally:
        q.stop()

    # stream == batch on identical binning + windowing
    batch_counts = (
        batch_df.filter(F.col("value").isNotNull())
        .groupBy(
            F.window(F.col("ts").cast("timestamp"), "6 hours").alias("w"),
            bin_expr(F.col("value"), lo, hi, nbins).alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "bin", "cnt")
    ).collect()
    got = {(r["window_start"], r["bin"]): r["cnt"] for r in rows}
    want = {(r["window_start"], r["bin"]): r["cnt"] for r in batch_counts}
    assert got == want and len(want) > 0

    # PSI per window vs the global reference distribution
    ref = fixed_width_histogram(
        batch_df.select(F.col("value")), "value", lo=lo, hi=hi, nbins=nbins
    ).collect()
    total = sum(r["cnt"] for r in ref)
    ref_probs = {int(r["bin"]): r["cnt"] / total for r in ref}
    scores = psi_per_window(rows, ref_probs, nbins=nbins)
    assert len(scores) > 0
    # each term of PSI is >= 0; sparse windows legitimately score high
    # (eps-floored empty bins), so only sign+finiteness is asserted
    import math as _math

    assert all(v >= 0.0 and _math.isfinite(v) for v in scores.values())

    # the union of all windows IS the reference distribution -> PSI ~ 0
    combined: dict = {}
    for r in rows:
        combined[int(r["bin"])] = combined.get(int(r["bin"]), 0) + r["cnt"]
    agg = psi_per_window(
        [{"window_start": 0, "bin": b, "cnt": c} for b, c in combined.items()],
        ref_probs,
        nbins=nbins,
    )
    assert agg[0] < 1e-9


def test_sessionize_stream_late_event_before_session_start_splits(spark, tmp_path):
    """A cross-batch late event more than `gap` BEFORE the open
    session's start must become its own closed session, not merge
    (regression: start=min(start,t) swallowed it, putting a silence
    longer than the gap inside one session)."""
    import time as _time

    from pyspark.sql import functions as F
    from oblate_spark.streaming import sessionize_stream

    src = tmp_path / "split_src"
    src.mkdir()
    mk = lambda rows: spark.createDataFrame(rows, "user_id string, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    # batch 1: open session A at 10:00-10:10
    mk([("A", "2024-01-01 10:00:00"), ("A", "2024-01-01 10:10:00")]).coalesce(1).write.parquet(
        str(src / "f1")
    )
    # batch 2: A at 08:50 — 70min before session start, gap=30min
    mk([("A", "2024-01-01 08:50:00")]).coalesce(1).write.parquet(str(src / "f2"))
    # batch 3: A at 13:00 closes the 10:00 session by gap
    mk([("A", "2024-01-01 13:00:00")]).coalesce(1).write.parquet(str(src / "f3"))

    stream = (
        spark.readStream.schema("user_id string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    out = sessionize_stream(stream, gap_minutes=30, watermark="0 seconds")
    name = f"split_{int(_time.time()*1000) % 10_000_000}"
    q = out.writeStream.format("memory").queryName(name).outputMode("append").start()
    try:
        q.processAllAvailable()
        assert q.exception() is None
        rows = spark.sql(f"SELECT * FROM {name}").collect()
    finally:
        q.stop()
    got = {
        (str(r["session_start"]), str(r["session_end"]), r["n_events"])
        for r in rows if r["user_id"] == "A"
    }
    # the late event is its own 1-event session; the 10:00 session keeps
    # its original bounds and count
    assert ("2024-01-01 08:50:00", "2024-01-01 08:50:00", 1) in got
    assert ("2024-01-01 10:00:00", "2024-01-01 10:10:00", 2) in got


def test_sessionize_stream_late_chain_forms_one_session(spark, tmp_path):
    """Two cross-batch late events within `gap` of each other must form
    ONE earlier session (batch-twin parity), not two singletons."""
    import time as _time

    from pyspark.sql import functions as F
    from oblate_spark.streaming import sessionize_stream

    src = tmp_path / "chain_src"
    src.mkdir()
    mk = lambda rows: spark.createDataFrame(rows, "user_id string, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    mk([("A", "2024-01-01 10:00:00"), ("A", "2024-01-01 10:10:00")]).coalesce(1).write.parquet(
        str(src / "f1")
    )
    # both > gap before the open session start, within gap of each other
    mk([("A", "2024-01-01 08:50:00"), ("A", "2024-01-01 09:10:00")]).coalesce(1).write.parquet(
        str(src / "f2")
    )
    mk([("A", "2024-01-01 13:00:00")]).coalesce(1).write.parquet(str(src / "f3"))

    stream = (
        spark.readStream.schema("user_id string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    out = sessionize_stream(stream, gap_minutes=30, watermark="0 seconds")
    name = f"chain_{int(_time.time()*1000) % 10_000_000}"
    q = out.writeStream.format("memory").queryName(name).outputMode("append").start()
    try:
        q.processAllAvailable()
        assert q.exception() is None
        rows = spark.sql(f"SELECT * FROM {name}").collect()
    finally:
        q.stop()
    got = {
        (str(r["session_start"]), str(r["session_end"]), r["n_events"])
        for r in rows if r["user_id"] == "A"
    }
    assert ("2024-01-01 08:50:00", "2024-01-01 09:10:00", 2) in got
    assert ("2024-01-01 10:00:00", "2024-01-01 10:10:00", 2) in got


def test_fold_sessions_split_equivalence_properties():
    """Two equivalence properties of the session fold (hypothesis):

    1. IN-ORDER arrival with arbitrary microbatch cuts == one batch fold
       (exactness of the incremental fold).
    2. BOUNDED DISORDER: events may arrive shuffled WITHIN their own
       session (session groups in order) — still exact, exercising the
       interval bridging logic.

    Unbounded disorder is inherently non-equivalent for an append-mode
    stream: an event arriving after its session was emitted cannot be
    retracted into it (documented on sessionize_stream)."""
    from hypothesis import given, settings, strategies as st

    from oblate_spark.streaming.sessions_stream import fold_sessions

    def run_batches(batches, gap):
        state, closed_all = None, []
        for b in batches:
            closed, state = fold_sessions(state, sorted(b), gap)
            closed_all.extend(closed)
        return closed_all, state

    def cut(seq, cuts):
        out, prev = [], 0
        for c in sorted(cuts) + [len(seq)]:
            out.append(seq[prev:c])
            prev = c
        return out

    @settings(max_examples=150, deadline=None)
    @given(
        st.lists(st.integers(min_value=0, max_value=3000), min_size=1, max_size=30),
        st.integers(min_value=1, max_value=500),
        st.data(),
    )
    def check(events, gap, data):
        exp_closed, exp_state = fold_sessions(None, sorted(events), gap)
        exp = (sorted(exp_closed), exp_state)

        # property 1: in-order arrival, arbitrary cuts
        arrival = sorted(events)
        cuts = data.draw(st.lists(st.integers(0, len(arrival)), max_size=4))
        closed_all, state = run_batches(cut(arrival, cuts), gap)
        assert (sorted(closed_all), state) == exp

        # property 2: shuffle within each session, batch cuts on session
        # boundaries (bounded disorder: a session's events never straddle
        # an emitting batch boundary — the operator's documented guarantee;
        # beyond it an already-emitted session cannot be retracted)
        groups, cur, last_t = [], [], None
        for t in sorted(events):
            if last_t is not None and t - last_t > gap:
                groups.append(cur)
                cur = []
            cur.append(t)
            last_t = t
        groups.append(cur)
        batches2 = [list(data.draw(st.permutations(g))) for g in groups]
        # optionally merge adjacent session-groups into one batch
        merged_batches, i = [], 0
        while i < len(batches2):
            b = list(batches2[i])
            while i + 1 < len(batches2) and data.draw(st.booleans()):
                i += 1
                b.extend(batches2[i])
            merged_batches.append(b)
            i += 1
        closed_all2, state2 = run_batches(merged_batches, gap)
        assert (sorted(closed_all2), state2) == exp, (events, gap, merged_batches)

    check()


def test_replay_sessions_batched_matches_batch_twin(spark):
    """The batch replay of the streaming fold (time-ordered microbatch
    splits + state carry + final flush) reproduces session_stats exactly,
    including sessions that straddle microbatch boundaries; disorder
    WITHIN a batch slice is sorted away like a real microbatch."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from oblate_spark.operators.sessions import session_stats
    from oblate_spark.streaming.sessions_stream import replay_sessions_batched

    base = datetime(2024, 1, 1, 8, 0, 0).timestamp()
    rows = []
    # user a: two sessions; the first straddles the batch boundary of a
    # 4-way split over the full time range
    for off_min in (0, 10, 20, 30, 40, 200, 210):
        rows.append(("a", datetime.fromtimestamp(base + off_min * 60)))
    # user b: events deliberately appended out of order (in-batch disorder)
    for off_min in (500, 480, 470):
        rows.append(("b", datetime.fromtimestamp(base + off_min * 60)))
    ev = spark.createDataFrame(rows, "user_id string, ts timestamp")

    for k in (1, 2, 4, 7):
        replay = replay_sessions_batched(
            ev, user_col="user_id", ts_col="ts", gap_minutes=30, n_batches=k
        )
        agg = (
            replay.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
                F.sum("n_events").cast("bigint").alias("n_events"),
                F.max("n_events").cast("bigint").alias("max_session_events"),
            )
        )
        got = {r["user_id"]: (r["n_sessions"], r["n_events"], r["max_session_events"])
               for r in agg.collect()}
        want = {r["user_id"]: (r["n_sessions"], r["n_events"], r["max_session_events"])
                for r in session_stats(ev, gap_minutes=30).collect()}
        assert got == want, (k, got, want)

    # every user's newest session is the flushed open one
    replay = replay_sessions_batched(ev, gap_minutes=30, n_batches=4)
    newest = {}
    for r in replay.collect():
        cur = newest.get(r["user_id"])
        if cur is None or r["session_start"] > cur["session_start"]:
            newest[r["user_id"]] = r
    assert all(r["closed_by"] == "flush" for r in newest.values())

    # empty input -> empty, correctly typed
    empty = replay_sessions_batched(ev.limit(0), n_batches=4)
    assert empty.count() == 0
    assert empty.schema["n_events"].dataType.simpleString() == "bigint"


def test_fold_first_seen_split_invariance():
    """Pure kernel property: without retention, any time-ordered split
    of a key's rows emits exactly the global minimum once; with
    retention, a gap past the horizon re-emits."""
    from hypothesis import given, strategies as st

    from oblate_spark.streaming.dedup_stream import fold_first_seen

    @given(
        st.lists(
            st.tuples(st.integers(0, 10_000), st.integers(0, 100)), max_size=30
        ),
        st.integers(1, 5),
    )
    def invariant(rows, n_batches):
        rows = sorted(rows)
        # contiguous time-ordered split into n_batches chunks
        per = max(1, (len(rows) + n_batches - 1) // n_batches)
        state, emitted = None, []
        for i in range(0, max(len(rows), 1), per):
            em, state = fold_first_seen(state, rows[i : i + per])
            emitted.extend(em)
        if rows:
            assert emitted == [min(rows)]
        else:
            assert emitted == []

    invariant()

    # retention: second sighting past the horizon re-emits
    em1, st1 = fold_first_seen(None, [(0, 1)], retention_us=100)
    em2, st2 = fold_first_seen(st1, [(50, 2)], retention_us=100)
    em3, st3 = fold_first_seen(st2, [(500, 3)], retention_us=100)
    assert em1 == [(0, 1)] and em2 == [] and em3 == [(500, 3)]
    assert st3 == (500, 3)


def test_dedup_stream_replay_matches_batch(spark):
    """Replay over K slices == plain first-row-per-key, and the key
    column keeps the input dtype (the round-4 replay lesson)."""
    from pyspark.sql import functions as F
    from oblate_spark.streaming.dedup_stream import replay_dedup_batched

    ev = spark.createDataFrame(
        [
            (1, 10, "2024-01-01 00:05:00"),
            (2, 10, "2024-01-01 00:01:00"),   # earliest for key 10
            (3, 10, "2024-01-02 09:00:00"),
            (4, 20, "2024-01-03 00:00:00"),
            (5, 20, "2024-01-03 00:00:00"),   # ts tie -> min event_id
        ],
        "event_id long, user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    for k in (1, 3, 5):
        out = replay_dedup_batched(
            ev, key_col="user_id", id_col="event_id", ts_col="ts", n_batches=k
        )
        assert dict(out.dtypes)["key"] == "bigint"
        got = sorted((r["key"], r["event_id"]) for r in out.collect())
        assert got == [(10, 2), (20, 4)], (k, got)


def test_dedup_stream_stateful(spark, tmp_path):
    """Streaming first-occurrence dedup: state persists across
    microbatches (a later file's duplicate is dropped), new keys in
    later files emit."""
    import time as _time

    from pyspark.sql import functions as F
    from oblate_spark.streaming.dedup_stream import dedup_stream

    src = tmp_path / "dedup_src"
    src.mkdir()
    f1 = spark.createDataFrame(
        [("A", 1, "2024-01-01 10:00:00"), ("B", 2, "2024-01-01 10:01:00")],
        "k string, event_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    f2 = spark.createDataFrame(
        [("A", 3, "2024-01-01 11:00:00"), ("C", 4, "2024-01-01 11:01:00")],
        "k string, event_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    f1.coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))
    f2.coalesce(1).write.mode("overwrite").parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema("k string, event_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    out = dedup_stream(stream, key_col="k", id_col="event_id", ts_col="ts")
    name = f"dedup_{int(_time.time()*1000) % 10_000_000}"
    q = out.writeStream.format("memory").queryName(name).outputMode("append").start()
    try:
        q.processAllAvailable()
        rows = spark.sql(f"SELECT * FROM {name}").collect()
    finally:
        q.stop()
    got = sorted((r["key"], r["event_id"]) for r in rows)
    # A's file-2 duplicate dropped by carried state; B and C emitted once
    assert got == [("A", 1), ("B", 2), ("C", 4)], got
