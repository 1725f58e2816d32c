"""Axis-A image validation: codecs, payload kernel, full-table flow
against the golden defect manifest of the synthetic fixture
(FIXTURES.md F1)."""

from __future__ import annotations

import numpy as np
import pytest

from oblate_spark import fixtures
from oblate_spark.functions import codecs
from oblate_spark.operators.images import (
    image_payload_report,
    image_payload_violations,
    validate_image_table,
)

N = 1000


@pytest.fixture(scope="module")
def images_df(spark):
    df = fixtures.build_images_df(spark, N, partitions=8)
    df = df.cache()
    df.count()
    return df


def test_codec_roundtrip_and_fidelity():
    rng = np.random.default_rng(7)
    for fmt in ("bmp", "png", "ppm"):
        px = rng.integers(0, 256, (21, 33, 3), dtype=np.uint8)
        out = codecs.decode_image(codecs.encode_image(px, fmt))
        # pixel-fidelity invariant: allclose (exact for lossless codecs,
        # PSNR>=40dB would be the threshold for lossy ones)
        assert np.array_equal(px, out)
        assert codecs.psnr(px, out) == float("inf")


def test_generation_is_parallelism_invariant(spark):
    a = fixtures.build_images_df(spark, 50, partitions=2).orderBy("image_id").collect()
    b = fixtures.build_images_df(spark, 50, partitions=8).orderBy("image_id").collect()
    for ra, rb in zip(a, b):
        assert ra["image_id"] == rb["image_id"]
        assert bytes(ra["bytes"]) == bytes(rb["bytes"])
        assert ra["phash"] == rb["phash"]
        assert ra["caption"] == rb["caption"]  # exact caption equality invariant


def test_payload_report_counts(images_df):
    report = image_payload_report(images_df).cache()
    expected = fixtures.expected_defect_counts(N)
    assert report.filter("NOT decode_ok").count() == expected["bad_bytes"]
    v = image_payload_violations(report)
    by_code = {r["error_code"]: r["cnt"] for r in v.groupBy("error_code").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("cnt")
    ).collect()}
    assert by_code["image.decode_failed"] == expected["bad_bytes"]
    assert by_code["image.dims_mismatch"] == expected["dims_mismatch"]
    assert by_code["image.phash_mismatch"] == expected["stale_phash"]
    # bad_fmt rows ('gif' declared, real encoding intact) -> fmt mismatch
    assert by_code["image.fmt_mismatch"] == expected["bad_fmt"]
    report.unpersist()


def test_full_table_validation_matches_manifest(images_df):
    from pyspark.sql import functions as F

    violations = validate_image_table(images_df).cache()
    by_code = {
        r["error_code"]: r["cnt"]
        for r in violations.groupBy("error_code").agg(F.count("*").alias("cnt")).collect()
    }
    exp = fixtures.expected_defect_counts(N)

    assert by_code["field.none_disallowed"] == exp["caption_null"]  # caption NULL
    assert by_code["image.decode_failed"] == exp["bad_bytes"]
    assert by_code["image.dims_mismatch"] == exp["dims_mismatch"]
    assert by_code["image.phash_mismatch"] == exp["stale_phash"]
    assert by_code["validate.range"] == exp["w_range"]
    assert by_code["validate.length"] == exp["caption_overlength"]
    # fmt='gif': Literal violation AND payload fmt-mismatch
    assert by_code["literal.invalid_value"] == exp["bad_fmt"]

    # uniqueness: each dup_image_id row pairs with a distinct base row
    uid = violations.filter("field_key = 'image_id'").count()
    assert uid == 2 * exp["dup_image_id"]

    # phash dups: hot bucket (all share one phash) + dup_phash pair rows
    uph_rows = violations.filter(
        "field_key = 'phash' AND error_code = 'unique.duplicate'"
    ).count()
    assert uph_rows == exp["hot_phash"] + exp["dup_phash"]
    violations.unpersist()


def test_exact_message_strings(images_df):
    violations = validate_image_table(images_df, check_payload=False, check_unique=False)
    msgs = {r["error_code"]: r["message"] for r in violations.collect()}
    assert msgs["field.none_disallowed"] == "This field must not be None."
    assert msgs["validate.range"] == "Value must be in range 1 to 4096 inclusive"
    assert msgs["validate.length"] == "Value length must be less than 120 characters"
    assert msgs["literal.invalid_value"] == "Value must be one of: 'bmp', 'png', 'ppm'"


def _zero_dim_bmp() -> bytes:
    """Valid 1x1 BMP with the height field rewritten to 0."""
    import struct

    px = np.zeros((1, 1, 3), dtype=np.uint8)
    data = bytearray(codecs.encode_image(px, "bmp"))
    struct.pack_into("<i", data, 22, 0)  # DIB height := 0
    return bytes(data)


def _zero_dim_png() -> bytes:
    """Valid 1x1 PNG with IHDR width rewritten to 0 (CRC refreshed)."""
    import struct
    import zlib

    px = np.zeros((1, 1, 3), dtype=np.uint8)
    data = bytearray(codecs.encode_image(px, "png"))
    # IHDR payload starts at 16 (8 sig + 4 len + 4 tag)
    struct.pack_into(">I", data, 16, 0)  # width := 0
    crc = zlib.crc32(bytes(data[12:33])) & 0xFFFFFFFF
    struct.pack_into(">I", data, 33, crc)
    return bytes(data)


def test_zero_dimension_payloads_rejected_not_crash():
    """Regression (round-2 ADVICE): h=0 BMP / w=0 PNG previously passed
    decode and crashed phash with IndexError, failing the Spark task."""
    for blob in (_zero_dim_bmp(), _zero_dim_png()):
        with pytest.raises(codecs.ImageDecodeError):
            codecs.decode_image(blob)


def test_malformed_payload_is_violation_not_task_failure(spark):
    """Any exception in decode/phash must surface as an
    image.decode_failed violation row, never abort the job."""
    rows = [
        ("ok_row", codecs.encode_image(np.full((4, 4, 3), 9, np.uint8), "bmp")),
        ("zero_bmp", _zero_dim_bmp()),
        ("zero_png", _zero_dim_png()),
    ]
    df = spark.createDataFrame(
        [(i, b, 4, 4, "bmp", "cap", 0) for i, b in rows],
        "image_id string, bytes binary, w int, h int, fmt string, caption string, phash bigint",
    )
    report = image_payload_report(df)
    bad = {r["image_id"] for r in report.filter("NOT decode_ok").collect()}
    assert bad == {"zero_bmp", "zero_png"}


def test_file_driven_kernel_hadoop_listing(spark, images_df, tmp_path):
    """image_payload_report_from_files lists via the Hadoop FileSystem
    API (object-store-safe, not local glob): multi-directory input and
    scheme-qualified file: URIs both resolve, and the report matches the
    DataFrame-driven kernel on the same rows. With more files than
    cores the files are packed into one bin per core, read by one
    Python task each, from a JVM source (no Python RDD scan)."""
    from pyspark.sql import functions as F

    from oblate_spark.operators.images import (
        _list_parquet_files,
        image_payload_report,
        image_payload_report_from_files,
    )

    cores = spark.sparkContext.defaultParallelism
    d1, d2 = str(tmp_path / "part1"), str(tmp_path / "part2")
    par = F.substring("image_id", -1, 1).cast("int") % 2
    a = images_df.filter(par == 0)
    b = images_df.filter(par == 1)
    a.repartition(cores + 1).write.mode("overwrite").parquet(d1)
    b.repartition(cores).write.mode("overwrite").parquet(d2)
    n_files = len(_list_parquet_files(spark, [d1, d2]))
    assert n_files > cores  # bins hold several files

    # multi-directory list input, scheme-qualified on one of them
    rep = image_payload_report_from_files(spark, [f"file:{d1}", d2])
    base = image_payload_report(a.unionByName(b))
    # the fixture contains duplicate image_ids (uniqueness defects), so
    # compare sorted multisets of full report rows, not id-keyed dicts
    key = lambda df: sorted(
        (r["image_id"], r["decode_ok"], r["w_actual"], r["h_actual"], r["fmt_actual"], r["phash_actual"])
        for r in df.collect()
    )
    assert key(rep) == key(base)
    assert rep.rdd.getNumPartitions() == min(n_files, cores)
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan

    with pytest.raises(ValueError, match="no parquet files"):
        image_payload_report_from_files(spark, str(tmp_path / "empty_nowhere"))


def test_pack_files_lpt():
    """The file packer places every file exactly once, keeps every bin
    non-empty, stays within the LPT bound of the best packing (brute
    force on small inputs), and depends only on the input set."""
    import itertools
    import random

    from oblate_spark.operators.images import _pack_files

    rng = random.Random(11)
    for trial in range(40):
        n_files = rng.randint(1, 8)
        n_bins = rng.randint(1, min(n_files, 3))  # brute force: <= 3**8 packings
        sizes = {f"file:/t/{trial}/{i}.parquet": rng.choice([1, 7, 50, 50, 300, 1000])
                 for i in range(n_files)}
        files = list(sizes.items())
        bins = _pack_files(files, n_bins)
        assert len(bins) == n_bins and all(bins)
        assert sorted(u for bn in bins for u in bn) == sorted(sizes)
        best = min(
            max(sum(s for (_u, s), j in zip(files, assign) if j == b) for b in range(n_bins))
            for assign in itertools.product(range(n_bins), repeat=n_files)
        )
        largest = max(sum(sizes[u] for u in bn) for bn in bins)
        assert largest <= (4 / 3 - 1 / (3 * n_bins)) * best
        rng.shuffle(files)
        assert _pack_files(files, n_bins) == bins


def test_file_driven_kernel_max_files_subset(spark, images_df, tmp_path):
    """max_files truncates the name-sorted file list deterministically:
    the subset report equals the rows of exactly those parquet files
    (the warm-up/sampling knob bench.py uses)."""
    import glob

    import pyarrow.parquet as pq

    from oblate_spark.operators.images import image_payload_report_from_files

    d = str(tmp_path / "subset")
    images_df.repartition(4).write.mode("overwrite").parquet(d)

    from oblate_spark.operators.images import _list_parquet_files

    listed = sorted(_list_parquet_files(spark, [d]))[:2]
    expect_rows = sum(pq.read_table(f[5:] if f.startswith("file:") else f).num_rows
                      for f, _sz in listed)
    rep = image_payload_report_from_files(spark, d, max_files=2)
    assert rep.count() == expect_rows
    assert 0 < expect_rows < images_df.count()


def test_file_driven_kernel_streams_record_batches(spark, tmp_path):
    """Each file of a bin is read as several record batches of about
    ``_BATCH_BYTES`` of payload, and the report still equals the
    DataFrame-driven kernel's row for row, NULL and undecodable payloads
    included, with one partition per bin."""
    from collections import Counter

    from oblate_spark.operators.images import (
        _list_parquet_files,
        _parquet_batches,
        image_payload_report_from_files,
    )

    odd = spark.createDataFrame(
        [("null_payload", None, 4, 4, "bmp", "cap", 0),
         ("garbage", b"not an image", 4, 4, "png", "cap", 1)],
        fixtures.IMAGES_SCHEMA,
    )
    # ~26 KB payloads: 2,500 rows make five files of ~13 MB, three to
    # four batches each
    src = fixtures.build_images_df(spark, 2500, partitions=4, px=(64, 128)).unionByName(odd)
    d = str(tmp_path / "streamed")
    src.repartition(5).write.parquet(d)
    files = _list_parquet_files(spark, [d])
    assert len(files) == 5
    for uri, _size in files:
        assert len(list(_parquet_batches(uri, ["bytes"]))) >= 3, uri

    rep = image_payload_report_from_files(spark, d)
    base = image_payload_report(spark.read.parquet(d))
    rows = Counter(rep.collect())
    assert rows == Counter(base.collect())
    assert sum(rows.values()) == 2502
    errs = {r["image_id"]: r["decode_err"] for r in rows if r["image_id"] in ("null_payload", "garbage")}
    assert errs["null_payload"] == "payload is NULL" and errs["garbage"]
    cores = spark.sparkContext.defaultParallelism
    assert rep.rdd.getNumPartitions() == min(len(files), cores)


_READ_PEAK_PROBE = """
import sys
import pyarrow.parquet as pq
from oblate_spark.operators.images import _decode_batch, _parquet_batches

def peak_rss():
    # VmHWM, not ru_maxrss: an exec'd child's ru_maxrss starts at its
    # parent's high-water mark, which a long test session can exceed
    with open("/proc/self/status") as f:
        return next(int(l.split()[1]) * 1024 for l in f if l.startswith("VmHWM:"))

def whole_file(uri, columns):
    yield from pq.read_table(uri[len("file:"):], columns=columns).to_batches()

read = _parquet_batches if sys.argv[1] == "stream" else whole_file
_decode_batch([None, b"x"], True)  # imports the codecs before the baseline
before = peak_rss()
for batch in read("file:" + sys.argv[2], ["image_id", "bytes"]):
    blobs = batch.column("bytes").to_pylist()
    _decode_batch(blobs, True)
    del batch, blobs
print(peak_rss() - before)
"""


def test_kernel_reader_memory_is_one_batch_not_one_file(tmp_path):
    """The file-driven kernel's reader plus decode over one
    single-row-group file of ~64 MB raises the worker's peak RSS by
    less than half the file; reading the file whole raises it by more
    than the file. Each probe runs in a fresh interpreter and reads
    its own high-water mark (Linux ``VmHWM``)."""
    import os
    import subprocess
    import sys

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(5)
    blobs = [
        codecs.encode_image(rng.integers(0, 256, (256, 340, 3), dtype=np.uint8), "bmp")
        for _ in range(256)
    ]
    path = str(tmp_path / "big.parquet")
    # ~1 MiB pages, as Spark writes them: a page is the smallest unit
    # a parquet reader decodes
    pq.write_table(
        pa.table({"image_id": [str(i) for i in range(256)], "bytes": blobs}),
        path, row_group_size=len(blobs), use_dictionary=False, compression="none",
        write_batch_size=4,
    )
    assert pq.ParquetFile(path).metadata.num_row_groups == 1
    size = os.path.getsize(path)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def peak_increase(mode):
        out = subprocess.run(
            [sys.executable, "-c", _READ_PEAK_PROBE, mode, path],
            capture_output=True, text=True, check=True,
            env={**os.environ, "PYTHONPATH": repo},
        )
        return int(out.stdout.split()[-1])

    assert peak_increase("stream") < size / 2
    assert peak_increase("whole") > size


def test_rows_per_batch_by_bytes():
    """Rows per record batch come from the row group's mean row size:
    an oversized row is a batch of one, small rows pack many."""
    from oblate_spark.operators.images import _BATCH_BYTES, _rows_per_batch

    assert _rows_per_batch(3 * 10 * _BATCH_BYTES, 3) == 1
    assert _rows_per_batch(_BATCH_BYTES + 1, 1) == 1
    assert _rows_per_batch(1000 * 4096, 1000) == _BATCH_BYTES // 4096
    assert _rows_per_batch(100 * 26_000, 100) == _BATCH_BYTES // 26_000
    assert _rows_per_batch(0, 0) == 1


def test_pixel_fidelity_statuses(spark):
    """Hand-built pairs hit every status arm: bit-exact re-encode
    passes, small noise passes the 40dB gate, heavy noise fails it,
    dims mismatch and undecodable are flagged, missing ids surface as
    missing_a/missing_b, caption equality is null-safe."""
    import numpy as np

    from oblate_spark.functions.codecs import encode_image
    from oblate_spark.operators.fidelity import pixel_fidelity

    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, (8, 9, 3), dtype=np.uint8)
    rows_a = [
        (1, bytearray(encode_image(px, "bmp")), "cap"),
        (2, bytearray(encode_image(px, "png")), None),
        (3, bytearray(encode_image(px, "ppm")), "x"),
        (4, bytearray(encode_image(px, "bmp")), "y"),
        (5, bytearray(b"not an image"), "z"),
        (6, bytearray(encode_image(px, "bmp")), "only in a"),
    ]
    rows_b = [
        (1, bytearray(encode_image(px, "ppm")), "cap"),        # pixel-exact, other codec
        (2, bytearray(encode_image(px ^ 1, "bmp")), "edited"), # 48dB pass; caption differs (NULL vs str)
        (3, bytearray(encode_image(px ^ 0x80, "ppm")), "x"),   # 6dB fail
        (4, bytearray(encode_image(px[:4], "bmp")), "y"),      # dims differ
        (5, bytearray(encode_image(px, "bmp")), "z"),          # a undecodable
        (7, bytearray(encode_image(px, "bmp")), "only in b"),
    ]
    a = spark.createDataFrame(rows_a, "idx long, bytes binary, caption string")
    b = spark.createDataFrame(rows_b, "idx long, bytes binary, caption string")
    out = {
        r["idx"]: r
        for r in pixel_fidelity(
            a, b, id_col="idx", caption_col="caption"
        ).collect()
    }
    n_px = 8 * 9 * 3
    assert out[1]["status"] == "pass" and out[1]["pixels_exact"] is True
    assert out[1]["sse"] == 0 and out[1]["n_px"] == n_px
    assert out[1]["caption_equal"] is True
    assert out[2]["status"] == "pass" and out[2]["pixels_exact"] is False
    assert out[2]["sse"] == n_px and out[2]["psnr_ok"] is True
    assert out[2]["caption_equal"] is False  # NULL vs 'edited'
    assert out[3]["status"] == "low_psnr" and out[3]["sse"] == 16384 * n_px
    assert out[3]["psnr_ok"] is False
    assert out[4]["status"] == "dims_differ" and out[4]["sse"] is None
    assert out[4]["both_decoded"] is True
    assert out[5]["status"] == "undecodable" and out[5]["both_decoded"] is False
    assert out[6]["status"] == "missing_b" and out[6]["caption_equal"] is None
    assert out[7]["status"] == "missing_a"


def test_degraded_fixture_matches_manifest(spark):
    """The degraded twin's closed-form manifest holds end-to-end on a
    300-row slice: category determines sse exactly (lsb -> n_px,
    msb -> 16384*n_px, identical -> 0 even though the bytes may be a
    different encoding)."""
    from oblate_spark import fixtures
    from oblate_spark.operators.fidelity import pixel_fidelity

    n = 300
    a = fixtures.build_indexed_images_df(spark, n)
    b = fixtures.build_degraded_images_df(spark, n)
    rows = {
        r["idx"]: r
        for r in pixel_fidelity(
            a, b, id_col="idx", caption_col="caption"
        ).collect()
    }
    assert len(rows) == n
    for i in range(n):
        cat = fixtures.fidelity_category_for_index(i)
        r = rows[i]
        if cat == "undecodable":
            assert r["status"] == "undecodable", i
        elif cat == "identical":
            assert r["status"] == "pass" and r["sse"] == 0, i
        elif cat == "lsb_flip":
            assert r["status"] == "pass" and r["sse"] == r["n_px"], i
        else:
            assert r["status"] == "low_psnr" and r["sse"] == 16384 * r["n_px"], i
        assert r["caption_equal"] == (i % 10 != 9), i
