"""Property-based tests (hypothesis) — beyond the reference's own test
strategy (it has none; SURVEY.md §5): the staged Column kernel must
agree with its pure-Python twin for arbitrary JSON values, codecs must
round-trip arbitrary images, and the quantile sketch must return the
order statistic at rank ceil(q·n).
"""

from __future__ import annotations

import json

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from oblate_spark import fields
from oblate_spark.functions import codecs
from oblate_spark.pyload import load_field_value

# -- pure-python properties (no Spark session needed) -----------------------

json_scalars = st.one_of(
    st.integers(min_value=-(2**53), max_value=2**53),
    st.text(alphabet=st.characters(codec="ascii", exclude_characters='"\\\x00'), max_size=20),
    st.booleans(),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
)


@given(json_scalars)
@settings(max_examples=200)
def test_pyload_integer_matches_python_semantics(v):
    loaded, errs = load_field_value(fields.Integer(strict=False, name="f"), v)
    try:
        expected = int(v)
        ok = True
    except Exception:
        ok = False
    if ok:
        assert errs == [] and loaded == expected
    else:
        assert errs and errs[0][2] == f"Failed to coerce {v!r} to integer"


@given(json_scalars)
@settings(max_examples=200)
def test_pyload_string_nonstrict_total(v):
    loaded, errs = load_field_value(fields.String(strict=False, name="f"), v)
    assert errs == [] and loaded == str(v)


@given(st.integers(min_value=1, max_value=80), st.integers(min_value=1, max_value=80),
       st.sampled_from(["bmp", "png", "ppm"]), st.integers(min_value=0, max_value=2**32 - 1))
@settings(max_examples=30, deadline=None)
def test_codec_roundtrip_property(w, h, fmt, seed):
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    out = codecs.decode_image(codecs.encode_image(px, fmt))
    assert np.array_equal(px, out)


@given(st.integers(min_value=0, max_value=2**32 - 1))
@settings(max_examples=20, deadline=None)
def test_phash_invariant_to_encoding(seed):
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, (40, 40, 3), dtype=np.uint8)
    hashes = {codecs.phash64(codecs.decode_image(codecs.encode_image(px, f))) for f in ("bmp", "png", "ppm")}
    assert len(hashes) == 1  # lossless codecs -> identical phash


# The full-image integral resize, BMP decode and pHash as first written:
# the current kernel must reproduce them bit for bit.


def _reference_resize_area(gray, size=32, out_h=None):
    h, w = gray.shape
    out_h = size if out_h is None else out_h
    ys = (np.arange(out_h + 1) * h // out_h).astype(np.int64)
    xs = (np.arange(size + 1) * w // size).astype(np.int64)
    y0, y1 = ys[:-1], np.maximum(ys[1:], ys[:-1] + 1)
    x0, x1 = xs[:-1], np.maximum(xs[1:], xs[:-1] + 1)
    csum = np.zeros((h + 1, w + 1), dtype=np.float64)
    np.cumsum(np.cumsum(gray, axis=0, dtype=np.float64), axis=1, out=csum[1:, 1:])
    y0c, y1c = y0[:, None], y1[:, None]
    box = csum[y1c, x1] - csum[y0c, x1] - csum[y1c, x0] + csum[y0c, x0]
    area = (y1 - y0)[:, None] * (x1 - x0)[None, :]
    return box / area


def _reference_bmp_pixels(data, w, h, flipped):
    row_size = (w * 3 + 3) & ~3
    rows = np.frombuffer(data[54 : 54 + row_size * h], dtype=np.uint8).reshape(h, row_size)[:, : w * 3]
    img = rows.reshape(h, w, 3)[:, :, ::-1]
    return (img[::-1] if flipped else img).copy()


def _reference_phash64(pixels):
    gray = pixels @ np.array([0.299, 0.587, 0.114])
    d = codecs._DCT32 @ _reference_resize_area(gray, 32) @ codecs._DCT32.T
    block = d[:8, :8].ravel()[1:]
    bits = block > np.partition(block, 31)[31]
    val = int.from_bytes(np.packbits(bits, bitorder="little").tobytes(), "little")
    return val - (1 << 64) if val >= 1 << 63 else val


@given(st.integers(min_value=1, max_value=150), st.integers(min_value=1, max_value=150),
       st.one_of(st.none(), st.integers(min_value=1, max_value=64)),
       st.integers(min_value=0, max_value=2**32 - 1))
@settings(max_examples=200, deadline=None)
def test_resize_area_matches_reference(h, w, out_h, seed):
    gray = np.random.default_rng(seed).random((h, w)) * 255
    got = codecs._resize_area(gray, 32, out_h)
    assert got.tobytes() == _reference_resize_area(gray, 32, out_h).tobytes()


@given(st.integers(min_value=1, max_value=140), st.integers(min_value=1, max_value=140),
       st.sampled_from(["bmp", "bmp-top-down", "png", "ppm"]),
       st.integers(min_value=0, max_value=2**32 - 1))
@settings(max_examples=60, deadline=None)
def test_decode_and_phash_match_reference(w, h, fmt, seed):
    import struct

    px = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    blob = codecs.encode_image(px, fmt.split("-")[0])
    if fmt == "bmp-top-down":  # negative height, rows stored top first
        row_size = (w * 3 + 3) & ~3
        rows = np.frombuffer(blob[54:], dtype=np.uint8).reshape(h, row_size)[::-1]
        blob = bytearray(blob[:54] + rows.tobytes())
        struct.pack_into("<i", blob, 22, -h)
        blob = bytes(blob)
    out = codecs.decode_image(blob)
    ref = _reference_bmp_pixels(blob, w, h, fmt == "bmp") if fmt.startswith("bmp") else px
    assert out.flags.c_contiguous and out.dtype == np.uint8
    assert out.shape == ref.shape and out.tobytes() == ref.tobytes()
    assert codecs.phash64(out) == _reference_phash64(ref)


@settings(deadline=None, max_examples=20, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(values=st.lists(st.floats(allow_nan=False, allow_infinity=False), min_size=50, max_size=500))
def test_approx_quantiles_are_order_statistics(spark, values):
    """Below ACCURACY values, partial sketches merged from several
    partitions give the exact order statistic sorted[ceil(q·n) - 1]."""
    import math

    from oblate_spark.operators.drift import approx_quantiles

    df = spark.createDataFrame([(v,) for v in values], "x double").repartition(7)
    probs = (0.1, 0.25, 0.5, 0.75, 0.9)
    got = approx_quantiles(df, "x", probs)
    arr = sorted(values)
    for q in probs:
        assert got[q] == arr[math.ceil(q * len(arr)) - 1], (q, got[q])


# -- staged Column kernel vs python twin (one Spark pass over many cases) ---


def test_staged_kernel_agrees_with_python_twin(spark):
    import random

    rnd = random.Random(42)
    cases = []
    for _ in range(300):
        kind = rnd.randrange(5)
        if kind == 0:
            cases.append(rnd.randint(-(2**40), 2**40))
        elif kind == 1:
            cases.append(round(rnd.uniform(-1e6, 1e6), 6))
        elif kind == 2:
            cases.append("".join(rnd.choice("abc123 .-") for _ in range(rnd.randrange(12))))
        elif kind == 3:
            cases.append(rnd.choice([True, False]))
        else:
            cases.append(str(rnd.randint(-999999, 999999)))

    for field_cls in (fields.Integer, fields.Float, fields.Boolean, fields.String):
        for strict in (True, False):
            fld = field_cls(strict=strict, name="f")

            from .test_primitives import staged_df, violations_map

            df = staged_df(spark, {"f": cases})
            from oblate_spark.schema import Schema, SchemaMeta

            S = SchemaMeta("S", (Schema,), {"f": field_cls(strict=strict)})
            vm = violations_map(S.validate(df, mode="staged"))

            for i, v in enumerate(cases):
                _, errs = load_field_value(fld, v)
                spark_msgs = sorted(m for _, m in vm.get(str(i), []))
                py_msgs = sorted(m for _, _, m in errs)
                assert spark_msgs == py_msgs, (
                    field_cls.__name__, strict, v, spark_msgs, py_msgs
                )


@given(
    st.integers(min_value=1, max_value=60),
    st.integers(min_value=1, max_value=60),
    st.sampled_from(["bmp", "png", "ppm"]),
    st.integers(min_value=0, max_value=2**31),
    st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=60, deadline=None)
def test_codec_truncation_fuzz_never_escapes_decode_error(w, h, fmt, seed, cut):
    """Any prefix truncation of a valid encoding either decodes or
    raises ImageDecodeError — never IndexError/struct.error/etc. (the
    round-2 ADVICE bug class: malformed payloads must surface as
    violations, not task failures)."""
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    blob = codecs.encode_image(px, fmt)
    prefix = blob[: min(cut, len(blob))]
    try:
        out = codecs.decode_image(prefix)
        assert out.shape[2] == 3  # decoded something plausible
    except codecs.ImageDecodeError:
        pass  # the only acceptable failure mode


@given(
    st.integers(min_value=1, max_value=60),
    st.integers(min_value=1, max_value=60),
    st.sampled_from(["bmp", "png", "ppm"]),
    st.integers(min_value=0, max_value=2**31),
    st.integers(min_value=0, max_value=200),
    st.integers(min_value=0, max_value=255),
)
@settings(max_examples=60, deadline=None)
def test_codec_byte_corruption_fuzz(w, h, fmt, seed, pos_seed, newbyte):
    """Single-byte corruption anywhere in a valid encoding either still
    decodes (an HxWx3 image) or raises ImageDecodeError — no other
    exception type may escape."""
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    blob = bytearray(codecs.encode_image(px, fmt))
    pos = pos_seed % len(blob)
    blob[pos] = newbyte
    try:
        out = codecs.decode_image(bytes(blob))
        assert out.ndim == 3 and out.shape[2] == 3
    except codecs.ImageDecodeError:
        pass


@settings(deadline=None, max_examples=20, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vals=st.lists(st.integers(min_value=-10**6, max_value=10**6), min_size=4, max_size=200),
)
def test_iqr_profile_matches_numpy(spark, vals):
    """iqr_outlier_profile's exact-percentile quartiles and fence
    counts agree with numpy's linear-interpolation percentile for any
    integer sample (the dyadic-exactness contract the oracle relies
    on)."""
    import numpy as np

    from oblate_spark.operators.stats import iqr_outlier_profile

    df = spark.createDataFrame([(int(v),) for v in vals], "x bigint")
    row = iqr_outlier_profile(df, ["x"]).collect()[0]
    q1, q3 = np.percentile(np.array(vals, dtype=np.int64), [25, 75], method="linear")
    assert row.q1 == q1 and row.q3 == q3
    lo, hi = q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)
    arr = np.array(vals, dtype=np.float64)
    assert row.n_below == int((arr < lo).sum())
    assert row.n_above == int((arr > hi).sum())
