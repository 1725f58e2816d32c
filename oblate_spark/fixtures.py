"""Deterministic synthetic image+caption table (FIXTURES.md F1).

Exactly the BASELINE.json ``input_hint`` shape:

    (image_id:string, bytes:binary, w:int, h:int, fmt:string,
     caption:string, phash:bigint)

Generation is distributed (mapInPandas over ``spark.range``) and keyed
purely by row index + seed, so any executor produces identical bytes
for a given index — no driver-side loop, no RNG order dependence, and
the table scales to the bench sizes without materializing on the
driver.

Defects are injected at fixed index slots (i mod 1000), giving exact
fractions and a closed-form golden manifest (``defect_for_index``) that
tests assert against:

    slot  0-9   caption NULL            (1.0%)  -> none check
    slot 10-14  duplicate image_id      (0.5%)  -> unique.duplicate
    slot 15-24  duplicate phash pair    (1.0%)  -> unique.duplicate
    slot 25-29  truncated/garbage bytes (0.5%)  -> image.decode_failed
    slot 30-34  declared w/h mismatch   (0.5%)  -> image.dims_mismatch
    slot 35-37  fmt not in literal set  (0.3%)  -> Literal violation
    slot 38-42  stale stored phash      (0.5%)  -> image.phash_mismatch
    slot 43-44  w out of [1,4096]       (0.2%)  -> Range violation
    slot 45-49  caption length > 120    (0.5%)  -> Length violation
    slot 950-999 hot phash bucket       (5.0%)  -> identical content
                 (one shared image -> one shared phash: the skew case
                 for salted aggregation; also legitimate phash dupes)
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash bigint"
)

SEED = 42
FORMATS = ("bmp", "png", "ppm")  # 0.5 / 0.3 / 0.2 mix
_WORDS = (
    "amber brook cedar dawn ember frost glade harbor iris juniper kestrel "
    "lumen meadow nectar opal pine quartz raven sable thicket umber vale "
    "willow xenon yarrow zephyr orbit pixel raster shard tensor vector"
).split()


def defect_for_index(i: int) -> str | None:
    s = i % 1000
    if s < 10:
        return "caption_null"
    if s < 15:
        return "dup_image_id"
    if s < 25:
        return "dup_phash"
    if s < 30:
        return "bad_bytes"
    if s < 35:
        return "dims_mismatch"
    if s < 38:
        return "bad_fmt"
    if s < 43:
        return "stale_phash"
    if s < 45:
        return "w_range"
    if s < 50:
        return "caption_overlength"
    if s >= 950:
        return "hot_phash"
    return None


def _caption(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(rng.choice(_WORDS, size=n_words))


def _pixels_for(i: int, w: int, h: int) -> np.ndarray:
    rng = np.random.default_rng(SEED * 1_000_003 + i)
    return rng.integers(0, 256, (h, w, 3), dtype=np.uint8)


#: image edge-length range; tests use the small default, the benchmark
#: passes a realistic range (real image corpora are 10-100x our pytest
#: thumbnails; per-row compute must dominate per-row overhead for the
#: throughput numbers to mean anything at cluster scale)
DEFAULT_PX = (16, 64)


_HOT_INDEX = -1  # sentinel index for the hot bucket's shared image


def dims_for_index(i: int, px: tuple[int, int] = DEFAULT_PX) -> tuple[str, int, int]:
    """Closed-form (image_id, w, h) manifest companion to
    :func:`make_row` — the first two RNG draws plus the dimension
    defects, WITHOUT encoding any pixels, so oracle fixtures can embed
    exact dims as SQL literals cheaply. Must stay draw-for-draw in sync
    with ``make_row`` (guarded by a parity test); ``make_row`` itself
    is deliberately untouched so previously published golden manifests
    and the prebuilt bench tables stay byte-identical."""
    rng = np.random.default_rng(SEED * 7_000_003 + i)
    defect = defect_for_index(i)
    lo_px, hi_px = px
    fixed_px = max(32, lo_px)
    w = int(rng.integers(lo_px, hi_px))
    h = int(rng.integers(lo_px, hi_px))
    image_id = f"img_{i:012d}"
    if defect in ("hot_phash", "dup_phash"):
        w = h = fixed_px
    elif defect == "dims_mismatch":
        w = w + 7
    elif defect == "w_range":
        w, h = 4100, 2
    elif defect == "dup_image_id":
        base = (i // 1000) * 1000 + 500 + (i % 1000 - 10)
        image_id = f"img_{base:012d}"
    return image_id, w, h


def make_row(i: int, px: tuple[int, int] = DEFAULT_PX) -> dict:
    """One deterministic row; pure function of the index (and the size
    range, which must match between generation and golden manifest)."""
    from .functions.codecs import encode_image, phash64

    rng = np.random.default_rng(SEED * 7_000_003 + i)
    defect = defect_for_index(i)
    lo_px, hi_px = px
    fixed_px = max(32, lo_px)

    fmt = FORMATS[0] if (i % 10) < 5 else (FORMATS[1] if (i % 10) < 8 else FORMATS[2])
    w = int(rng.integers(lo_px, hi_px))
    h = int(rng.integers(lo_px, hi_px))

    pixel_index = _HOT_INDEX if defect == "hot_phash" else i
    if defect == "hot_phash":
        w = h = fixed_px  # shared content must share dims
    pixels = _pixels_for(pixel_index, w, h)
    data = encode_image(pixels, fmt)
    ph = phash64(pixels)
    caption = _caption(rng, int(rng.integers(3, 15)))
    image_id = f"img_{i:012d}"

    if defect == "caption_null":
        caption = None
    elif defect == "dup_image_id":
        # each dup slot copies a *distinct* clean row's id (slots 500-504
        # of the same block) -> 5 duplicate pairs per 1000 rows
        base = (i // 1000) * 1000 + 500 + (i % 1000 - 10)
        image_id = f"img_{base:012d}"
    elif defect == "dup_phash":
        # slots 15-24 form 5 content-identical PAIRS (15&16, 17&18, ...):
        # same pixels -> same phash, consistent with recompute (true
        # near-duplicates beyond the hot bucket)
        s = i % 1000
        pair_base = (i // 1000) * 1000 + 15 + 2 * ((s - 15) // 2)
        w = h = fixed_px
        pixels = _pixels_for(pair_base, w, h)
        data = encode_image(pixels, fmt)
        ph = phash64(pixels)
    elif defect == "bad_bytes":
        data = data[: max(8, len(data) // 3)] if i % 2 == 0 else b"garbage" + bytes(rng.integers(0, 256, 16, dtype=np.uint8).tobytes())
    elif defect == "dims_mismatch":
        w = w + 7  # declared != encoded
    elif defect == "bad_fmt":
        fmt = "gif"
    elif defect == "stale_phash":
        ph = ph ^ 0x5A5A5A5A5A5A  # flip bits -> recompute mismatch
    elif defect == "w_range":
        # encoded width really is out of range, so only Range fires
        w = 4100
        h = 2
        pixels = _pixels_for(i, w, h)
        data = encode_image(pixels, fmt)
        ph = phash64(pixels)
    elif defect == "caption_overlength":
        caption = _caption(rng, 40)
        while len(caption) <= 120:
            caption += " " + _caption(rng, 10)

    return {
        "image_id": image_id,
        "bytes": bytearray(data),
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": caption,
        "phash": ph,
    }


def build_images_df(
    spark: SparkSession, n_rows: int, *, partitions: int | None = None,
    px: tuple[int, int] = DEFAULT_PX,
) -> DataFrame:
    """Distributed deterministic generation: spark.range -> mapInPandas.

    Each Arrow batch builds its rows from indices alone; identical
    output regardless of parallelism (the property the local[8] vs
    local[32] scaling benchmark depends on)."""
    import pandas as pd

    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 8)

    def gen(iterator):
        for pdf in iterator:
            rows = [make_row(int(i), px) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    return spark.range(0, n_rows, numPartitions=partitions).mapInPandas(gen, IMAGES_SCHEMA)


INDEXED_IMAGES_SCHEMA = (
    "idx bigint, image_id string, bytes binary, fmt string, caption string"
)


def fidelity_category_for_index(i: int) -> str:
    """Closed-form manifest for the pixel-fidelity fixture pair: how
    the degraded twin of row ``i`` differs from the original at the
    decoded-pixel level. ``bad_bytes`` rows are undecodable on BOTH
    sides (the twin carries an empty payload); otherwise every 10th
    row gets its pixels' low bit flipped (sse == n_px exactly ->
    PSNR 48.13 dB, passes the 40 dB gate) and another tenth the HIGH
    bit (sse == 16384*n_px -> PSNR 5.99 dB, fails). Caption edits
    (``i % 10 == 9``) are orthogonal to the pixel category."""
    if defect_for_index(i) == "bad_bytes":
        return "undecodable"
    m = i % 10
    if m == 3:
        return "lsb_flip"
    if m == 7:
        return "msb_flip"
    return "identical"


def make_degraded_row(i: int, px: tuple[int, int] = DEFAULT_PX) -> dict:
    """The fidelity twin of ``make_row(i)``: decode the ORIGINAL row's
    payload, apply the closed-form pixel perturbation, re-encode in the
    same (lossless) format — so 'identical' rows are pixel-exact even
    when the bytes differ, which is precisely what the decoded-pixel
    (not byte-level) fidelity contract must accept."""
    from .functions.codecs import decode_image, detect_format, encode_image

    base = make_row(i, px)
    cat = fidelity_category_for_index(i)
    caption = base["caption"]
    if i % 10 == 9:
        caption = (caption or "") + " edited"
    if cat == "undecodable":
        data = b""
    else:
        raw = bytes(base["bytes"])
        # decode/re-encode by the payload's REAL format — the declared
        # fmt column lies on bad_fmt defect slots ('gif'), by design
        pixels = decode_image(raw)
        if cat == "lsb_flip":
            pixels = pixels ^ 1
        elif cat == "msb_flip":
            pixels = pixels ^ 0x80
        data = encode_image(pixels, detect_format(raw))
    return {
        "idx": i,
        "image_id": base["image_id"],
        "bytes": bytearray(data),
        "fmt": base["fmt"],
        "caption": caption,
    }


def _build_indexed(spark: SparkSession, n_rows: int, row_fn, *, partitions, px):
    import pandas as pd

    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 8)

    def gen(iterator):
        for pdf in iterator:
            yield pd.DataFrame([row_fn(int(i), px) for i in pdf["id"]])

    return spark.range(0, n_rows, numPartitions=partitions).mapInPandas(
        gen, INDEXED_IMAGES_SCHEMA
    )


def build_indexed_images_df(
    spark: SparkSession, n_rows: int, *, partitions: int | None = None,
    px: tuple[int, int] = DEFAULT_PX,
) -> DataFrame:
    """``build_images_df`` keyed by a unique ``idx`` (the fixture's
    ``image_id`` is deliberately non-unique — dup-id defect slots — so
    pairwise operators key on the index instead)."""

    def row(i: int, p) -> dict:
        r = make_row(i, p)
        return {
            "idx": i,
            "image_id": r["image_id"],
            "bytes": r["bytes"],
            "fmt": r["fmt"],
            "caption": r["caption"],
        }

    return _build_indexed(spark, n_rows, row, partitions=partitions, px=px)


def build_degraded_images_df(
    spark: SparkSession, n_rows: int, *, partitions: int | None = None,
    px: tuple[int, int] = DEFAULT_PX,
) -> DataFrame:
    """The degraded twin table of :func:`build_indexed_images_df` —
    distributed, deterministic, same idx keys."""
    return _build_indexed(
        spark, n_rows, make_degraded_row, partitions=partitions, px=px
    )


def expected_defect_counts(n_rows: int) -> dict[str, int]:
    counts: dict[str, int] = {}
    for i in range(n_rows):
        d = defect_for_index(i)
        if d:
            counts[d] = counts.get(d, 0) + 1
    return counts


# ---------------------------------------------------------------------------
# audio fixture (multimodal Axis-A: WAV clips with a closed-form manifest)
# ---------------------------------------------------------------------------

AUDIO_SCHEMA = "clip_id string, payload binary"
AUDIO_RATE = 8000


def audio_manifest_for_index(i: int) -> dict:
    """Closed-form per-clip facts (the golden manifest): every 10th clip
    (slot 9) is a malformed payload; the rest are PCM-16 mono WAV tones
    with n_samples = 4000 + (i % 5) * 1000 at AUDIO_RATE."""
    bad = (i % 10) == 9
    return {
        "clip_id": f"clip_{i:05d}",
        "decode_ok": not bad,
        "rate": None if bad else AUDIO_RATE,
        "n_samples": None if bad else 4000 + (i % 5) * 1000,
        "n_channels": None if bad else 1,
    }


def make_audio_row(i: int) -> dict:
    from .functions.audiocodecs import encode_wav

    m = audio_manifest_for_index(i)
    if not m["decode_ok"]:
        rng = np.random.default_rng(SEED * 11_000_003 + i)
        return {"clip_id": m["clip_id"], "payload": bytearray(rng.bytes(64))}
    n = m["n_samples"]
    freq = 200.0 + (i % 8) * 100.0
    t = np.arange(n)
    tone = (np.sin(2 * np.pi * freq * t / AUDIO_RATE) * 20000).astype(np.int16)
    return {"clip_id": m["clip_id"], "payload": bytearray(encode_wav(tone, AUDIO_RATE))}


def build_audio_df(spark: SparkSession, n_rows: int, *, partitions: int | None = None) -> DataFrame:
    """Deterministic distributed WAV-clip table (index-keyed, like
    build_images_df — identical output at any parallelism)."""
    import pandas as pd

    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 8)

    def gen(iterator):
        for pdf in iterator:
            rows = [make_audio_row(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    return spark.range(0, n_rows, numPartitions=partitions).mapInPandas(gen, AUDIO_SCHEMA)


# ---------------------------------------------------------------------------
# video fixture (multimodal Axis-A: Y4M clips with a closed-form manifest)
# ---------------------------------------------------------------------------

VIDEO_SCHEMA = "video_id string, payload binary"
_VIDEO_CS = ("420jpeg", "444", "mono")  # cycled by index: all demux paths


def video_manifest_for_index(i: int) -> dict:
    """Closed-form per-clip facts (the golden manifest): every 10th clip
    (slot 9) is a malformed payload; the rest are Y4M streams cycling
    colorspace 420jpeg/444/mono with w = 16 + (i % 2) * 8,
    h = 8 + (i % 2) * 8 (always even — 420-safe),
    n_frames = 2 + (i % 4), fps = (25 + (i % 2) * 5):1."""
    bad = (i % 10) == 9
    if bad:
        return {
            "video_id": f"vid_{i:05d}", "decode_ok": False, "w": None,
            "h": None, "n_frames": None, "fps_num": None, "fps_den": None,
            "colorspace": None,
        }
    return {
        "video_id": f"vid_{i:05d}",
        "decode_ok": True,
        "w": 16 + (i % 2) * 8,
        "h": 8 + (i % 2) * 8,
        "n_frames": 2 + (i % 4),
        "fps_num": 25 + (i % 2) * 5,
        "fps_den": 1,
        "colorspace": _VIDEO_CS[i % 3],
    }


def make_video_row(i: int) -> dict:
    from .functions.videocodecs import encode_y4m

    m = video_manifest_for_index(i)
    if not m["decode_ok"]:
        rng = np.random.default_rng(SEED * 13_000_037 + i)
        return {"video_id": m["video_id"], "payload": bytearray(rng.bytes(96))}
    rng = np.random.default_rng(SEED * 13_000_039 + i)
    n, h, w = m["n_frames"], m["h"], m["w"]
    shape = (n, h, w) if m["colorspace"] == "mono" else (n, h, w, 3)
    frames = rng.integers(0, 256, shape, dtype=np.uint8)
    payload = encode_y4m(
        frames, fps=(m["fps_num"], m["fps_den"]), colorspace=m["colorspace"]
    )
    return {"video_id": m["video_id"], "payload": bytearray(payload)}


def build_video_df(spark: SparkSession, n_rows: int, *, partitions: int | None = None) -> DataFrame:
    """Deterministic distributed Y4M-clip table (index-keyed, like
    build_audio_df — identical output at any parallelism)."""
    import pandas as pd

    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 8)

    def gen(iterator):
        for pdf in iterator:
            rows = [make_video_row(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    return spark.range(0, n_rows, numPartitions=partitions).mapInPandas(gen, VIDEO_SCHEMA)


# ---------------------------------------------------------------------------
# Closed-form phash table: near-dup structure expressible in BOTH engines
# ---------------------------------------------------------------------------

PHASH_BITS = 48
_PHASH_MOD = 1 << PHASH_BITS  # 281474976710656
_PHASH_MUL = 1099511628211  # FNV-1a 64 prime; i*MUL stays < 2^63 for i < 8.3e6
_PHASH_HOT = 123456789012345  # < 2^48: the hot bucket's shared signature


def phash_for_index(i: int) -> int:
    """Closed-form 48-bit perceptual-hash stand-in for row ``i`` — the
    same integer a DuckDB oracle computes with plain bigint arithmetic
    (no engine-specific hash function), so the DISTRIBUTED banded-LSH
    join can be verified against an independent brute-force twin.

    Planted structure:
      * ``i % 101 == 0``  -> hot clique: HOT xor one low bit (i % 3) —
        ~n/101 rows whose pairwise Hamming distance is 0 or 2. This is
        the north rule's "hot phash bucket": one (band, slice) bucket
        carrying a whole near-dup cluster, the skew case.
      * ``i % 5 == 4``    -> XOR pair with row i-1's BASE hash: two
        distinct flipped bits (positions i%48 and (7i+13)%48 — always
        different: their gap 6i+13 is odd, never 0 mod 48), Hamming
        exactly 2.
      * otherwise         -> base(i) = (i * FNV_PRIME) mod 2^48,
        spread uniformly over the 48-bit space.
    Rules reference base(i-1), never phash(i-1), so the formula is
    non-recursive and row-local in SQL."""
    if i % 101 == 0:
        return _PHASH_HOT ^ (1 << (i % 3))
    if i % 5 == 4:
        base_prev = ((i - 1) * _PHASH_MUL) % _PHASH_MOD
        return base_prev ^ (1 << (i % PHASH_BITS)) ^ (1 << ((7 * i + 13) % PHASH_BITS))
    return (i * _PHASH_MUL) % _PHASH_MOD


def build_phash_df(spark: SparkSession, n_rows: int, *, partitions: int | None = None) -> DataFrame:
    """(image_id string, phash bigint) via pure Column arithmetic over
    ``spark.range`` — zero Python rows, identical at any parallelism."""
    from pyspark.sql import functions as F

    if n_rows > 8_300_000:
        raise ValueError(
            "build_phash_df: n_rows > 8_300_000 would overflow i * "
            f"{_PHASH_MUL} past 2^63 (silent signed wraparound in Spark "
            "with ANSI off, while the DuckDB twin would not wrap)"
        )
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 8)
    i = F.col("id")
    base = (i * F.lit(_PHASH_MUL)) % F.lit(_PHASH_MOD)
    base_prev = ((i - 1) * F.lit(_PHASH_MUL)) % F.lit(_PHASH_MOD)
    # python-API shiftleft takes a literal shift; the SQL builtin takes
    # a column — route the column-shift cases through expr()
    pair_mask = F.expr(
        f"shiftleft(1L, cast(id % {PHASH_BITS} as int)) "
        f"^ shiftleft(1L, cast((id * 7 + 13) % {PHASH_BITS} as int))"
    )
    hot = F.expr(f"{_PHASH_HOT}L ^ shiftleft(1L, cast(id % 3 as int))")
    phash = (
        F.when(i % 101 == 0, hot)
        .when(i % 5 == 4, base_prev.bitwiseXOR(pair_mask))
        .otherwise(base)
    )
    return spark.range(0, n_rows, numPartitions=partitions).select(
        F.format_string("img_%012d", i).alias("image_id"),
        phash.cast("bigint").alias("phash"),
    )


def phash_oracle_cte(n_rows: int) -> str:
    """The DuckDB twin of :func:`build_phash_df` as a CTE body — kept
    beside the Python formula so the two can't drift apart silently."""
    if n_rows > 8_300_000:
        raise ValueError(
            "phash_oracle_cte: n_rows > 8_300_000 would overflow i * "
            f"{_PHASH_MUL} past 2^63 (see build_phash_df guard)"
        )
    return f"""
        SELECT 'img_' || lpad(i::VARCHAR, 12, '0') AS image_id,
               CASE
                 WHEN i % 101 = 0 THEN xor({_PHASH_HOT}::BIGINT, (1::BIGINT << (i % 3)))
                 WHEN i % 5 = 4 THEN xor(
                     ((i - 1) * {_PHASH_MUL}) % {_PHASH_MOD},
                     xor((1::BIGINT << (i % {PHASH_BITS})),
                         (1::BIGINT << ((i * 7 + 13) % {PHASH_BITS}))))
                 ELSE (i * {_PHASH_MUL}) % {_PHASH_MOD}
               END AS phash
        FROM (SELECT unnest(generate_series(0, {n_rows - 1})) AS i)
    """
