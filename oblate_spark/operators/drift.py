"""Distribution-drift checks: histograms, PSI, KS, sketched quantiles.

Axis B of the north rule: the reference's Length/Literal checks lifted
to distribution level (SURVEY.md §2.7). scipy/datasketches are absent
in the sandbox, so the PSI and KS formulas are implemented directly
(they are ~20 LoC each); quantiles come from Spark's own
``percentile_approx`` sketch.

Scale notes:

* ``fixed_width_histogram`` — one groupBy on a derived bin id
  (map-side combinable; at most ``nbins`` groups, so the shuffle is
  tiny regardless of table size).
* ``psi`` / ``ks_statistic`` / ``drift_statistics`` — one aggregate
  over the *binned* ids of both sides (≤ a few hundred rows):
  driver-side math on its output, never on raw data. Every PSI in the
  engine, categorical and windowed included, is ``psi_from_probs``.
* ``approx_quantiles`` / ``grouped_approx_quantiles`` — one
  ``percentile_approx`` aggregate (globally, or per key): partial
  sketches combine map-side in the JVM, so sketch memory is set by
  ``ACCURACY``, not by rows, and a hot key needs no salting.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, functions as F

__all__ = [
    "fixed_width_histogram",
    "psi",
    "ks_statistic",
    "drift_statistics",
    "drift_statistics_flagged",
    "drift_report",
    "ACCURACY",
    "approx_quantiles",
    "grouped_approx_quantiles",
    "volume_anomalies",
    "benford_first_digit",
    "category_diff",
    "signature_bit_profile",
    "signature_bit_drift",
]


def bin_expr(col, lo: float, hi: float, nbins: int):
    """Bin id in [0, nbins-1]; values outside [lo, hi) clamp to the edge
    bins. Identical arithmetic is used by the DuckDB oracle SQL."""
    width = (hi - lo) / nbins
    raw = F.floor((col - F.lit(lo)) / F.lit(width))
    return F.greatest(F.lit(0).cast("long"), F.least(F.lit(nbins - 1).cast("long"), raw.cast("long")))


def fixed_width_histogram(
    df: DataFrame, col: str, *, lo: float, hi: float, nbins: int = 32
) -> DataFrame:
    """(bin, cnt) histogram with fixed-width bins — deterministic, so two
    engines binning the same data agree exactly."""
    return (
        df.filter(F.col(col).isNotNull())
        .select(bin_expr(F.col(col), lo, hi, nbins).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def psi_from_probs(pe, pa, eps: float) -> float:
    """PSI = sum over bins of (p_a - p_e) * ln(p_a / p_e), both
    probability vectors floored at ``eps`` (an empty bin would make the
    log infinite). Common thresholds: <0.1 stable, 0.1-0.25 moderate
    shift, >0.25 major shift."""
    pe = np.clip(np.asarray(pe, dtype=np.float64), eps, None)
    pa = np.clip(np.asarray(pa, dtype=np.float64), eps, None)
    return float(np.sum((pa - pe) * np.log(pa / pe)))


def psi(
    expected: DataFrame,
    actual: DataFrame,
    *,
    col: str,
    lo: float,
    hi: float,
    nbins: int = 32,
    eps: float = 1e-6,
) -> float:
    """Population Stability Index between two frames on one column, over
    ``nbins`` fixed-width bins (:func:`psi_from_probs`); one aggregate
    job, as :func:`drift_statistics`."""
    return drift_statistics(
        expected, actual, col=col, lo=lo, hi=hi, nbins_psi=nbins, nbins_ks=nbins, eps=eps
    )["psi"]


def ks_statistic(
    expected: DataFrame,
    actual: DataFrame,
    *,
    col: str,
    lo: float,
    hi: float,
    nbins: int = 256,
) -> float:
    """Two-sample Kolmogorov–Smirnov statistic approximated on binned
    CDFs (exact as nbins -> distinct values; 256 bins bounds the error
    at ~1/256 of the range); one aggregate job, as
    :func:`drift_statistics`."""
    return drift_statistics(
        expected, actual, col=col, lo=lo, hi=hi, nbins_psi=nbins, nbins_ks=nbins
    )["ks"]


def _drift_from_tagged(
    tagged: DataFrame,
    col: str,
    lo: float,
    hi: float,
    nbins_psi: int,
    nbins_ks: int,
    eps: float,
) -> dict:
    """Both drift statistics from ONE aggregation over a side-tagged
    frame (``__side``: False = expected, True = actual, NULL = neither).

    Each row contributes its coarse (PSI) and fine (KS) bin id in the
    same projection, so the group key is the composite (bin_psi,
    bin_ks) — at most ~nbins_ks + nbins_psi groups (fine bins nest in
    coarse ones up to FP boundary rounding, which the composite key
    handles exactly). Map-side combinable; the collect is <= a few
    hundred rows regardless of table size. Binning per statistic is the
    direct formula — bit-identical to the separate-histogram path and to
    the DuckDB oracle."""
    c = F.col(col)
    rows = (
        tagged.filter(c.isNotNull() & F.col("__side").isNotNull())
        .select(
            bin_expr(c, lo, hi, nbins_psi).alias("bp"),
            bin_expr(c, lo, hi, nbins_ks).alias("bk"),
            "__side",
        )
        .groupBy("bp", "bk")
        .agg(
            F.count(F.when(~F.col("__side"), F.lit(1))).alias("ce"),
            F.count(F.when(F.col("__side"), F.lit(1))).alias("ca"),
        )
        .collect()
    )
    he, ha = np.zeros(nbins_psi), np.zeros(nbins_psi)
    ke, ka = np.zeros(nbins_ks), np.zeros(nbins_ks)
    for r in rows:
        he[int(r["bp"])] += r["ce"]
        ha[int(r["bp"])] += r["ca"]
        ke[int(r["bk"])] += r["ce"]
        ka[int(r["bk"])] += r["ca"]
    psi_val = psi_from_probs(
        he / he.sum() if he.sum() > 0 else he, ha / ha.sum() if ha.sum() > 0 else ha, eps
    )
    qe = ke / ke.sum() if ke.sum() > 0 else ke
    qa = ka / ka.sum() if ka.sum() > 0 else ka
    ks_val = float(np.max(np.abs(np.cumsum(qe) - np.cumsum(qa))))
    return {"psi": psi_val, "ks": ks_val}


def drift_statistics(
    expected: DataFrame,
    actual: DataFrame,
    *,
    col: str,
    lo: float,
    hi: float,
    nbins_psi: int = 32,
    nbins_ks: int = 256,
    eps: float = 1e-6,
) -> dict:
    """PSI and KS together in a single job (tag-union of the two sides +
    one combined aggregation) — replaces four independent histogram
    scans with one pass per side."""
    tagged = expected.select(F.col(col), F.lit(False).alias("__side")).unionByName(
        actual.select(F.col(col), F.lit(True).alias("__side"))
    )
    return _drift_from_tagged(tagged, col, lo, hi, nbins_psi, nbins_ks, eps)


def drift_statistics_flagged(
    df: DataFrame,
    *,
    col: str,
    expected_cond,
    actual_cond,
    lo: float,
    hi: float,
    nbins_psi: int = 32,
    nbins_ks: int = 256,
    eps: float = 1e-6,
) -> dict:
    """The common drift pattern — both populations live in ONE table,
    distinguished by a predicate (this week vs last week, cohort A vs
    B). One single scan of the fact table computes PSI and KS for both
    sides; rows matching neither predicate are ignored."""
    side = F.when(actual_cond, F.lit(True)).when(expected_cond, F.lit(False))
    tagged = df.select(F.col(col), side.alias("__side"))
    return _drift_from_tagged(tagged, col, lo, hi, nbins_psi, nbins_ks, eps)


def drift_report(
    expected: DataFrame,
    actual: DataFrame,
    *,
    col: str,
    lo: float,
    hi: float,
    nbins: int = 32,
    psi_threshold: float = 0.25,
    ks_threshold: float = 0.2,
) -> dict:
    stats = drift_statistics(
        expected, actual, col=col, lo=lo, hi=hi,
        nbins_psi=nbins, nbins_ks=max(nbins, 128),
    )
    p, k = stats["psi"], stats["ks"]
    return {
        "column": col,
        "psi": p,
        "ks": k,
        "psi_exceeded": p > psi_threshold,
        "ks_exceeded": k > ks_threshold,
    }


# ---------------------------------------------------------------------------
# quantiles: Spark's percentile_approx sketch (a JVM partial aggregate)
# ---------------------------------------------------------------------------

# percentile_approx's accuracy for every sketched quantile in the engine
# (drift here, stats.iqr/mad_outlier_profile): rank error <= n / ACCURACY,
# and below ACCURACY values the sketch returns the exact order statistic.
ACCURACY = 10_000


def approx_quantiles(
    df: DataFrame,
    col: str,
    quantiles: Sequence[float] = (0.01, 0.25, 0.5, 0.75, 0.99),
) -> dict[float, float]:
    """Quantiles of ``col`` from one ``percentile_approx`` aggregate:
    each executor builds a partial sketch map-side, one row of merged
    quantiles reaches the driver. An estimate is the order statistic at
    rank ceil(q·n), within n / ACCURACY ranks. NULL and NaN are ignored;
    an empty or all-NULL column gives NaN per quantile."""
    probs = [float(q) for q in quantiles]
    row = df.agg(
        F.percentile_approx(F.col(col).cast("double"), probs, ACCURACY)
    ).first()  # bounded collect: one row of len(probs) doubles
    values = row[0] or [float("nan")] * len(probs)
    return dict(zip(quantiles, values))


def grouped_approx_quantiles(
    df: DataFrame,
    key_col: str,
    value_col: str,
    quantiles: Sequence[float] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Per-KEY quantiles from ``groupBy(key).agg(percentile_approx)``:
    (key string, quantile double, value double) rows, same estimate and
    NULL/NaN rules as ``approx_quantiles``. The sketch combines
    map-side, so a hot key sends one partial sketch per mapper through
    the shuffle, not its rows. A group with no non-NULL value is
    absent."""
    probs = [float(q) for q in quantiles]
    sketch = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.percentile_approx(F.col(value_col).cast("double"), probs, ACCURACY).alias("v")
    )
    return sketch.select(
        "key",
        F.inline(
            F.arrays_zip(
                F.array(*[F.lit(q) for q in probs]).alias("quantile"),
                F.col("v").alias("value"),
            )
        ),
    )


def categorical_histogram(df: DataFrame, col: str) -> DataFrame:
    """(value, cnt) — counts per category (map-side combinable)."""
    return df.filter(F.col(col).isNotNull()).groupBy(F.col(col).alias("value")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def categorical_psi(
    expected: DataFrame, actual: DataFrame, *, col: str, eps: float = 1e-6
) -> float:
    """PSI over a categorical column (e.g. image format mix): same
    formula as the binned numeric PSI, categories as bins (union of both
    sides; missing category -> eps)."""
    e = {r["value"]: float(r["cnt"]) for r in categorical_histogram(expected, col).collect()}
    a = {r["value"]: float(r["cnt"]) for r in categorical_histogram(actual, col).collect()}
    cats = sorted(set(e) | set(a))
    et, at = sum(e.values()) or 1.0, sum(a.values()) or 1.0
    return psi_from_probs([e.get(c, 0.0) / et for c in cats], [a.get(c, 0.0) / at for c in cats], eps)


def categorical_psi_flagged(
    df: DataFrame,
    *,
    col,
    expected_cond,
    actual_cond,
    eps: float = 1e-6,
) -> float:
    """Categorical PSI when both populations live in ONE table: a single
    scan with per-category conditional counts (vs two scans for the
    two-frame form). Population rule, IDENTICAL to
    ``drift_statistics_flagged``: a row matching both predicates counts
    on the *actual* side only (exclusive when-chain precedence); rows
    matching neither are ignored."""
    side = F.when(actual_cond, F.lit(True)).when(expected_cond, F.lit(False))
    rows = (
        df.filter(F.col(col).isNotNull())
        .groupBy(col)
        .agg(
            F.count(F.when(side == F.lit(False), F.lit(1))).alias("ce"),
            F.count(F.when(side == F.lit(True), F.lit(1))).alias("ca"),
        )
        .collect()
    )
    et = float(sum(r["ce"] for r in rows)) or 1.0
    at = float(sum(r["ca"] for r in rows)) or 1.0
    # a category absent from both populations adds (eps - eps) * ln 1 = 0
    return psi_from_probs([r["ce"] / et for r in rows], [r["ca"] / at for r in rows], eps)


def image_table_drift_report(
    reference: DataFrame,
    current: DataFrame,
    *,
    caption_col: str = "caption",
    fmt_col: str = "fmt",
    max_caption_len: float = 256.0,
    nbins: int = 16,
    psi_threshold: float = 0.25,
) -> dict:
    """North-rule drift checks for the image+caption table: caption-
    length distribution (numeric PSI + KS on fixed bins) and format mix
    (categorical PSI) between a reference snapshot and the current data.
    Both sides reduce to <= nbins counts before any driver-side math.

    PSI is a large-sample statistic: with n samples per side its noise
    floor is ~nbins/n (eps-floored singleton bins explode the log term),
    so keep nbins << n — the 16-bin default is calibrated for >= 1k rows
    per side; at real scale any nbins is fine."""
    ref_len = reference.select(F.length(caption_col).cast("double").alias("__len"))
    cur_len = current.select(F.length(caption_col).cast("double").alias("__len"))
    cap = drift_statistics(
        ref_len, cur_len, col="__len", lo=0.0, hi=max_caption_len,
        nbins_psi=nbins, nbins_ks=128,
    )
    cap_psi, cap_ks = cap["psi"], cap["ks"]
    fmt_psi = categorical_psi(reference, current, col=fmt_col)
    return {
        "caption_len_psi": cap_psi,
        "caption_len_ks": cap_ks,
        "fmt_mix_psi": fmt_psi,
        "caption_drifted": cap_psi > psi_threshold,
        "fmt_drifted": fmt_psi > psi_threshold,
    }


def volume_anomalies(
    df,
    ts_col: str,
    *,
    k: int = 3,
) -> "DataFrame":
    """Ingest-volume anomaly detection: bucket rows per day and flag
    buckets whose count deviates more than ``k`` standard deviations
    from the table's own per-bucket mean — the "did a feed die /
    double-fire" monitor that row-level checks cannot see. Output:
    (bucket_start, n_rows, is_anomaly) for EVERY bucket.

    The k·σ gate is EXACT-INTEGER (same contract as the PSNR and
    centroid-distance gates): with per-bucket counts c_i, n buckets,
    S=Σc, Q=Σc², flag iff (c·n − S)² > k²·(n·Q − S²) — the |c−μ|>kσ
    inequality cleared of division and sqrt, so there is no float on
    either side and an oracle reproduces it bit-for-bit. BIGINTs hold
    to ~10^9 rows/bucket at ~10^3 buckets; beyond that cast the three
    products to DECIMAL(38,0).

    Scale: one map-side-combined groupBy(day) to |buckets| rows, one
    3-scalar global fold broadcast back (literal join of a 1-row
    frame) — the table is scanned once; everything after is O(buckets).
    """
    day = F.date_trunc("day", F.col(ts_col)).alias("bucket_start")
    counts = df.groupBy(day).agg(F.count(F.lit(1)).alias("n_rows"))
    stats = counts.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("n_rows").alias("__s"),
        F.sum(F.col("n_rows") * F.col("n_rows")).alias("__q"),
    )
    j = counts.crossJoin(F.broadcast(stats))
    lhs = F.col("n_rows") * F.col("__n") - F.col("__s")
    rhs = F.lit(int(k) * int(k)) * (
        F.col("__n") * F.col("__q") - F.col("__s") * F.col("__s")
    )
    return j.select(
        "bucket_start",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        ((lhs * lhs) > rhs).alias("is_anomaly"),
    )


def benford_first_digit(df: DataFrame, int_col: str) -> DataFrame:
    """Benford's-law profile of an integer column: for each leading
    digit 1-9, the observed share vs the Benford expectation
    log10(1+1/d) — (digit, n, p_observed, p_expected). Financial/count
    columns that drift from Benford flag fabricated or truncated feeds;
    it is the distribution check that needs no reference snapshot.

    The first digit comes from the INTEGER's decimal string (one
    substring on the codegen'd cast — no float log10 of the value,
    whose 1-ulp wobble at exact powers of ten would misbin boundary
    values and break cross-engine reproducibility). Zero values carry
    no leading digit and are excluded; negatives contribute their
    magnitude's digit. One map-side-combined 9-group aggregate joined
    to a literal 9-row digit frame so absent digits still report
    p_observed = 0."""
    first = F.substring(F.abs(F.col(int_col)).cast("string"), 1, 1).cast("int")
    counts = (
        df.filter(F.col(int_col).isNotNull() & (F.col(int_col) != 0))
        .select(first.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    digits = df.sparkSession.range(1, 10).select(
        F.col("id").cast("int").alias("digit")
    )
    total = counts.agg(F.sum("cnt").alias("__t"))
    return (
        digits.join(counts, "digit", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            F.coalesce(F.col("cnt"), F.lit(0)).cast("bigint").alias("n"),
            F.round(
                F.coalesce(F.col("cnt"), F.lit(0)).cast("double")
                / F.col("__t").cast("double"),
                6,
            ).alias("p_observed"),
            F.round(
                F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double")),
                6,
            ).alias("p_expected"),
        )
    )


def category_diff(df: DataFrame, col, *, base_cond, cur_cond) -> DataFrame:
    """Categorical-domain drift PSI cannot express: which categories are
    NEW in the current cohort, which VANISHED since the baseline, and
    the count movement of the rest. A format mix whose shares barely
    move still fails this check when a new 'avif' value appears — the
    schema-on-read regression a share-based statistic smooths over.

    Output: (category, n_base, n_current, status) with status in
    {'new', 'vanished', 'kept'}. Rows in neither cohort (the category
    exists in the table but matches neither condition) are dropped.

    ONE scan, ONE map-side-combinable groupBy: both cohorts aggregate
    as conditional sums per category — no second scan, no join of two
    count frames, and a hot category contributes one partial row per
    mapper. The shuffle carries |categories| rows."""
    col = F.col(col) if isinstance(col, str) else col
    out = (
        df.select(
            col.alias("category"),
            F.when(base_cond, 1).otherwise(0).alias("__b"),
            F.when(cur_cond, 1).otherwise(0).alias("__c"),
        )
        .groupBy("category")
        .agg(
            F.sum("__b").cast("bigint").alias("n_base"),
            F.sum("__c").cast("bigint").alias("n_current"),
        )
        .filter((F.col("n_base") > 0) | (F.col("n_current") > 0))
    )
    status = (
        F.when(F.col("n_base") == 0, F.lit("new"))
        .when(F.col("n_current") == 0, F.lit("vanished"))
        .otherwise(F.lit("kept"))
    )
    return out.select("category", "n_base", "n_current", status.alias("status"))


def signature_bit_profile(
    df: DataFrame, sig_col: str, *, bits: int = 48
) -> DataFrame:
    """Per-bit popcount profile of an integer signature column
    (phash/simhash): (bit, ones, n, frac_ones). On a healthy perceptual
    hash every bit sits near frac 0.5; a decoder or preprocessing
    change that biases specific DCT coefficients shows up as specific
    bits drifting — BEFORE any pair-level near-dup comparison would.

    One whole-table aggregate with ``bits`` algebraic sums (map-side
    combinable, one scan, no row fan-out — an explode over bit indexes
    would multiply the scan output ``bits``x at 100 TB), unpivoted by
    a stack projection.

    .. caution:: An EMPTY (or all-null) input yields ``n = 0`` and NULL
       ``frac_ones`` for every bit, and ``signature_bit_drift`` built on
       two such profiles reports NULL ``abs_diff``/``flagged`` — i.e. an
       empty snapshot passes the drift gate silently. Callers gating a
       pipeline on bit drift must pre-check snapshot non-emptiness
       (e.g. ``volume_anomaly`` or a bare count) before trusting an
       all-NULL profile."""
    aggs = [F.count(F.col(sig_col)).alias("__n")]
    for b in range(bits):
        aggs.append(
            F.sum(F.shiftright(F.col(sig_col), b).bitwiseAND(F.lit(1)))
            .alias(f"__b{b}")
        )
    wide = df.agg(*aggs)
    tuples = ", ".join(f"{b}, `__b{b}`" for b in range(bits))
    return wide.selectExpr(
        "__n", f"stack({bits}, {tuples}) as (bit, ones)"
    ).select(
        F.col("bit").cast("int").alias("bit"),
        F.col("ones").cast("bigint").alias("ones"),
        F.col("__n").cast("bigint").alias("n"),
        (F.col("ones") / F.col("__n")).alias("frac_ones"),
    )


def signature_bit_drift(
    base: DataFrame,
    current: DataFrame,
    sig_col: str,
    *,
    bits: int = 48,
    threshold: float = 0.05,
) -> DataFrame:
    """Per-bit frequency drift between two snapshots' signature
    columns: (bit, frac_base, frac_current, abs_diff, flagged). Each
    side is one aggregate; the join is ``bits`` rows — driver-trivial,
    broadcast by AQE regardless of input scale."""
    b = signature_bit_profile(base, sig_col, bits=bits).select(
        "bit", F.col("frac_ones").alias("frac_base")
    )
    c = signature_bit_profile(current, sig_col, bits=bits).select(
        "bit", F.col("frac_ones").alias("frac_current")
    )
    diff = F.abs(F.col("frac_current") - F.col("frac_base"))
    return b.join(c, "bit").select(
        "bit",
        "frac_base",
        "frac_current",
        diff.alias("abs_diff"),
        (diff > F.lit(threshold)).alias("flagged"),
    )
