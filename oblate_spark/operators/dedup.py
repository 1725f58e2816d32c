"""Deduplication operators for large-scale training-data pipelines.

Exact (hash-groupBy), MinHash+LSH (shingle -> minhash -> band ->
bucket-join), SimHash, and n-gram Jaccard — all pure DataFrame
expressions (JVM-side, codegen'd; no Python UDFs anywhere).

Design choice for cross-engine verifiability: hash primitives are
``md5`` over explicit strings (identical bytes in any engine), and
"minimum hash" is the *lexicographic* minimum of hex digests — a valid
minhash family since md5 is uniform over hex strings. This lets the
DuckDB oracle compute bit-identical signatures.

Scale notes:

* exact_duplicates — one groupBy on md5(normalized text); map-side
  combinable; duplicate groups are tiny, joined back broadcast.
* minhash_signatures — explode to (doc, shingle) then ONE groupBy(doc)
  computing all H minhashes via conditional min aggregates (no
  per-hash shuffle). Shuffle volume = distinct shingles per doc. The
  output is one row per doc holding the H minhashes as an array.
* lsh_band_signatures — a projection of that row: each band is a slice
  of the minhash array, hashed in place (no shuffle, no regrouping).
* lsh_candidate_pairs — band signatures bucket-join; only docs sharing
  a band collide. The self-join is on (band, sig) — high-cardinality
  keys, so no skew unless a band bucket is genuinely hot (near-dup
  cluster), which is exactly what AQE skew-split handles.
* ngram_jaccard_pairs — O(n²) verification is applied only to LSH
  candidates at scale (``pairs`` argument); the exhaustive variant is
  for small oracles/tests.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from .binding import let
from .partitioning import ensure_fanout_parallelism

__all__ = [
    "normalized_text",
    "exact_duplicates",
    "shingle_array",
    "shingles",
    "minhash_signatures",
    "lsh_band_signatures",
    "lsh_candidate_pairs",
    "ngram_jaccard_pairs",
    "simhash",
    "simhash_hamming_pairs",
    "pair_label_consistency",
    "embedding_near_duplicates",
    "duplicate_clusters",
    "keep_canonical",
    "keep_best_canonical",
]


def normalized_text(col):
    """lower + collapse whitespace — the canonical form for exact dedup."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def exact_duplicates(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """Rows belonging to exact-duplicate groups (after normalization):
    (id, content_hash, group_size). One shuffle on the 32-hex md5 —
    uniformly distributed, no skew.

    group_size is a count() window over that one shuffle (round 6): the
    old groupBy + join-back shape normalized and hashed the corpus
    TWICE (once per join side — ReuseExchange does not fire across the
    partial-aggregate asymmetry) and shuffled the hash key twice."""
    from pyspark.sql import Window

    hashed = df.select(
        F.col(id_col), F.md5(normalized_text(F.col(text_col))).alias("content_hash")
    )
    size = F.count(F.lit(1)).over(Window.partitionBy("content_hash"))
    return (
        hashed.withColumn("group_size", size)
        .filter(F.col("group_size") > 1)
        .select(id_col, "content_hash", "group_size")
    )


def shingle_array(text, k: int = 5):
    """The distinct character k-shingles of ``text`` (normalized) as one
    array column, built with sequence+transform (no UDF). A text shorter
    than ``k`` (the empty text too) gives itself as its one shingle; a
    NULL text gives one NULL shingle.

    The normalized text is bound once per row with
    :func:`~.binding.let`: a shingle lambda that captured it directly
    would rerun trim/lower/regexp_replace once per shingle."""
    return F.array_distinct(
        let(
            normalized_text(text),
            lambda txt: F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(txt) - (k - 1), F.lit(1))),
                lambda i: txt.substr(i, F.lit(k)),
            ),
        )
    )


def shingles(df: DataFrame, *, id_col: str, text_col: str, k: int = 5) -> DataFrame:
    """Distinct character k-shingles per document: (id, shingle), one
    row per element of :func:`shingle_array`.

    The input is repartitioned BEFORE the explode: document tables are
    often a single small file (one input split), and without the cheap
    pre-shuffle the entire shingle+hash fan-out — the expensive part —
    runs in one task (measured: zero core-scaling on sf0.1)."""
    df = ensure_fanout_parallelism(df)
    return df.select(F.col(id_col), F.explode(shingle_array(F.col(text_col), k)).alias("shingle"))


def minhash_signatures(
    df: DataFrame, *, id_col: str, text_col: str, k: int = 5, num_hashes: int = 16
) -> DataFrame:
    """(id, minhashes): the H lexicographic-min md5 minhashes of a doc
    as one array, in hash order.

    One explode + one groupBy(id); the H mins are computed as H
    conditional aggregates over the same shuffled data (seed prefixed
    into the hashed string gives H independent hash functions). A
    per-row ``array_min`` over the shingle array, with no shingle
    shuffle, hashes the same but measured slower.
    """
    sh = shingles(df, id_col=id_col, text_col=text_col, k=k)
    mins = [F.min(F.md5(F.concat(F.lit(f"{h}|"), F.col("shingle")))) for h in range(num_hashes)]
    return sh.groupBy(id_col).agg(F.array(*mins).alias("minhashes"))


def lsh_band_signatures(
    signatures: DataFrame, *, id_col: str, rows_per_band: int = 4
) -> DataFrame:
    """(id, band, band_sig): md5 of the band's minhashes joined in hash
    order. Docs agreeing on all hashes within a band share band_sig.
    Each band is a slice of the doc's ``minhashes`` array, so this is a
    per-row projection: no shuffle, no regrouping."""
    mh = F.col("minhashes")
    bands = F.transform(
        F.sequence(F.lit(0), F.size(mh) - 1, F.lit(rows_per_band)),
        lambda i: F.struct(
            (i / rows_per_band).cast("int").alias("band"),
            F.md5(F.array_join(F.slice(mh, i + 1, rows_per_band), ",")).alias("band_sig"),
        ),
    )
    return signatures.select(F.col(id_col), F.inline(bands))


def lsh_candidate_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    k: int = 5,
    num_hashes: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """Distinct candidate near-duplicate pairs (id_a < id_b) that share
    at least one LSH band. A NULL text is no candidate: its one NULL
    shingle would give every NULL-text document the same bands."""
    df = df.filter(F.col(text_col).isNotNull())
    sigs = minhash_signatures(df, id_col=id_col, text_col=text_col, k=k, num_hashes=num_hashes)
    bands = lsh_band_signatures(sigs, id_col=id_col, rows_per_band=rows_per_band)
    return (
        self_join_pairs(bands, id_col, ["band", "band_sig"])
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def self_join_pairs(df: DataFrame, id_col: str, keys: list) -> DataFrame:
    """``df`` joined to itself on ``keys`` with ``a.id < b.id``; select
    the sides' columns as ``a.<col>`` / ``b.<col>``. Both sides alias the
    whole frame, so their plans match and ReuseExchange computes it once."""
    a, b = df.alias("a"), df.alias("b")
    on = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for key in keys:
        on = on & (F.col(f"a.{key}") == F.col(f"b.{key}"))
    return a.join(b, on)


def _token_set(col):
    return F.array_distinct(F.split(normalized_text(col), " "))


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    pairs: Optional[DataFrame] = None,
) -> DataFrame:
    """Token-set Jaccard similarity pairs >= threshold:
    (id_a, id_b, jaccard).

    With ``pairs`` (e.g. LSH candidates) the join is pair-driven — the
    scale path. Without it, an exhaustive self-join (small inputs /
    oracle checks only; quadratic by construction).
    """
    df = ensure_fanout_parallelism(df)  # single-file inputs -> parallel join sides
    toks = df.select(F.col(id_col), _token_set(F.col(text_col)).alias("toks"))
    if pairs is not None:
        a = toks.select(F.col(id_col).alias("id_a"), F.col("toks").alias("toks_a"))
        b = toks.select(F.col(id_col).alias("id_b"), F.col("toks").alias("toks_b"))
        joined = pairs.join(a, "id_a").join(b, "id_b")
        inter = F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b")))
        union = F.size(F.array_union(F.col("toks_a"), F.col("toks_b")))
        jac = inter.cast("double") / union.cast("double")
        return joined.select("id_a", "id_b", jac.alias("jaccard")).filter(
            F.col("jaccard") >= threshold
        )
    return _jaccard_all_pairs_kernel(toks, id_col=id_col, threshold=threshold)


def _jaccard_all_pairs_kernel(
    toks: DataFrame, *, id_col: str, threshold: float
) -> DataFrame:
    """Exhaustive-twin execution of :func:`ngram_jaccard_pairs` (round 6):
    the old crossJoin evaluated ``array_intersect``/``array_union`` on
    every one of the O(n²) pairs row-at-a-time in the JVM — 12 s at
    sf0.1 for 5000 docs. Token SETS still come from the identical JVM
    expression (``_token_set``: lower/trim/``\\s+``-split/distinct —
    tokenization semantics untouched); only the pairwise counting moves
    into an Arrow kernel: sets become corpus-vocabulary bitsets, the
    intersection count is a popcount over the bitwise AND, and
    ``|A∪B| = |A|+|B|-|A∩B|``. Everything is exact integer arithmetic
    followed by the same single IEEE int/int division the Column
    expression performs, so the doubles are bit-identical. Pairs where
    either token array is NULL never survive the JVM expression (null
    poisons ``array_intersect``) and are skipped here.

    The broadcast side (id, token-set bitsets) is the exhaustive twin's
    documented bounded materialization; the scale path is ``pairs=``."""
    import numpy as np
    import pandas as pd

    id_dtype = toks.schema[id_col].dataType.simpleString()
    spark = toks.sparkSession
    rows = [(r[0], r[1]) for r in toks.collect() if r[1] is not None]
    vocab: dict[str, int] = {}
    for _, ts in rows:
        for t in ts:
            if t not in vocab:
                vocab[t] = len(vocab)
    width = max(1, -(-len(vocab) // 64))  # uint64 words per doc
    ids_b = np.array([i for i, _ in rows])
    bits_b = np.zeros((len(rows), width * 8), dtype=np.uint8)
    sizes_b = np.zeros(len(rows), dtype=np.int64)

    for k, (_, ts) in enumerate(rows):
        row = bits_b[k]
        for t in ts:
            j = vocab[t]
            row[j >> 3] |= 1 << (j & 7)
        sizes_b[k] = len(ts)  # _token_set output is already distinct
    bc = spark.sparkContext.broadcast((vocab, ids_b, bits_b, sizes_b))
    popcnt = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint16)
    thr = float(threshold)

    def kernel(iterator):
        vocab_b, idsb, bitsb, sizesb = bc.value
        for pdf in iterator:
            out_a, out_b, out_j = [], [], []
            tok_arrs = pdf["toks"]
            ids_in = pdf[id_col].to_numpy()
            keep_pos = [
                p for p in range(len(pdf)) if tok_arrs.iloc[p] is not None
            ]
            if keep_pos and len(idsb):
                bits_a = np.zeros((len(keep_pos), bitsb.shape[1]), dtype=np.uint8)
                sizes_a = np.zeros(len(keep_pos), dtype=np.int64)
                for k, p in enumerate(keep_pos):
                    ts = tok_arrs.iloc[p]
                    row = bits_a[k]
                    for t in ts:
                        j = vocab_b[t]
                        row[j >> 3] |= 1 << (j & 7)
                    sizes_a[k] = len(ts)
                ids_a = ids_in[keep_pos]
                step = max(1, 60_000_000 // max(bitsb.size, 1))
                for s in range(0, len(ids_a), step):
                    e = s + step
                    inter = (
                        popcnt[bits_a[s:e, None, :] & bitsb[None, :, :]]
                        .sum(axis=2, dtype=np.int64)
                    )
                    union = sizes_a[s:e, None] + sizesb[None, :] - inter
                    # union >= 1 always (_token_set arrays are never
                    # empty), so no ANSI divide-by-zero parity needed;
                    # NaN cannot arise from int/int division either
                    jac = inter.astype(np.float64) / union.astype(np.float64)
                    keep = (ids_a[s:e, None] < idsb[None, :]) & (jac >= thr)
                    ai, bi = np.nonzero(keep)
                    if len(ai):
                        out_a.extend(ids_a[s + ai].tolist())
                        out_b.extend(idsb[bi].tolist())
                        out_j.extend(jac[ai, bi].tolist())
            yield pd.DataFrame(
                {"id_a": out_a, "id_b": out_b, "jaccard": out_j}
            )

    schema = f"id_a {id_dtype}, id_b {id_dtype}, jaccard double"
    return toks.mapInPandas(kernel, schema)


def simhash(df: DataFrame, *, id_col: str, text_col: str, bits: int = 48) -> DataFrame:
    """(id, simhash) — per-token hash bits sampled from md5 hex nibbles
    (bit j = high bit of hex digit j, i.e. digit in 8..f), bitwise
    weighted vote, sign -> bit. ``bits``<=32 hex chars; the signature
    fits a BIGINT for bits<=62.

    The nibble-sampling construction is engine-portable (any SQL engine
    with md5+substr reproduces it bit-for-bit), equivalent in quality to
    sampling bits of the binary digest. Near-duplicates differ in few
    bits; bucket by signature prefix to find them. Pure expressions:
    explode tokens -> one groupBy(id) with ``bits`` conditional sums.
    """
    df = ensure_fanout_parallelism(df)  # same single-input-split hazard as shingles()
    # Round 6: the per-token vote used to be `substring(th, j+1, 1) isin
    # '8'..'f'` evaluated ``bits`` times per exploded token row. The
    # vote for nibble j is just its high BIT, so the 32 md5 nibbles are
    # parsed once into four 32-bit integer chunks (conv is exact below
    # 2^63) and each vote becomes a shift+mask on a bigint. The ±1 sum
    # b_j relates to the set-bit count s_j by b_j = 2*s_j - n, so the
    # sign test b_j > 0 is the exact integer test 2*s_j > n. Nibbles
    # past the 32-char digest (bits 32..47 with the 48-bit default)
    # keep the pinned empty-substring semantics: vote -1 always, so the
    # signature bit is constantly 0 — no aggregate needed.
    toks = df.select(
        F.col(id_col), F.explode(_token_set(F.col(text_col))).alias("tok")
    ).select(F.col(id_col), F.md5(F.col("tok")).alias("th"))
    n_hex = min(bits, 32)
    n_chunks = -(-n_hex // 8)
    chunked = toks.select(
        F.col(id_col),
        *[
            F.conv(F.substring(F.col("th"), 8 * k + 1, 8), 16, 10)
            .cast("bigint")
            .alias(f"c_{k}")
            for k in range(n_chunks)
        ],
    )
    aggs = [F.count(F.lit(1)).alias("__n")]
    for j in range(n_hex):
        chunk = F.col(f"c_{j // 8}")
        shift = (7 - (j % 8)) * 4 + 3  # high bit of nibble j (MSB-first)
        aggs.append(
            F.sum(F.shiftright(chunk, shift).bitwiseAND(F.lit(1))).alias(f"s_{j}")
        )
    wide = chunked.groupBy(id_col).agg(*aggs)
    sig = None
    for j in range(n_hex):
        bit = F.when(
            F.col(f"s_{j}") * 2 > F.col("__n"), F.lit(1).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
        term = bit * F.lit(2**j).cast("bigint")
        sig = term if sig is None else sig + term
    return wide.select(F.col(id_col), sig.alias("simhash"))


def simhash_hamming_pairs(
    signatures: DataFrame,
    *,
    id_col: str,
    sig_col: str = "simhash",
    bits: int = 48,
    bands: int = 4,
    max_distance: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance:
    (id_a, id_b, hamming) with ``hamming <= max_distance``, id_a < id_b.

    Bit-sliced LSH, never all-pairs: each signature is cut into
    ``bands`` contiguous bit slices; candidates are pairs agreeing
    EXACTLY on at least one slice (equi-join on (band, slice_value)),
    and only candidates pay the ``bit_count(xor)`` verification. With
    ``bands > max_distance`` the result is provably EXHAUSTIVE, not
    approximate: <= max_distance differing bits spread over > max_distance
    slices leave at least one slice untouched (pigeonhole), so every
    qualifying pair is a candidate. The default (4 bands, distance 3)
    keeps that guarantee.

    Scale: one explode (fan-out = ``bands``), one equi-join on
    high-cardinality (band, value) buckets — the hot-bucket case is a
    genuine near-dup cluster, which AQE skew-split handles. Verification
    is a codegen'd xor+bit_count per candidate. Same shape as
    ``lsh_candidate_pairs``; signatures come from :func:`simhash`.
    """
    if bits % bands:
        raise ValueError("bands must divide bits")
    if bands <= max_distance:
        raise ValueError(
            "bands must exceed max_distance for exhaustive recall "
            "(pigeonhole guarantee)"
        )
    width = bits // bands
    mask = (1 << width) - 1
    slices = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright(F.col(sig_col), i * width)
                .bitwiseAND(F.lit(mask))
                .alias("slice_val"),
            )
            for i in range(bands)
        ]
    )
    banded = signatures.select(
        F.col(id_col), F.col(sig_col), F.explode(slices).alias("s")
    ).select(id_col, sig_col, "s.band", "s.slice_val")
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))

    def _slice(col, i):
        return F.shiftright(col, i * width).bitwiseAND(F.lit(mask))

    # canonical-band emission instead of a post-join distinct: a pair
    # agreeing on several slices used to be emitted once per agreeing
    # band and deduplicated with a full shuffle+aggregate over the
    # candidate volume (14M rows at sf0.1). Emitting only at the FIRST
    # agreeing band — i.e. when every lower band's slices differ, a few
    # codegen'd bit comparisons on columns already present — produces
    # each qualifying pair exactly once, same result set, zero extra
    # Exchange.
    first_band = F.lit(True)
    for j in range(bands - 1):
        lower_differs = F.when(
            F.col("band") > j,
            _slice(F.col("sig_a"), j) != _slice(F.col("sig_b"), j),
        ).otherwise(F.lit(True))
        first_band = first_band & lower_differs
    return (
        self_join_pairs(banded, id_col, ["band", "slice_val"])
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.band").alias("band"),
            F.col(f"a.{sig_col}").alias("sig_a"),
            F.col(f"b.{sig_col}").alias("sig_b"),
        )
        .filter(first_band)
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_distance)
    )


def embedding_near_duplicates(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    pairs: Optional[DataFrame] = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs >= threshold.

    Semantics (unchanged since round 2, oracle-pinned): cosine =
    fold-dot(a,b) / (fold-norm(a) * fold-norm(b)) where every fold is a
    sequential IEEE-double left fold over the array, and the division
    is ``try_divide``. Pairs whose cosine is NULL (null arrays, null
    elements, length mismatch, or a zero-norm vector) never appear; a
    zero-norm vector is a valid input, not a job failure.

    Execution (round 6): the exhaustive path used to be a crossJoin with
    per-pair interpreted ``zip_with``/``aggregate`` lambdas (higher-order
    functions do not participate in whole-stage codegen) — measured 57 s
    at sf0.1 for 4000 vectors. It is now an Arrow ``mapInPandas`` kernel:
    one side streams through tasks, the other side is a spark broadcast
    of the (small, by the exhaustive-twin contract) vector matrix, and
    the O(m*n*d) arithmetic runs as d vectorized numpy accumulations —
    the SAME left-fold rounding order as the JVM expression, so results
    are bit-identical (verified against the DuckDB oracle). At scale the
    production path is unchanged: pass LSH/IVF candidate ``pairs`` and
    the join stays linear; that path now hoists the per-vector norms out
    of the per-pair expression (computed once per row instead of once
    per candidate pair).
    """
    from .similarity import dot_expr, norm_expr

    if pairs is not None:
        # a NULL norm (NULL array or element) becomes 0.0, where the
        # try_divide gives NULL all the same; the non-nullable column
        # lets the filter inferred from the cosine fold away instead of
        # evaluating the norm a second time below the projection
        norm = F.coalesce(norm_expr(F.col(vec_col)), F.lit(0.0))
        a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), norm.alias("__na"))
        b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), norm.alias("__nb"))
        joined = pairs.join(a, "id_a").join(b, "id_b")
        cos = F.try_divide(dot_expr(F.col("va"), F.col("vb")), F.col("__na") * F.col("__nb"))
        return joined.select("id_a", "id_b", cos.alias("cosine")).filter(
            F.col("cosine") >= threshold
        )
    return _embedding_all_pairs_kernel(
        df, id_col=id_col, vec_col=vec_col, threshold=threshold
    )


def _fold_gram(A, B):
    """Pairwise left-fold dot products of float64 matrices A (m,d) and
    B (n,d): acc_{ij} = ((0 + a_i0*b_j0) + a_i1*b_j1) + ... — each
    addition rounded before the next, exactly like Spark's
    ``aggregate(zip_with(a, b, (x,y) -> x*y), 0.0, (acc,v) -> acc+v)``.
    NOT a BLAS gemm (whose blocked/pairwise accumulation rounds
    differently); d vectorized outer-product accumulations keep the
    fold order while vectorizing over the m*n pairs."""
    import numpy as np

    m, n = A.shape[0], B.shape[0]
    acc = np.zeros((m, n), dtype=np.float64)
    tmp = np.empty((m, n), dtype=np.float64)
    for i in range(A.shape[1]):
        np.multiply(A[:, i : i + 1], B[:, i], out=tmp)
        acc += tmp
    return acc


def _fold_norms(A):
    """Left-fold L2 norms per row of float64 A (m,d): sqrt(((0 + v0*v0)
    + v1*v1) + ...) — the rounding order of Spark's ``norm_expr``."""
    import numpy as np

    acc = np.zeros(A.shape[0], dtype=np.float64)
    for i in range(A.shape[1]):
        acc += A[:, i] * A[:, i]
    return np.sqrt(acc)


def _embedding_all_pairs_kernel(
    df: DataFrame, *, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """Exhaustive-twin execution of :func:`embedding_near_duplicates`:
    broadcast one side as a numpy matrix, stream the other through an
    Arrow kernel, emit (id_a, id_b, cosine) for id_a < id_b and
    cosine >= threshold.

    Exactness: vectors are grouped by array length; a pair can only
    produce a non-null cosine when both arrays have the SAME length and
    no null elements (``zip_with`` pads the shorter side with nulls and
    any null poisons the fold), so cross-length / null-bearing vectors
    are provably absent from the JVM result and are skipped here too.
    All arithmetic is the fold-order numpy of :func:`_fold_gram` /
    :func:`_fold_norms` — bit-identical to the Column expression.

    The one bounded driver materialization (the broadcast side) is the
    exhaustive twin's contract: the operator is documented
    small-input/oracle-only; the scale path is ``pairs=``."""
    import numpy as np
    import pandas as pd

    id_dtype = df.schema[id_col].dataType.simpleString()
    spark = df.sparkSession
    rows = df.select(F.col(id_col), F.col(vec_col)).collect()
    by_len: dict[int, tuple] = {}
    tmp: dict[int, list] = {}
    for r in rows:
        vec = r[1]
        if vec is None or any(v is None for v in vec):
            continue  # null array / null element -> null cosine, never emitted
        tmp.setdefault(len(vec), []).append((r[0], vec))
    for ln, items in tmp.items():
        ids = np.array([i for i, _ in items])
        mat = np.array([v for _, v in items], dtype=np.float64)
        by_len[ln] = (ids, mat, _fold_norms(mat))
    bc = spark.sparkContext.broadcast(by_len)
    thr = float(threshold)

    def kernel(iterator):
        groups = bc.value
        for pdf in iterator:
            out_a, out_b, out_c = [], [], []
            vecs = pdf[vec_col]
            ids_in = pdf[id_col]
            # bucket this batch's rows by vector length, then one
            # matrix fold per (batch-bucket x broadcast-bucket) pair
            buckets: dict[int, list] = {}
            for pos in range(len(pdf)):
                vec = vecs.iloc[pos]
                if vec is None or any(v is None for v in vec):
                    continue
                buckets.setdefault(len(vec), []).append(pos)
            for ln, positions in buckets.items():
                if ln not in groups:
                    continue
                ids_b, mat_b, norms_b = groups[ln]
                ids_a = ids_in.iloc[positions].to_numpy()
                mat_a = np.array(
                    [vecs.iloc[p] for p in positions], dtype=np.float64
                )
                norms_a = _fold_norms(mat_a)
                step = max(1, 8_000_000 // max(len(ids_b), 1))
                for s in range(0, len(ids_a), step):
                    e = s + step
                    idmask = ids_a[s:e, None] < ids_b[None, :]
                    denom = norms_a[s:e, None] * norms_b[None, :]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = _fold_gram(mat_a[s:e], mat_b) / denom
                        # NaN parity: Spark comparisons order NaN above
                        # every value, so a NaN cosine PASSES >= thr; a
                        # zero denominator is try_divide's NULL: no pair
                        keep = idmask & (denom != 0.0) & ((cos >= thr) | np.isnan(cos))
                    ai, bi = np.nonzero(keep)
                    if len(ai):
                        out_a.extend(ids_a[s + ai].tolist())
                        out_b.extend(ids_b[bi].tolist())
                        out_c.extend(cos[ai, bi].tolist())
            yield pd.DataFrame(
                {"id_a": out_a, "id_b": out_b, "cosine": out_c}
            )

    schema = f"id_a {id_dtype}, id_b {id_dtype}, cosine double"
    return df.select(id_col, vec_col).mapInPandas(kernel, schema)


def duplicate_clusters(
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over duplicate/candidate pairs: (id,
    cluster_id) where cluster_id is the minimum member id — the step a
    real dedup pipeline needs between "pairs found" and "keep one doc
    per group".

    Algorithm: hash-min label propagation — every node repeatedly takes
    the min label among itself and its neighbors; converges in
    O(component diameter) rounds (near-dup clusters are dense, diameter
    is typically 2-3). Scale properties: the iteration runs over the
    PAIR PARTICIPANTS only (a small fraction of the corpus); each round
    is one join + one combinable groupBy(min); ``localCheckpoint`` cuts
    the lineage so plans don't grow with rounds. For graphs with huge
    diameters (paths), large-star/small-star would halve the rounds —
    not needed for dedup blocking output.

    Only ids appearing in ``pairs`` are returned (singletons are their
    own trivial cluster by definition).

    Convergence is established only by a quiet round (no label changed),
    so the loop needs headroom: propagation that is still changing
    labels on round ``max_iter`` raises rather than returning possibly
    split components — raise ``max_iter`` for chain-shaped graphs.
    """
    if max_iter < 1:
        raise ValueError("max_iter must be >= 1")
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # no distinct: hash-min's MIN aggregation is idempotent to duplicate
    # edges, so deduplicating them bought nothing but a full extra
    # shuffle+aggregate of the edge list every run (round 6)
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
    )
    def _step(cur: DataFrame) -> DataFrame:
        nbr_min = (
            edges.join(cur, edges["src"] == cur["id"])
            .groupBy(edges["dst"].alias("id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        # the old label is already on the join — carry a per-row change
        # flag instead of re-joining old vs new labels afterwards
        return (
            cur.alias("l")
            .join(nbr_min.alias("n"), "id", "left")
            .select(
                F.col("id"),
                F.least(
                    F.col("l.cluster_id"),
                    F.coalesce(F.col("n.nbr_min"), F.col("l.cluster_id")),
                ).alias("cluster_id"),
                (
                    F.coalesce(F.col("n.nbr_min"), F.col("l.cluster_id"))
                    < F.col("l.cluster_id")
                ).alias("__changed"),
            )
        )

    converged = False
    for _ in range(max_iter):
        # TWO hash-min propagations per materialization (round 6): the
        # per-round cost on converging graphs is job latency, not data
        # volume, so composing two label-update joins into one
        # localCheckpoint + one convergence probe halves the job count.
        # Labels decrease monotonically to the component min, so a quiet
        # SECOND step (__changed all false) is a fixed point regardless
        # of what the first step did — the same convergence test as
        # before, with doubled headroom per max_iter unit.
        new_labels = _step(_step(labels).drop("__changed")).localCheckpoint(
            eager=True
        )
        changed = new_labels.filter(F.col("__changed")).limit(1).count()
        labels = new_labels.drop("__changed")
        if changed == 0:
            converged = True
            break
    if not converged:
        # truncated propagation is NOT converged output: a chain-shaped
        # component with diameter > max_iter would be silently split
        # into multiple cluster_ids (and keep_canonical would keep
        # several "canonical" docs from one group). Raise so callers can
        # rerun with a higher max_iter — never return wrong labels.
        raise RuntimeError(
            f"duplicate_clusters did not converge within max_iter={max_iter} "
            "rounds; the labels would split components with larger diameter. "
            "Re-run with a higher max_iter."
        )
    return labels


def keep_canonical(
    df: DataFrame,
    clusters: DataFrame,
    *,
    id_col: str,
) -> DataFrame:
    """Deduplicated view of ``df``: drop every cluster member except the
    canonical one (the min-id doc). Singletons (absent from
    ``clusters``) are kept. One anti-join against the (small)
    non-canonical member list."""
    non_canonical = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(non_canonical, on=id_col, how="left_anti")


def keep_best_canonical(
    clusters: DataFrame,
    scores: DataFrame,
    *,
    id_col: str = "doc_id",
    score_col: str = "quality",
) -> DataFrame:
    """Quality-aware canonical selection: instead of ``keep_canonical``'s
    min-id policy, keep the HIGHEST-``score_col`` member of each
    duplicate cluster (ties broken by ascending id — total order, so
    the choice is deterministic and cross-engine reproducible).
    This is the standard "keep best page of the template" policy in
    web-corpus dedup, where min-id would keep an arbitrary member.

    Inputs: ``clusters`` = (id, cluster_id) from ``duplicate_clusters``;
    ``scores`` = (id_col, score_col), e.g. ``text.quality_score``.
    Output: (cluster_id, canonical_id, canonical_score, n_members).

    Distribution: one equi-join on the id (cluster table is
    duplicate-pairs-sized, far smaller than the corpus) then ONE
    shuffle on cluster_id into a single sort: ``row_number`` and the
    member count share the partition spec, so Catalyst plans one
    Exchange. Duplicate clusters are small by construction (a
    pathological giant cluster means the corpus is one template — a
    data bug this operator's n_members output is how you notice).
    """
    from pyspark.sql import Window

    j = clusters.withColumnRenamed("id", id_col).join(scores, id_col)
    part = Window.partitionBy("cluster_id")
    ordered = part.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
    return (
        j.withColumn("__rn", F.row_number().over(ordered))
        .withColumn("n_members", F.count(F.lit(1)).over(part))
        .filter(F.col("__rn") == 1)
        .select(
            "cluster_id",
            F.col(id_col).alias("canonical_id"),
            F.col(score_col).alias("canonical_score"),
            F.col("n_members").cast("bigint").alias("n_members"),
        )
    )


def pair_label_consistency(
    pairs: DataFrame,
    items: DataFrame,
    *,
    id_col: str,
    label_col: str,
) -> DataFrame:
    """Annotate near-duplicate pairs with whether an associated label
    (caption, license, class) AGREES across the pair: input pairs
    (id_a, id_b, hamming) + an items table -> (id_a, id_b, hamming,
    label_match). For image+caption corpora this separates the two dup
    populations that need opposite treatment: label_match=true pairs
    are safe to collapse; label_match=false pairs are the same content
    with DIVERGENT captions — a curation signal (pick/merge the
    canonical caption), not a silent delete.

    Scale: two equi-joins of the pair list against the (id, label)
    projection. The pair list is the near-dup output — orders of
    magnitude smaller than the corpus — so AQE broadcasts it and the
    big side never shuffles; null labels compare with eqNullSafe (two
    missing captions still "agree").

    Input contract: ``items`` must contain EVERY id referenced by
    ``pairs``, exactly once. The joins are inner, so a pair whose id is
    missing from ``items`` is silently dropped (under-count) and a
    duplicated id fans its pairs out (over-count) — dedupe ``items`` on
    ``id_col`` upstream if its uniqueness is not already guaranteed."""
    lab = items.select(F.col(id_col), F.col(label_col))
    a = lab.select(
        F.col(id_col).alias("id_a"), F.col(label_col).alias("__label_a")
    )
    b = lab.select(
        F.col(id_col).alias("id_b"), F.col(label_col).alias("__label_b")
    )
    out = pairs.join(a, "id_a").join(b, "id_b")
    match = F.col("__label_a").eqNullSafe(F.col("__label_b"))
    return out.select(
        "id_a", "id_b", "hamming", match.alias("label_match")
    )
