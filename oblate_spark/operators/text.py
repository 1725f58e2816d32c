"""Text-analysis operators for training-data pipelines.

Language ID (stopword-ratio heuristic), quality scoring
(length/punctuation/stopword ratios), token counting (whitespace + a
BPE-ish subword regex), and document fingerprinting (bottom-k shingle
sketch). All pure Column expressions — the formulas are deliberately
engine-agnostic arithmetic so a SQL oracle reproduces them exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .binding import let
from .dedup import shingle_array
from .partitioning import ensure_fanout_parallelism

__all__ = [
    "STOPWORDS",
    "tokens_expr",
    "token_count",
    "subword_count",
    "language_id",
    "quality_score",
    "fingerprint",
    "PII_PATTERNS",
    "pii_scrub",
    "repetition_signals",
    "tfidf_top_terms",
    "ngrams_expr",
    "ngram_contamination",
    "dup_shingle_fraction",
    "token_rarity",
    "chunk_documents",
    "boilerplate_lines",
    "strip_boilerplate",
]

#: tiny per-language function-word lists — enough signal for the n-gram
#: heuristic; deliberately short so the oracle SQL stays writable.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "dans", "que", "pour"],
    "es": ["el", "la", "de", "que", "los", "una", "por", "con", "para", "es"],
}


def tokens_expr(col: Column) -> Column:
    """Whitespace tokens of the lower-cased text (empty-token safe)."""
    return F.filter(
        F.split(F.lower(F.trim(col)), r"\s+"), lambda t: F.length(t) > 0
    )


def token_count(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """(id, n_tokens, n_chars): whitespace token count + char count."""
    return df.select(
        F.col(id_col),
        F.size(tokens_expr(F.col(text_col))).alias("n_tokens"),
        F.length(F.col(text_col)).alias("n_chars"),
    )


#: BPE-ish piece pattern: word pieces (optional leading capital +
#: lowercase run, or capital run), single digits, single punctuation.
#: Deliberately RE2-safe (no lookarounds) so DuckDB's regexp_extract_all
#: computes the identical tokenization — the oracle twin is exact.
SUBWORD_PATTERN = r"[A-Z]?[a-z]+|[A-Z]+|[0-9]|[^A-Za-z0-9\s]"


def subword_count(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """BPE-ish token estimate: extract word pieces / digits / punctuation
    the way byte-pair tokenizers tend to segment. This is the
    deterministic regex approximation used for budget estimates when no
    real tokenizer is available; every non-space character belongs to
    exactly one piece, so n_subwords >= whitespace token count."""
    pieces = F.regexp_extract_all(F.col(text_col), F.lit(SUBWORD_PATTERN), 0)
    return df.select(F.col(id_col), F.size(pieces).alias("n_subwords"))


def _ratio_for(tokens: Column, words: list[str]) -> Column:
    hits = F.size(F.filter(tokens, lambda t: t.isin(*words)))
    return hits.cast("double") / F.greatest(F.size(tokens), F.lit(1)).cast("double")


def language_id(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """(id, lang_pred, lang_score): argmax of per-language stopword
    ratios; 'und' (undetermined) when no stopword hits at all."""
    tokens = tokens_expr(F.col(text_col))
    ratio_cols = {lang: _ratio_for(tokens, words) for lang, words in STOPWORDS.items()}
    best_score = F.greatest(*ratio_cols.values())
    pred = F.lit("und")
    # deterministic tie-break: alphabetical language order, first max wins
    for lang in sorted(STOPWORDS, reverse=True):
        pred = F.when(ratio_cols[lang] == best_score, F.lit(lang)).otherwise(pred)
    pred = F.when(best_score <= 0, F.lit("und")).otherwise(pred)
    return df.select(
        F.col(id_col), pred.alias("lang_pred"), best_score.alias("lang_score")
    )


def quality_score(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """(id, len_score, punct_ratio, stop_ratio, quality): a composite
    heuristic quality score in [0,1] — the distributed form of
    "does this document look like prose worth training on".

    * len_score   — 1 capped ramp up to 500 chars
    * punct_ratio — non-alnum-non-space chars / chars (high = noisy)
    * stop_ratio  — any-language stopword hits / tokens (low = non-prose)
    * quality     — 0.4*len + 0.3*(1 - min(punct*5, 1)) + 0.3*min(stop*4, 1)
    """
    txt = F.col(text_col)
    n_chars = F.greatest(F.length(txt), F.lit(1))
    len_score = F.least(F.length(txt).cast("double") / F.lit(500.0), F.lit(1.0))
    # Unicode letter/number classes, NOT [A-Za-z0-9]: accented letters
    # (ü, é, ...) are prose, and counting them as "punctuation" would
    # systematically score the non-English languages language_id
    # supports as low quality
    punct = F.length(F.regexp_replace(txt, r"[\p{L}\p{N}\s]", ""))
    punct_ratio = punct.cast("double") / n_chars.cast("double")
    tokens = tokens_expr(txt)
    all_stops = sorted({w for ws in STOPWORDS.values() for w in ws})
    stop_ratio = _ratio_for(tokens, all_stops)
    quality = (
        F.lit(0.4) * len_score
        + F.lit(0.3) * (F.lit(1.0) - F.least(punct_ratio * 5, F.lit(1.0)))
        + F.lit(0.3) * F.least(stop_ratio * 4, F.lit(1.0))
    )
    return df.select(
        F.col(id_col),
        F.round(len_score, 6).alias("len_score"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(quality, 6).alias("quality"),
    )


def fingerprint(
    df: DataFrame, *, id_col: str, text_col: str, k: int = 8, shingle_len: int = 5
) -> DataFrame:
    """(id, fingerprint): bottom-k sketch — md5 of the k smallest shingle
    digests. Documents sharing most content share most of their bottom-k
    set, so equal fingerprints ~ near-identical documents (winnowing-style
    selection without the rolling window).

    One projection per document: the doc's distinct shingles are hashed,
    sorted and cut to k inside its own row (no explode, no regroup). The
    working set is that one shingle array, which ``shingles()`` builds
    before its explode anyway. ``sort_array`` sorts natively;
    ``array_sort``'s default comparator is an interpreted lambda. A
    narrow scan is repartitioned first, as in ``shingles()``."""
    df = ensure_fanout_parallelism(df)
    hashes = F.sort_array(F.transform(shingle_array(F.col(text_col), shingle_len), F.md5))
    bottom = F.slice(hashes, 1, k)
    return df.select(F.col(id_col), F.md5(F.array_join(bottom, ",")).alias("fingerprint"))


#: PII patterns, deliberately RE2-safe (no lookarounds, no backrefs) so
#: a DuckDB oracle applies the IDENTICAL regexes: emails, IPv4s,
#: international-ish phone numbers. Order matters and is fixed —
#: emails first (their local parts contain digits a later pass must not
#: see), then IPs (dotted digits a phone pass could chew on), then
#: phones.
PII_PATTERNS: list = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b(\d{1,3}\.){3}\d{1,3}\b"),
    ("phone", r"\+?\d[\d ()-]{7,}\d"),
]


def pii_scrub(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """Redact PII from a text column: emails, IPv4 addresses, phone-like
    numbers → ``[EMAIL]``/``[IPV4]``/``[PHONE]`` placeholders, with
    per-document match counts.

    Output: (id, clean_text, n_email, n_ipv4, n_phone). Pure Column
    expressions (regexp_count + chained regexp_replace) — one scan, no
    shuffle, whole-stage codegen; the patterns are RE2-safe so a SQL
    oracle reproduces the redaction byte-for-byte. At 100 TB this is a
    map-only pass that pushes straight down onto the parquet scan.

    Each pattern's count is taken on the text AFTER the earlier
    patterns' redactions — i.e. counts equal the number of
    replacements actually performed. Counting every pattern on the raw
    text would report phantom redactions (an email's digit-heavy local
    part also matches the phone pattern, but it is gone by the time
    the phone pass runs)."""
    counts = []
    stage = F.col(text_col)
    for name, pat in PII_PATTERNS:  # fixed order, see PII_PATTERNS
        counts.append(F.regexp_count(stage, F.lit(pat)).alias(f"n_{name}"))
        stage = F.regexp_replace(stage, pat, f"[{name.upper()}]")
    return df.select(F.col(id_col), stage.alias("clean_text"), *counts)


def repetition_signals(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition/boilerplate signals per document:
    (id, n_tokens, distinct_token_ratio, top_token_fraction,
    top_bigram_fraction). High top-fractions / low distinct ratio flag
    the auto-generated and template pages a training corpus should
    drop — the repetition filters of the Gopher/MassiveText and
    RefinedWeb cleaning recipes.

    All ratios are quotients of exact integer counts (single IEEE
    division — bit-identical in any engine, no rounding needed), so a
    SQL oracle reproduces them exactly. Documents with zero tokens (or
    < 2 tokens for the bigram fraction) report 0.0.

    Plan shape: two explode fan-outs (unigrams, bigrams), each through
    groupBy(doc, gram) -> groupBy(doc), joined back per-doc. Everything
    is keyed by doc after the first shuffle, and the per-gram
    aggregation is algebraic (map-side combined), so a skewed
    boilerplate gram never concentrates on one task. At 100 TB this is
    the same shape as the TF stage of tfidf_top_terms."""
    base = df.select(
        F.col(id_col).alias("doc"), tokens_expr(F.col(text_col)).alias("toks")
    )
    # guard: Spark's sequence(1, 0) yields [1, 0] (descending step), so
    # short docs must short-circuit to an empty bigram array
    bigrams = F.when(
        F.size("toks") >= 2,
        F.expr(
            "zip_with(slice(toks, 1, size(toks) - 1),"
            "         slice(toks, 2, size(toks) - 1),"
            "         (a, b) -> concat(a, ' ', b))"
        ),
    ).otherwise(F.expr("cast(array() as array<string>)"))

    def gram_stats(col, total, distinct, top):
        return (
            base.select("doc", F.explode(col).alias("g"))
            .groupBy("doc", "g")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("doc")
            .agg(
                F.sum("c").alias(total),
                F.count(F.lit(1)).alias(distinct),
                F.max("c").alias(top),
            )
        )

    uni = gram_stats(F.col("toks"), "n_tokens", "n_distinct", "top_c")
    bi = gram_stats(bigrams, "n_bi", "n_bi_distinct", "top_bi")
    return (
        df.select(F.col(id_col).alias("doc"))
        .join(uni, "doc", "left")
        .join(bi.select("doc", "n_bi", "top_bi"), "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.when(
                F.col("n_tokens") > 0,
                F.col("n_distinct").cast("double") / F.col("n_tokens").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("distinct_token_ratio"),
            F.when(
                F.col("n_tokens") > 0,
                F.col("top_c").cast("double") / F.col("n_tokens").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("top_token_fraction"),
            F.when(
                F.col("n_bi") > 0,
                F.col("top_bi").cast("double") / F.col("n_bi").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("top_bigram_fraction"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    k: int = 3,
    idf: str = "log",
) -> DataFrame:
    """Top-k TF-IDF terms per document: (id, term, score, rank) with
    ties broken by term ascending so the ranking is deterministic.

    ``idf`` selects the weighting:

    * ``"log"`` (default, classic): score = round(tf * ln(N/df), 6).
      ``ln`` is libm-dependent — Java's ``Math.log`` and another
      engine's ``log`` may differ by 1 ulp, so a score sitting exactly
      on a rounding boundary can flip between engines. Fine for use;
      risky as a bit-exact cross-engine oracle.
    * ``"rational"``: score = tf * N / df rounded half-up to 6 decimals
      **in exact integer arithmetic** — floor((tf*N*2e6 + df)/(2*df)),
      then one IEEE-exact division by 1e6. ``+,-,*,/`` are correctly
      rounded per IEEE 754 in every engine (unlike ``ln``), so both the
      score doubles and the (score desc, term asc) ranking reproduce
      bit-for-bit anywhere. Log-free idf weights rare terms more
      steeply but preserves the "rarer ⇒ higher idf" ordering; the
      integer numerator tf*N*2e6 needs BIGINT headroom (tf·N < 4.6e12 —
      cast up to DECIMAL beyond that corpus size).

    Plan shape: tokenize+explode (map-side), one groupBy(doc, term) for
    tf, one groupBy(term) for document frequency — joined back onto tf —
    and a per-doc top-k window. N (the corpus document count, NULL id
    included) is a 1-row aggregate cross-joined in, so building the
    frame starts no job. The df table is vocabulary-sized; AQE
    broadcasts it from its measured shuffle size when it is small, and
    a web-scale vocabulary stays a shuffle join."""
    if idf not in ("log", "rational"):
        raise ValueError(f"idf must be 'log' or 'rational', got {idf!r}")
    n_docs = df.select(id_col).distinct().agg(F.count(F.lit(1)).alias("__n"))
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(tokens_expr(F.col(text_col))).alias("term"),
    )
    tf = toks.groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # every tf term has its df row, so the left join is the inner join;
    # it only leaves AQE one build side to pick, the vocabulary (as an
    # inner join it would broadcast tf whenever tf's stage finishes first)
    joined = tf.join(dfreq, "term", "left").crossJoin(F.broadcast(n_docs))
    if idf == "log":
        score = F.round(
            F.col("tf") * F.log(F.col("__n").cast("double") / F.col("df")), 6
        )
    else:
        # exact integer half-up rounding of tf*N*1e6/df, then /1e6 —
        # every step correctly rounded, bit-identical across engines
        num = F.col("tf") * F.col("__n") * F.lit(2_000_000) + F.col("df")
        score = (
            F.floor(num / (F.col("df") * 2)).cast("double") / F.lit(1e6)
        )
    scored = joined.select("doc", "term", score.alias("score"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("doc").alias(id_col), "term", "score", "rank")
    )


def ngrams_expr(toks: Column, n: int) -> Column:
    """Array of space-joined token n-grams (empty when fewer than n
    tokens). Pure Column expression; an engine with list slicing
    reproduces it exactly. The token array is bound once per row with
    :func:`~.binding.let`: an n-gram lambda that captured a
    ``tokens_expr`` argument directly would re-split the text once per
    n-gram."""
    return let(
        toks,
        lambda t: F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - n + 1),
                lambda i: F.concat_ws(" ", F.slice(t, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def ngram_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str,
    text_col: str,
    bench_text_col: str | None = None,
    n: int = 13,
) -> DataFrame:
    """Benchmark decontamination: per document, how many of its distinct
    token ``n``-grams also appear anywhere in ``benchmark`` —
    (id, n_grams, n_contaminated, contamination) with
    contamination = n_contaminated / max(n_grams, 1).

    The standard eval-set leakage check for training corpora (13-gram
    overlap a la GPT-3/The Pile): a document sharing long n-grams with
    a benchmark is dropped or flagged before training.

    Scale shape: both sides explode to DISTINCT n-gram keys; the join
    key is ``md5`` of the gram, bounding shuffle width to 32 bytes
    regardless of n. The benchmark side collapses to a global distinct
    gram set (typically millions of rows — eval sets are small; Spark
    broadcasts it when under the auto threshold, else hash-joins). One
    explode + one distinct per side, one join, one groupBy(id): no
    all-pairs, no Python. Counts are exact integers; the fraction is a
    single IEEE division — oracle-exact.
    """
    bench_text_col = text_col if bench_text_col is None else bench_text_col
    # the doc-side gram array is computed ONCE and its size carried
    # through the explode as a grouping column — the old shape built the
    # (tokenize + n-gram transform + array_distinct) tree twice, once
    # for the exploded join side and once for the totals side, and
    # joined them back at the end (round 6 plan audit). explode_outer
    # keeps gram-less docs (n_grams = 0) without the extra join.
    doc_grams = docs.select(
        F.col(id_col),
        F.array_distinct(ngrams_expr(tokens_expr(F.col(text_col)), n)).alias(
            "__grams"
        ),
    ).select(
        F.col(id_col),
        F.size("__grams").alias("n_grams"),
        F.explode_outer("__grams").alias("gram"),
    ).select(
        F.col(id_col), F.col("n_grams"), F.md5(F.col("gram")).alias("gh")
    )
    bench_grams = (
        benchmark.select(
            F.explode(
                F.array_distinct(ngrams_expr(tokens_expr(F.col(bench_text_col)), n))
            ).alias("gram")
        )
        .select(F.md5(F.col("gram")).alias("gh"), F.lit(True).alias("__hit"))
        .distinct()
    )
    per_doc = (
        doc_grams.join(bench_grams, "gh", "left")
        .groupBy(id_col, "n_grams")
        .agg(F.sum(F.col("__hit").cast("bigint")).alias("n_contaminated"))
    )
    return per_doc.select(
        F.col(id_col),
        F.col("n_grams"),
        F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("bigint").alias(
            "n_contaminated"
        ),
        (
            F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("double")
            / F.greatest(F.col("n_grams"), F.lit(1)).cast("double")
        ).alias("contamination"),
    )


def dup_shingle_fraction(
    df: DataFrame, *, id_col: str, text_col: str, n: int = 6
) -> DataFrame:
    """Cross-document duplicated-text fraction (the RefinedWeb/Gopher
    ``dups_frac`` corpus-hygiene signal): for each document, the share
    of its DISTINCT token n-gram shingles that also occur in at least
    one OTHER document. Distinct from ``repetition_signals`` (within-doc
    repetition) and ``ngram_contamination`` (overlap with an external
    benchmark) — this measures cross-document boilerplate/copy pressure
    and is the standard pre-filter before near-dup clustering.

    Output: (id, n_shingles, n_dup, dup_fraction). ``n_shingles`` is 0
    for documents shorter than ``n`` tokens (dup_fraction 0.0).

    Distribution: shingles are md5-hashed BEFORE the shuffle (16-byte
    fixed width regardless of ``n``); the global document frequency is
    a count() window over that key's shuffle and the per-doc counts one
    hash aggregate — no vocabulary-sized table is joined back or
    broadcast. The ratio is one exact BIGINT/BIGINT double division, so
    a SQL oracle is bit-identical.
    """
    from pyspark.sql import Window

    pairs = (
        df.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(ngrams_expr(tokens_expr(F.col(text_col)), n))
            ).alias("gram"),
        )
        .select(F.col(id_col), F.md5(F.col("gram")).alias("gh"))
    )
    # document frequency as a count() window over the SAME shuffle the
    # rows need anyway, instead of a separate groupBy(gh) aggregate
    # joined back: the shingle explode + md5 used to be computed twice
    # (once per join side) and the gh key shuffled twice (round 6 plan
    # audit). Identical integer counts, one Exchange fewer, one pass.
    df_docs = F.count(F.lit(1)).over(Window.partitionBy("gh"))
    per_doc = (
        pairs.withColumn("df_docs", df_docs)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("df_docs") >= 2).cast("bigint")).alias("n_dup"),
        )
    )
    return df.select(F.col(id_col)).join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_shingles", F.lit(0)).cast("bigint").alias("n_shingles"),
        F.coalesce("n_dup", F.lit(0)).cast("bigint").alias("n_dup"),
        (
            F.coalesce("n_dup", F.lit(0)).cast("double")
            / F.greatest(F.coalesce("n_shingles", F.lit(0)), F.lit(1)).cast(
                "double"
            )
        ).alias("dup_fraction"),
    )


def token_rarity(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    rare_doc_threshold: int = 2,
) -> DataFrame:
    """Per-document corpus-rarity profile: how unusual is each
    document's vocabulary relative to the whole corpus? The standard
    out-of-distribution / OCR-garbage signal for training-data triage —
    a document whose tokens are mostly corpus-hapaxes is far more
    likely to be noise (mangled encodings, boilerplate IDs, rot13 spam)
    than prose, and ``min_df == 1`` flags every document that carries
    at least one corpus-unique token.

    Output, all exact BIGINTs (hash-exact across engines):

    * ``n_distinct_tokens`` — distinct whitespace tokens in the doc
      (0 for empty docs);
    * ``min_df`` — the smallest corpus document-frequency among the
      doc's tokens (NULL for empty docs);
    * ``n_hapax`` — tokens of the doc occurring in NO other document
      (corpus document-frequency 1);
    * ``n_rare`` — tokens with document-frequency <=
      ``rare_doc_threshold``.

    Distribution: explode distinct tokens (map-side), one
    groupBy(token) hash aggregate for the document-frequency table
    (map-side partials), then a token-keyed join back. The df table is
    vocabulary-sized; AQE broadcasts it from its measured shuffle size
    when it is small. A web-scale vocabulary stays a shuffle join,
    where stopword-like tokens carry near-corpus-cardinality join
    groups that AQE's skew-join split handles (they're the df-max
    tokens, so they never affect ``min_df`` semantics, only balance).
    Final per-doc aggregate is one more hash aggregate. Nothing
    all-pairs, nothing driver-side."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens_expr(F.col(text_col)))).alias(
            "__tok"
        ),
    )
    dfreq = toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    joined = toks.join(dfreq, "__tok")
    per_doc = joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_distinct_tokens"),
        F.min("__df").alias("min_df"),
        F.sum((F.col("__df") == 1).cast("bigint")).alias("n_hapax"),
        F.sum(
            (F.col("__df") <= rare_doc_threshold).cast("bigint")
        ).alias("n_rare"),
    )
    return df.select(F.col(id_col)).join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_distinct_tokens", F.lit(0))
        .cast("bigint")
        .alias("n_distinct_tokens"),
        F.col("min_df").cast("bigint").alias("min_df"),
        F.coalesce("n_hapax", F.lit(0)).cast("bigint").alias("n_hapax"),
        F.coalesce("n_rare", F.lit(0)).cast("bigint").alias("n_rare"),
    )


def chunk_documents(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Chunk documents into fixed-token training windows with overlap
    (``stride < chunk_tokens`` overlaps consecutive chunks, the standard
    LM pre-tokenization windowing). Chunks start at token offsets
    0, stride, 2*stride, ... while the offset is inside the document;
    the final chunk may be shorter. Empty documents produce no chunks.

    Output: (id, chunk_id, chunk_text, n_tokens).

    Distribution: map-only — tokenize, ``explode`` a per-row
    ``sequence`` of chunk ids, ``slice`` + ``array_join``; ZERO
    shuffles, pipelines straight from the scan into the sink at any
    scale (contrast ``pack_sequences``, which needs a shard cumsum
    Exchange because its output depends on neighbors; chunking is
    per-document so it does not).
    """
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    toks = tokens_expr(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("__toks")).filter(
        F.size("__toks") > 0
    )
    n_chunks = F.floor((F.size("__toks") - 1) / F.lit(stride)).cast("int") + 1
    chunk = F.slice(
        F.col("__toks"), F.col("chunk_id") * stride + 1, chunk_tokens
    )
    return (
        base.withColumn(
            "chunk_id", F.explode(F.sequence(F.lit(0), n_chunks - 1))
        )
        .select(
            F.col(id_col),
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).cast("bigint").alias("n_tokens"),
        )
    )


def boilerplate_lines(
    lines: DataFrame,
    *,
    doc_col: str,
    group_col: str,
    line_col: str,
    min_docs: int = 2,
) -> DataFrame:
    """Lines repeated across >= ``min_docs`` distinct documents of the
    same group (domain / source / crawl): (group, line, n_docs). This is
    the CCNet / RefinedWeb line-level dedup signal — nav bars, cookie
    banners and footers repeat across a domain's pages while real prose
    does not, so cross-document repetition IS the boilerplate detector.

    One groupBy(group, line) with a single count(DISTINCT doc) —
    planned as a two-phase partial aggregate (one distinct column: no
    Expand), so a domain-wide banner contributes one partial row per
    mapper, never a hot-key task."""
    return (
        lines.groupBy(
            F.col(group_col).alias("group"), F.col(line_col).alias("line")
        )
        .agg(F.count_distinct(F.col(doc_col)).alias("n_docs"))
        .filter(F.col("n_docs") >= int(min_docs))
    )


def strip_boilerplate(
    lines: DataFrame,
    *,
    doc_col: str,
    group_col: str,
    idx_col: str,
    line_col: str,
    min_docs: int = 2,
    joiner: str = " ",
) -> DataFrame:
    """Rebuild each document with its group's boilerplate lines removed
    (CCNet-style line-level dedup): (doc, clean_text, n_lines,
    n_removed). Input is the generic exploded shape (doc, group, idx,
    line) — produced by splitting on newlines, sentences, or the
    fixed-token chunker — so the line definition is the caller's.

    Plan: the boilerplate set from :func:`boilerplate_lines` (slim:
    (group, line) pairs that actually repeat) is joined back onto the
    lines. AQE broadcasts it from its measured shuffle size — the usual
    case, boilerplate is a tiny fraction of a corpus — and keeps a
    crawl-sized banner set a shuffle join. Reassembly is one
    groupBy(doc): collect kept (idx, line) structs, array_sort (idx is
    unique per doc, so the sort is total and deterministic), join with
    ``joiner``. Per-doc state is bounded by document size, not corpus
    size."""
    bp = boilerplate_lines(
        lines,
        doc_col=doc_col,
        group_col=group_col,
        line_col=line_col,
        min_docs=min_docs,
    ).select("group", "line", F.lit(True).alias("__bp"))
    flagged = lines.select(
        F.col(doc_col).alias("doc"),
        F.col(group_col).alias("group"),
        F.col(idx_col).alias("idx"),
        F.col(line_col).alias("line"),
    ).join(bp, ["group", "line"], "left")
    kept_struct = F.when(
        F.col("__bp").isNull(), F.struct(F.col("idx"), F.col("line"))
    )
    return (
        flagged.groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.count(F.col("__bp")).cast("bigint").alias("n_removed"),
            F.array_sort(F.collect_list(kept_struct)).alias("__kept"),
        )
        .select(
            "doc",
            F.array_join(
                F.transform(F.col("__kept"), lambda s: s["line"]), joiner
            ).alias("clean_text"),
            "n_lines",
            "n_removed",
        )
    )
