"""Text-analysis column functions for the training-data pipeline.

All pure Column expressions over ``pyspark.sql.functions`` — JVM-side,
whole-stage-codegen, zero Python on the hot path. Each has an exact
DuckDB-SQL twin in ``__spark_entry__.oracle_sql`` so the driver's
correctness gate covers them.

Portability contract: anything that hashes uses ``md5`` (identical
bytes in every engine) re-interpreted as an integer, never engine-
specific hash functions (Spark xxhash64 and DuckDB hash() disagree).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Ensure at least one partition per core before CPU-heavy in-row
    Column compute (shingling, hashing, per-token folds).

    A parquet file is splittable only at row-group boundaries; a
    single-row-group file scans as ONE task no matter how many cores the
    cluster has, so the expensive expressions run single-threaded (the
    driver testdata is exactly this shape). At warehouse scale inputs are
    far larger than ``maxPartitionBytes`` and this is a no-op.

    Parallelism need is estimated from the optimizer's plan statistics
    (``sizeInBytes`` / ``maxPartitionBytes``) — catalog/file-footer
    metadata only, no ``.rdd`` materialization (which would force full
    physical planning per call and, under AQE, report a pre-execution
    partition count that may not match what runs). Pass ``partitions``
    to skip the estimate entirely.
    """
    sess = df.sparkSession
    target = partitions if partitions is not None else sess.sparkContext.defaultParallelism
    if target <= 1:
        return df
    try:
        if not df.inputFiles():
            raise ValueError("not file-backed")
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        # conf may come back as "134217728", "134217728b" or "128MB"
        raw = sess.conf.get("spark.sql.files.maxPartitionBytes").lower()
        num = float(raw.rstrip("kmgtb"))
        maxpb = int(num * {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}.get(
            raw.rstrip("b")[-1:], 1))
        est_tasks = max(1, size // max(maxpb, 1))
    except Exception:
        # non-file plan (Range/LocalRelation/in-memory): its stats say
        # nothing about partition count; the RDD probe is cheap here —
        # no file listing is involved
        est_tasks = df.rdd.getNumPartitions()
    if est_tasks < target:
        return df.repartition(target)
    return df

# Tiny per-language marker-word lists for the n-gram/stopword language-ID
# heuristic. Deliberately small: the point is the *operator shape*
# (tokenize → explode → join marker dim → argmax per doc), which at 100 TB
# is a broadcast join + one aggregation, same as a real fastText-style LID.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "a"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "de", "et", "les"),
    "de": ("der", "die", "und", "das", "ist"),
    "zh": ("的", "是", "了", "我", "在"),
}


def portable_hash64(c: Column) -> Column:
    """Deterministic 60-bit integer hash of a string column.

    md5 → first 15 hex digits → base-16 parse. Bit-identical to the
    DuckDB expression ``CAST('0x' || substr(md5(x),1,15) AS BIGINT)``,
    which is what makes MinHash/SimHash oracle-checkable across engines.
    """
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def normalize_ws(c: Column) -> Column:
    """Collapse whitespace runs + trim + lowercase — dedup normalization."""
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def tokens(c: Column) -> Column:
    """Whitespace tokenization -> array<string> (empty tokens dropped)."""
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


def token_count(c: Column) -> Column:
    return F.size(tokens(c))


def bpe_ish_piece_count(c: Column) -> Column:
    """Token-count proxy for a BPE tokenizer: ~4 chars per piece within
    each whitespace word, at least one piece per word. Deliberately
    lookaround-free so the same formula runs under Java regex (Spark)
    and RE2 (DuckDB oracle)."""
    return F.aggregate(
        tokens(c),
        F.lit(0),
        lambda acc, p: acc + F.greatest(F.lit(1), F.ceil(F.length(p) / 4).cast("int")),
    )


def punct_ratio(c: Column) -> Column:
    stripped = F.regexp_replace(c, r"[^\p{L}\p{N}\s]", "")
    return (F.length(c) - F.length(stripped)) / F.greatest(F.length(c), F.lit(1))


def quality_score(c: Column) -> Column:
    """Composite document-quality score in [0,1]: length band + low punct
    + some stopword mass (the C4/Gopher-style heuristic family)."""
    n_tok = token_count(c)
    len_ok = F.when((n_tok >= 10) & (n_tok <= 100000), F.lit(1.0)).otherwise(F.lit(0.0))
    p = punct_ratio(c)
    punct_ok = F.when(p <= 0.2, 1.0 - p * 2).otherwise(F.lit(0.0))
    return F.round((0.5 * len_ok + 0.5 * punct_ok), 6)


def fingerprint(c: Column) -> Column:
    """Stable content fingerprint of normalized text (dedup key)."""
    return F.md5(normalize_ws(c))


# ---------------------------------------------------------------------------
# Training-data curation: repetition profiling, PII scrubbing, dataset
# splits. Same contract as everything above — pure Column expressions
# with exact DuckDB twins; regexes are lookaround-free so Java regex
# (Spark) and RE2 (DuckDB) agree match-for-match.
# ---------------------------------------------------------------------------
PII_URL = r"https?://\S+"
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+?[0-9][0-9 \-]{6,}[0-9]"


def scrub_pii(c: Column) -> Column:
    """Mask URLs, then emails, then phone-like digit runs.

    Order matters: URLs first (their paths contain '@' and digit runs),
    emails before phones (digits inside an address must not half-match).
    The phone pattern is deliberately aggressive — any 8+-char digit run
    masks, the standard recall-over-precision trade for scrub passes.
    """
    no_url = F.regexp_replace(c, PII_URL, "<URL>")
    no_email = F.regexp_replace(no_url, PII_EMAIL, "<EMAIL>")
    return F.regexp_replace(no_email, PII_PHONE, "<PHONE>")


def pii_counts(c: Column) -> tuple[Column, Column, Column]:
    """(n_urls, n_emails, n_phones), counted on progressively scrubbed
    text so a match never double-counts across categories."""
    no_url = F.regexp_replace(c, PII_URL, "<URL>")
    no_email = F.regexp_replace(no_url, PII_EMAIL, "<EMAIL>")
    return (
        F.regexp_count(c, F.lit(PII_URL)),
        F.regexp_count(no_url, F.lit(PII_EMAIL)),
        F.regexp_count(no_email, F.lit(PII_PHONE)),
    )


def dup_segment_fraction(c: Column, sep: str = r"\n") -> Column:
    """Fraction of non-empty trimmed segments that repeat an earlier one
    (the Gopher duplicate-line filter; ``sep`` is a split regex)."""
    segs = F.filter(
        F.transform(F.split(c, sep), lambda t: F.trim(t)), lambda t: t != ""
    )
    n = F.size(segs)
    return F.round(
        (n - F.size(F.array_distinct(segs))) / F.greatest(n, F.lit(1)), 6
    )


def dup_token_fraction(c: Column) -> Column:
    """Fraction of tokens that repeat an earlier token — in-row, map-only."""
    toks = tokens(normalize_ws(c))
    n = F.size(toks)
    return F.round(
        (n - F.size(F.array_distinct(toks))) / F.greatest(n, F.lit(1)), 6
    )


def top_ngram_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 2
) -> DataFrame:
    """Per-document repetition profile (the Gopher top-n-gram filter):
    ``(id, n_tokens, n_grams, top_count, top_fraction,
    dup_token_fraction)`` where top_fraction is the share of n-gram
    positions occupied by the single most frequent n-gram.

    Scale shape: the mode-of-ngrams needs a per-(doc, gram) count, so
    unlike the in-row scalars above this one aggregates. Grams are
    md5-hashed IN-ROW before the explode, so the shuffle carries
    (id, 8-byte hash) rows — never gram text — and the per-doc scalars
    ride through the group key (constant per id, zero extra shuffles).
    """
    toks = tokens(normalize_ws(F.col(text_col)))
    k = F.size(toks) - (n - 1)
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + j) for j in range(n)]
    )
    # guard: sequence(1, k) DESCENDS when k < 1 — emit [] for short docs
    gh = F.when(
        k >= 1,
        F.transform(F.sequence(F.lit(1), k), lambda i: portable_hash64(gram(i))),
    ).otherwise(F.array().cast("array<long>"))
    base = df.select(
        F.col(id_col).alias("id"),
        F.size(toks).alias("n_tokens"),
        F.greatest(k, F.lit(0)).alias("n_grams"),
        dup_token_fraction(F.col(text_col)).alias("dup_token_fraction"),
        gh.alias("gh"),
    )
    ex = base.select(
        "id", "n_tokens", "n_grams", "dup_token_fraction",
        F.explode_outer("gh").alias("h"),
    )
    counts = ex.groupBy(
        "id", "n_tokens", "n_grams", "dup_token_fraction", "h"
    ).agg(F.count(F.lit(1)).alias("c"))
    top = counts.groupBy("id", "n_tokens", "n_grams", "dup_token_fraction").agg(
        F.max(
            F.when(F.col("h").isNotNull(), F.col("c")).otherwise(F.lit(0).cast("long"))
        ).alias("top_count")
    )
    return top.select(
        F.col("id").alias(id_col),
        "n_tokens",
        "n_grams",
        "top_count",
        F.round(
            F.col("top_count") / F.greatest("n_grams", F.lit(1)), 6
        ).alias("top_fraction"),
        "dup_token_fraction",
    )


SPLIT_BUCKETS = 10_000


def split_bucket(c: Column, buckets: int = SPLIT_BUCKETS) -> Column:
    """Deterministic hash bucket of a document key — the stable
    train/dev/test assigner. Identity-hash based (not random), so the
    split survives reruns, repartitioning, and incremental appends."""
    return F.pmod(portable_hash64(c.cast("string")), F.lit(buckets))


def dataset_split(
    c: Column, train: float = 0.90, dev: float = 0.05,
    buckets: int = SPLIT_BUCKETS,
) -> Column:
    b = split_bucket(c, buckets)
    # round, not floor: int(0.57*10000) truncates float error to 5699,
    # silently keeping one bucket fewer than requested for some fractions
    t_hi, d_hi = int(round(train * buckets)), int(round((train + dev) * buckets))
    return (
        F.when(b < t_hi, "train").when(b < d_hi, "dev").otherwise("test")
    )


def stratified_keep(
    id_c: Column,
    stratum_c: Column,
    fracs: dict[str, float],
    default_frac: float = 0.0,
    salt: str = "strat",
    buckets: int = SPLIT_BUCKETS,
) -> Column:
    """Deterministic stratified-sampling predicate: keep a row when its
    identity-hash bucket falls below its stratum's fraction — the
    training-mix resampler (e.g. downweight a dominant language/source).

    Identity-hashed, not random: the sample is stable across reruns,
    repartitioning, and incremental appends (a doc's fate never changes
    when the corpus grows — unlike ``df.sample``, whose per-partition
    RNG reshuffles membership on any repartition). ``salt`` decorrelates
    the bucket from ``dataset_split``'s so sampling doesn't bias splits.
    In-row column algebra — at 100 TB this is a pushdown-friendly
    filter, no shuffle, no RNG state.
    """
    b = split_bucket(F.concat(F.lit(salt + ":"), id_c.cast("string")), buckets)
    # round, not floor (same float-truncation hazard as dataset_split)
    thresh: Column = F.lit(int(round(default_frac * buckets)))
    for s, frac in sorted(fracs.items()):
        thresh = F.when(
            stratum_c == s, F.lit(int(round(frac * buckets)))
        ).otherwise(thresh)
    return b < thresh


def shingles(c: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles -> array<string>.

    transform over a token-index sequence: JVM higher-order functions,
    no explode until the caller wants one.
    """
    toks = tokens(normalize_ws(c))
    k = F.size(toks) - (n - 1)
    return F.when(k <= 0, F.array(F.concat_ws(" ", toks))).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, i + j) for j in range(n)]
                ),
            )
        )
    )


def corpus_report(
    docs: DataFrame,
    by: str = "source",
    text_col: str = "text",
    lang_col: str = "lang",
    short_tokens: int = 20,
) -> DataFrame:
    """Per-source dataset report card — the per-snapshot summary a
    training-data pipeline publishes next to every corpus release
    (n_docs, token mass, mean quality, short-doc fraction, language
    spread and majority language per source).

    Hash-exactness discipline: token counts sum as integers; the mean
    quality aggregates the ALREADY-6dp-rounded per-doc score as an
    exact integer (score × 1e6), so the float sum-order problem never
    arises; the majority language is min(struct(-count, lang)) — count
    desc, lang asc — the engine-portable argmax idiom.

    100 TB shape: two partial-aggregable aggregations (doc-level and
    (source, lang)-level marginals) meeting in a source-cardinality
    join; per-doc text never leaves its scan task.
    """
    nt = token_count(F.col(text_col))
    q6 = F.round(quality_score(F.col(text_col)) * F.lit(1000000.0)).cast("long")
    main = (
        docs.select(
            F.col(by), nt.alias("_nt"), q6.alias("_q6")
        )
        .groupBy(by)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nt").alias("n_tokens"),
            F.sum((F.col("_nt") < int(short_tokens)).cast("long")).alias("_n_short"),
            F.sum("_q6").alias("_sum_q6"),
        )
    )
    lang_counts = docs.groupBy(by, lang_col).agg(F.count(F.lit(1)).alias("_c"))
    lang_agg = lang_counts.groupBy(by).agg(
        F.count(F.lit(1)).alias("n_langs"),
        F.min(
            F.struct((-F.col("_c")).alias("_neg"), F.col(lang_col).alias("_l"))
        ).getField("_l").alias("top_lang"),
    )
    n_d = F.col("n_docs").cast("double")
    return main.join(lang_agg, by).select(
        by,
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens").cast("double") / n_d, 6).alias("avg_tokens"),
        F.round(
            F.col("_sum_q6").cast("double") / n_d / F.lit(1000000.0), 6
        ).alias("avg_quality"),
        F.round(F.col("_n_short").cast("double") / n_d, 6).alias("pct_short"),
        "n_langs",
        "top_lang",
    )
