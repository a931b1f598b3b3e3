"""Training-data export: deterministic sharding + sequence packing.

The last mile of a pretraining pipeline: after curation
(plans/curation.py) the corpus must be (a) split into a fixed number of
shards whose membership is a pure function of the doc id — so a re-run,
a resume, or a different cluster produces byte-identical shards — and
(b) packed into fixed-length training contexts (GPT-style
concat-and-chunk: documents are laid end-to-end in a deterministic
pseudo-random order and the token stream is cut every ``ctx_len``
tokens, so a document's context/offset assignment is again a pure
function of the corpus).

Everything here is JVM Column algebra — one hash, one window — with
exact DuckDB twins in ``__spark_entry__.oracle_sql``; zero Python on
any path.

Scale shape: ``pack_sequences`` is ONE shuffle, keyed by the shard id.
``n_shards`` is the parallelism knob (at 100 TB you run 10k+ shards so
each window sort holds ~10 GB of (hash, n_tokens) pairs — the text
itself never enters the window; the sort key is an 8-byte hash). The
cumulative sum is a running window (``ROWS UNBOUNDED PRECEDING``),
which Spark evaluates streaming inside the sort — no buffering of the
whole partition.

Provenance: the reference has no export path (documents go straight
from upload to a per-request model call,
/root/reference/src/routers/main_endpoints.py:84-176); packing
semantics are engine-side new work per the task brief, following the
standard concat-and-chunk construction used by public LM data tooling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.text import normalize_ws, portable_hash64, spread, token_count, tokens


def pack_sequences(
    docs: DataFrame,
    ctx_len: int = 2048,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Assign every document a ``(shard, pack_id, offset_tokens)`` — the
    training context it starts in under concat-and-chunk packing.

    Order within a shard is by the 60-bit md5 hash (a deterministic
    shuffle — neighbors in the corpus are not neighbors in the stream),
    tie-broken by doc id. ``offset_tokens`` is the document's start
    position inside its pack; a document longer than the remaining room
    simply straddles into the next pack, exactly like the real token-
    stream cut.

    ``carry`` names extra input columns to ride through the window (the
    write path carries the text itself so the whole export is ONE
    shuffle); when empty, only (hash, n_tokens) enters the sort.
    """
    if ctx_len <= 0 or n_shards <= 0:
        raise ValueError("ctx_len and n_shards must be positive")
    h = portable_hash64(F.col(id_col).cast("string"))
    t = spread(docs).select(
        F.col(id_col).alias("doc_id"),
        h.alias("h"),
        F.pmod(h, F.lit(n_shards)).cast("int").alias("shard"),
        # null text = zero tokens (size(null) is null and would poison
        # the running sum into null pack assignments)
        F.coalesce(token_count(F.col(text_col)), F.lit(0))
        .cast("long")
        .alias("n_tokens"),
        *[F.col(c) for c in carry],
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_before = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("_cum")
    return t.select("doc_id", "shard", "n_tokens", cum_before, *carry).select(
        "doc_id",
        "shard",
        # integer DIV, not floor(double /): exact past 2^53 cumulative
        # tokens, matching the oracle's `//`
        F.expr(f"_cum DIV {int(ctx_len)}").alias("pack_id"),
        (F.col("_cum") % ctx_len).cast("long").alias("offset_tokens"),
        "n_tokens",
        *carry,
    )


def write_training_shards(
    docs: DataFrame,
    path: str,
    ctx_len: int = 2048,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Materialize the packed corpus as shard-partitioned parquet.

    ONE shuffle total: the text rides through the pack window via
    ``carry`` (the window's hash-partitioning on ``shard`` already
    sends every row of a shard to exactly one task, and the window sort
    leaves rows in pack order), so the write needs no join back to the
    corpus and no repartition — ``partitionBy("shard")`` just splits
    each task's already-grouped output into its shard directory for
    downstream partition pruning. The cost of carrying text is sort
    spill, not an extra exchange. Returns the written assignment.
    """
    packed = pack_sequences(
        docs, ctx_len, n_shards, id_col, text_col, carry=(text_col,)
    )
    packed.write.mode("overwrite").partitionBy("shard").parquet(path)
    return packed


def shuffle_corpus(docs: DataFrame, seed: str = "s0", n_shards: int = 8,
                   id_col: str = "doc_id") -> DataFrame:
    """Deterministic seeded global shuffle + shard assignment:
    (doc_id, shard, pos) such that reading shards 0..n-1 each in pos
    order visits the corpus in a pseudorandom order that is a pure
    function of (seed, doc_id) — reproducible across reruns, appends,
    partitionings, and engines (no RNG state anywhere).

    Training pipelines need exactly this before epoch-0: web corpora
    arrive crawl-ordered (one domain contiguous for terabytes), and
    sequentially-read training data must be globally shuffled, not
    shuffled-within-files. The standard trick is sort-by-hash: key
    every doc with md5(seed|doc_id), then position = rank within its
    shard.

    Scale shape: NO global row_number (a single-partition window is
    the classic 100 TB killer) — the window partitions by shard, so
    the sort is n_shards independent O((N/n_shards) log) sorts after
    ONE hash shuffle; pick n_shards ~ corpus/10^6 so each fits an
    executor. The md5 key makes shard sizes multinomial-uniform —
    skew-free by construction regardless of input key skew. Changing
    ``seed`` reshuffles everything; appended docs slot in without
    moving existing (shard, key) assignments (only positions after
    them shift), the same append-stability argument as
    ``split_assign``.
    """
    key = F.md5(F.concat_ws("|", F.lit(seed), F.col(id_col).cast("string")))
    # 60-bit int from the key's first 15 hex digits — same portable
    # scheme as portable_hash64, reused here on the already-computed key
    kint = F.conv(F.substring(F.col("key"), 1, 15), 16, 10).cast("long")
    keyed = docs.select(
        F.col(id_col).alias("doc_id"), key.alias("key")
    ).withColumn("shard", F.pmod(kint, F.lit(n_shards)).cast("int"))
    w = Window.partitionBy("shard").orderBy("key", "doc_id")
    return keyed.select(
        "doc_id", "shard", F.row_number().over(w).alias("pos")
    )


def chunk_documents(docs: DataFrame, size: int = 128, overlap: int = 32,
                    id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Overlapping fixed-size token-window chunks per document:
    ``(doc_id, chunk_idx, tok_start, tok_end, n_tokens, chunk_text)``.

    The retrieval-side counterpart of ``pack_sequences``: RAG indexing
    and long-document embedding both need documents cut into windows of
    ``size`` tokens advancing by ``size - overlap``, the last window
    ending exactly at the document end (possibly shorter, never a
    window wholly contained in the previous one). A document with
    ``n <= size`` tokens yields exactly one chunk; an empty/null text
    yields none.

    Scale shape: strictly map-only — tokens, window arithmetic, and the
    chunk struct array are all in-row Column algebra with one explode;
    ZERO shuffles at any corpus size (the plan has no Exchange), so it
    composes with whatever partitioning the surrounding pipeline chose.
    The ``overlap/size`` ratio bounds output amplification at
    size/(size-overlap) x corpus tokens, visible and constant.
    """
    if not 0 <= overlap < size:
        raise ValueError("require 0 <= overlap < size")
    step = size - overlap
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens(normalize_ws(F.col(text_col))).alias("_toks"),
    )
    toks = F.col("_toks")
    n = F.size(toks)
    n_chunks = F.when(n <= 0, F.lit(0)).when(n <= size, F.lit(1)).otherwise(
        (F.lit(1) + F.ceil((n - F.lit(size)) / F.lit(float(step)))).cast("int")
    )
    chunk = lambda i: F.struct(  # noqa: E731
        (i * step).cast("long").alias("tok_start"),
        F.least(i * step + size, n).cast("long").alias("tok_end"),
        F.concat_ws(
            " ", F.slice(toks, i * step + 1, F.least(F.lit(size), n - i * step))
        ).alias("chunk_text"),
    )
    chunks = F.when(
        n_chunks > 0, F.transform(F.sequence(F.lit(0), n_chunks - 1), chunk)
    ).otherwise(
        F.array().cast("array<struct<tok_start:long,tok_end:long,chunk_text:string>>")
    )
    return base.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "c")).select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("c.tok_start").alias("tok_start"),
        F.col("c.tok_end").alias("tok_end"),
        (F.col("c.tok_end") - F.col("c.tok_start")).alias("n_tokens"),
        F.col("c.chunk_text").alias("chunk_text"),
    )


def priority_sample(docs: DataFrame, weight_col: str, k: int = 100,
                    seed: str = "s0", id_col: str = "doc_id") -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement via priority
    sampling (Duffield, Lund & Thorup, JACM 54(6), 2007): every row
    gets priority ``w / u`` with ``u`` a seeded-hash uniform in (0,1],
    and the sample is the k highest priorities. Returns
    ``(doc_id, weight, priority)``, priority rounded only for output —
    selection compares the raw value.

    Why this formulation and not rand()-based sampleBy/thresholding:

      * pure function of (seed, id): reproducible across reruns,
        engines, partitionings, and appends — new rows compete for
        slots but never RESHUFFLE the randomness of existing rows
        (same append-stability argument as ``shuffle_corpus``).
      * exactly-k without replacement in ONE pass: no rejection loop,
        no per-stratum bookkeeping; Horvitz-Thompson weight estimation
        uses min(1, w/tau) with tau = the (k+1)-th priority.
      * every arithmetic step (int->double conversion, the two IEEE
        divisions) is exactly-rounded and engine-identical, so the
        DuckDB oracle reproduces the selection bit-for-bit — no
        float-fuzz tolerance hiding selection drift.

    Scale shape: priorities are computed in-row (one md5 per row, no
    shuffle); the global top-k is TakeOrdered — per-partition heaps of
    k, then a k x n_partitions driver merge. No global sort, no window.
    Rows with null or nonpositive weight are excluded (u in (0,1]
    keeps w/u finite; a zero weight can never be sampled anyway).
    """
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.lit(seed), F.col(id_col).cast("string"))),
            1, 15,
        ),
        16, 10,
    ).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(1152921504606846976.0)  # 2^60
    w = F.col(weight_col).cast("double")
    pr = w / u
    return (
        docs.where(w > 0)
        .select(F.col(id_col).alias("doc_id"), w.alias("weight"), pr.alias("_pr"))
        .orderBy(F.desc("_pr"), "doc_id")
        .limit(k)
        .select("doc_id", "weight", F.round(F.col("_pr"), 6).alias("priority"))
    )


def temperature_mix(docs: DataFrame, source_col: str = "source",
                    alpha: float = 0.5, seed: str = "mix0",
                    id_col: str = "doc_id") -> DataFrame:
    """Temperature-based source rebalancing — the multilingual/multi-
    source LM mixing rule (XLM-R / mT5 shape): target share of source s
    is proportional to n_s^alpha, realized by DOWNSAMPLING ONLY (no
    replication), so

        keep_frac(s) = n_s^(alpha-1) / max_t n_t^(alpha-1)

    — the smallest source keeps 100% and every larger source trims
    toward the flattened target distribution (alpha=1 keeps everything;
    alpha=0 equalizes expected counts).

    Keep decision: seeded md5 uniform u(id) < keep_frac(s) — a pure
    function of (seed, id), reproducible across engines, partitionings,
    and appends (the ``priority_sample`` argument: new docs never
    reshuffle the randomness of existing ones).

    Exactness: with the default alpha=0.5 the fraction is computed as
    sqrt(n_min)/sqrt(n_s) — two correctly-rounded IEEE sqrts and one
    division — so the DuckDB twin reproduces every keep decision
    bit-for-bit. Other alphas route through pow(), whose last ulp can
    differ across libms; boundary flips are ~2^-45 probable per row.

    Scale shape: ONE count aggregation (the only shuffle), a driver
    collect bounded by the number of SOURCES (the linking.py bounded-dim
    contract), fractions folded into a broadcast LocalRelation dim, and a
    map-side join + in-row hash compare. Docs with a NULL source are
    emitted with keep=false (they have no place in a source mix).
    Returns every doc with (keep_frac, keep); ``where(keep)`` is the
    mixed corpus.
    """
    import math

    if not 0.0 <= alpha <= 1.0:
        raise ValueError("alpha must be in [0, 1]")
    from ..synth import local_dim_df

    counts = (
        docs.where(F.col(source_col).isNotNull())
        .groupBy(F.col(source_col).alias("_src"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    spark = docs.sparkSession
    if not counts:
        return docs.select(
            "*",
            F.lit(None).cast("double").alias("keep_frac"),
            F.lit(False).alias("keep"),
        )
    if alpha == 0.5:
        n_min = min(r["n"] for r in counts)
        fracs = [
            (r["_src"], math.sqrt(n_min) / math.sqrt(r["n"])) for r in counts
        ]
    else:
        rs = {r["_src"]: r["n"] ** (alpha - 1.0) for r in counts}
        top = max(rs.values())
        fracs = [(s, v / top) for s, v in rs.items()]
    src_type = docs.schema[source_col].dataType.simpleString()
    dim = F.broadcast(
        local_dim_df(spark, fracs, f"_src {src_type}, _frac double"))
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.lit(seed), F.col(id_col).cast("string"))),
            1, 15,
        ),
        16, 10,
    ).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(1152921504606846976.0)  # 2^60
    return (
        docs.join(dim, docs[source_col] == dim._src, "left")
        .select(
            *docs.columns,
            F.col("_frac").alias("keep_frac"),
            F.coalesce(u < F.col("_frac"), F.lit(False)).alias("keep"),
        )
    )


def token_budget_select(
    docs: DataFrame,
    budgets: dict[str, int] | None = None,
    source_col: str = "source",
    tokens_col: str = "n_tokens",
    quality_col: str = "quality",
    id_col: str = "doc_id",
    default_budget: int = 0,
    partitions: int = 64,
) -> DataFrame:
    """Quality-ranked selection to a per-source TOKEN budget — the
    data-mixing step that fills each domain's slice of a training run
    ("10B tokens of web, 2B of code, best documents first"): within
    every source, documents are ranked by quality (DESC, ties by id)
    and kept while the running token total is below the source's
    budget. The boundary document may overshoot (kept iff its
    EXCLUSIVE-prefix sum is still under budget) — the same
    bounded-overflow contract as ``plan_compaction`` — so the budget is
    always nearly filled and at most one document crosses it.

    ``budgets`` maps source -> token budget; sources absent from the
    map get ``default_budget``. Rows with a NULL source, or a NULL or
    negative token count, are emitted with ``keep=false`` and excluded
    from every cumsum (the corrupt-manifest-row discipline).

    Returns one row per input doc:
    ``(id, source, n_tokens, quality, cum_before, budget, keep)``.

    Scale shape — the naive form is one window per source, which makes
    a dominant source (web is ~90% of most corpora) a single hot
    partition. Instead the per-source running sum is assembled the
    ``interval_coverage`` way: ``repartitionByRange`` on
    (source, quality DESC, id) → in-partition exclusive cumsum keyed by
    (pid, source) (every group bounded by the partition size, however
    skewed the sources) → broadcast (P × sources)-row exclusive prefix
    of per-(pid, source) totals. Long arithmetic end to end.
    """
    budgets = budgets or {}
    base = docs.select(
        F.col(id_col).alias("id"),
        F.col(source_col).alias("source"),
        F.col(tokens_col).cast("long").alias("n_tokens"),
        F.col(quality_col).alias("quality"),
    )
    ok = (
        F.col("source").isNotNull()
        & F.col("n_tokens").isNotNull()
        & (F.col("n_tokens") >= 0)
    )
    # ok is never NULL: the isNotNull conjuncts force FALSE before the
    # (n_tokens >= 0) term can go NULL, so ~ok is a clean complement
    invalid = base.where(~ok).select(
        "id", "source", "n_tokens", "quality",
        F.lit(None).cast("long").alias("cum_before"),
        F.lit(None).cast("long").alias("budget"),
        F.lit(False).alias("keep"),
    )
    order = [F.col("quality").desc_nulls_last(), F.col("id").asc()]
    keyed = (
        base.where(ok)
        .repartitionByRange(partitions, F.col("source"), *order)
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()  # pin pid; consumed by the run AND the offsets
    )
    w_in = Window.partitionBy("pid", "source").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, -1
    )
    run = keyed.withColumn(
        "cum_in", F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0)).cast("long")
    )
    w_off = Window.partitionBy("source").orderBy("pid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = (
        keyed.groupBy("pid", "source")
        .agg(F.sum("n_tokens").alias("tot"))
        .select(
            "pid", "source",
            (F.sum("tot").over(w_off) - F.col("tot")).cast("long").alias("off"),
        )
    )
    spark = docs.sparkSession
    from ..synth import local_dim_df

    if budgets:
        dim = F.broadcast(
            local_dim_df(
                spark,
                [(s, int(b)) for s, b in sorted(budgets.items())],
                "_src string, _budget bigint",
            )
        )
        budgeted = run.join(F.broadcast(offsets), ["pid", "source"]).join(
            dim, F.col("source") == F.col("_src"), "left"
        )
    else:
        budgeted = run.join(F.broadcast(offsets), ["pid", "source"]).withColumn(
            "_budget", F.lit(None).cast("long")
        )
    cum = (F.col("cum_in") + F.col("off")).cast("long")
    budget = F.coalesce(
        F.col("_budget").cast("long"), F.lit(int(default_budget)).cast("long")
    )
    valid_out = budgeted.select(
        "id", "source", "n_tokens", "quality",
        cum.alias("cum_before"),
        budget.alias("budget"),
        (cum < budget).alias("keep"),
    )
    return valid_out.unionByName(invalid)
