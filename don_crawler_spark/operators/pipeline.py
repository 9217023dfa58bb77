"""Training-data pipeline operators: repetition filters, sequence packing,
stratified sampling.

These extend the corpus-hygiene family (operators/textstats.py) with the
three remaining operations a webtext training pipeline runs between
extraction and tokenizer ingest:

- Gopher-style repetition statistics (Rae et al. 2021, "Scaling Language
  Models", table A1 rep-2/dup-3 rules): the fraction of a document covered
  by its most frequent word 2-gram and by duplicated word 3-grams. High
  values mark boilerplate / machine-generated spam.
- Concat-and-chunk sequence packing: deterministically assign documents to
  fixed-token-budget training bins, the standard pre-tokenization layout
  step. Packing is SHARD-LOCAL (cumulative sums inside hash shards), so
  the window is partitioned and the plan scales: one shuffle on the shard
  key, no global ordering barrier at 10^10 docs.
- Deterministic stratified sampling: per-language keep rates applied via a
  uniform hash of the doc id — reproducible (no rand()), exactly
  mirrorable in SQL, and embarrassingly parallel (pure map-side filter).

All three are native column expressions / partitioned windows (no Python
UDFs) with exact DuckDB oracles in __spark_entry__.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from don_crawler_spark.operators.dedup import tokens_col

# stratified-sampling keep rates per language; languages not listed keep
# everything (rate 1.0). Deterministic module constants so the DuckDB
# oracle can inline identical literals.
SAMPLE_RATES: dict[str, float] = {
    "en": 0.5,
    "de": 0.8,
    "es": 0.8,
    "fr": 0.8,
    "zh": 0.9,
}
SAMPLE_DEFAULT_RATE = 1.0

PACK_BUDGET = 512  # tokens per training bin
PACK_SHARDS = 16  # hash shards; packing is local to a shard


def _grams(toks, k: int):
    """All (non-distinct) word k-grams of a token array, space-joined.
    Empty array when the doc has fewer than k tokens (guarded explicitly:
    ``sequence(1, 0)`` is DESCENDING in Spark, and ``element_at(_, 0)``
    throws under ANSI — short docs must never reach the transform)."""
    idx = F.sequence(F.lit(1), F.size(toks) - (k - 1))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(k)])
    )
    return F.when(F.size(toks) >= k, grams).otherwise(
        F.array().cast("array<string>")
    )


def _run_length_stats(grams):
    """(max run length, Σ runs>1) over the SORTED gram array — i.e. the
    modal gram's count and the duplicated-gram position count, computed
    per row with one fold and no shuffle. State: (prev, current run,
    max closed run, duplicated-position sum)."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("maxrun"),
        F.lit(0).cast("long").alias("dupsum"),
    )

    def step(acc, x):
        extend = x.eqNullSafe(acc["prev"])
        return F.struct(
            x.alias("prev"),
            F.when(extend, acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.when(extend, acc["maxrun"])
            .otherwise(F.greatest(acc["maxrun"], acc["run"]))
            .alias("maxrun"),
            F.when(~extend & (acc["run"] > 1), acc["dupsum"] + acc["run"])
            .otherwise(acc["dupsum"])
            .alias("dupsum"),
        )

    def finish(acc):  # close the trailing run
        return F.struct(
            F.greatest(acc["maxrun"], acc["run"]).alias("maxrun"),
            F.when(acc["run"] > 1, acc["dupsum"] + acc["run"])
            .otherwise(acc["dupsum"])
            .alias("dupsum"),
        )

    return F.aggregate(F.array_sort(grams), init, step, finish)


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher repetition stats per doc:

    - ``top2gram_frac``: occurrences of the modal word 2-gram / total
      2-gram positions (0.0 when the doc has < 2 tokens).
    - ``dup3gram_frac``: 3-gram positions whose 3-gram occurs more than
      once in the doc / total 3-gram positions (0.0 when < 3 tokens).

    Plan shape: both stats are doc-LOCAL, so the operator is pure
    map-side — per row, sort the k-gram array and fold run lengths
    (modal count = longest run, duplicated positions = Σ runs > 1). Zero
    exchanges: the natural alternative (explode -> groupBy(doc_id, gram)
    -> groupBy(doc_id)) ships N_docs x avg_len gram rows through two
    shuffles for a quantity each row can compute alone. The fold is an
    interpreted HOF, but O(len) per doc with a 4-field state — scan cost,
    not shuffle cost, and the plan survives any corpus size that scans.
    """
    toks = tokens_col()
    d = docs.select("doc_id", toks.alias("t"))
    s2 = _run_length_stats(_grams(F.col("t"), 2))
    s3 = _run_length_stats(_grams(F.col("t"), 3))
    n2 = F.greatest(F.size(F.col("t")) - 1, F.lit(0))
    n3 = F.greatest(F.size(F.col("t")) - 2, F.lit(0))
    return d.select(
        "doc_id",
        F.round(
            F.when(n2 > 0, s2["maxrun"] / n2).otherwise(F.lit(0.0)), 6
        ).alias("top2gram_frac"),
        F.round(
            F.when(n3 > 0, s3["dupsum"] / n3).otherwise(F.lit(0.0)), 6
        ).alias("dup3gram_frac"),
    )


def pack_sequences(
    docs: DataFrame, budget: int = PACK_BUDGET, shards: int = PACK_SHARDS
) -> DataFrame:
    """Concat-and-chunk packing plan: documents are laid out in doc_id
    order within hash shards and chopped into ``budget``-token bins; a doc
    belongs to the bin where it starts (the standard concat-then-chunk
    training layout, computed as metadata without touching text bytes).

    Returns (doc_id, shard, bin_id, bin_offset, n_tokens). The window is
    PARTITIONED by shard — packing never needs a global sort, so the plan
    is one hash shuffle regardless of corpus size; shard count is the
    write-parallelism knob a real tokenizer job would tune.
    """
    d = docs.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(shards)).cast("int").alias("shard"),
        F.size(tokens_col()).alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id")
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start")
    return d.select("doc_id", "shard", "n_tokens", start).select(
        "doc_id",
        "shard",
        F.floor(F.col("start") / F.lit(float(budget))).cast("int").alias("bin_id"),
        F.pmod(F.col("start"), F.lit(budget)).cast("int").alias("bin_offset"),
        "n_tokens",
    )


def sample_uniform_col(key=None):
    """Deterministic uniform [0,1) draw from a row key: first 32 bits of
    md5(key) scaled by 2^32. No rand() — reruns and the SQL oracle see
    identical draws."""
    key = F.col("doc_id").cast("string") if key is None else key
    h = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint")
    return h / F.lit(4294967296.0)


def sample_stratified(docs: DataFrame, rates: dict[str, float] | None = None) -> DataFrame:
    """Hash-deterministic stratified sample: keep a doc iff its uniform
    draw falls under its language's keep rate. Pure map-side filter (no
    shuffle, no rand()): the natural downsampling step for rebalancing
    language mixes at corpus scale.

    Returns the kept (doc_id, lang, sample_u) rows, sample_u rounded for
    stable cross-engine hashing.
    """
    rates = SAMPLE_RATES if rates is None else rates
    rate = F.lit(SAMPLE_DEFAULT_RATE)
    for lang, r in sorted(rates.items()):
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    u = sample_uniform_col()
    return (
        docs.select("doc_id", "lang", u.alias("sample_u"))
        .filter(F.col("sample_u") < rate)
        .select("doc_id", "lang", F.round("sample_u", 6).alias("sample_u"))
    )


CAP_PER_SOURCE = 200  # max docs kept per source
CAP_SALTS = 16  # phase-1 salt cells per source (skew bound)


def source_cap(
    docs: DataFrame, cap: int = CAP_PER_SOURCE, n_salts: int = CAP_SALTS
) -> DataFrame:
    """Per-source document cap (the RefinedWeb / Dolma corpus-balancing
    step): keep at most ``cap`` documents per source, chosen by a
    deterministic md5(doc_id) order so reruns — and the SQL oracle —
    pick identical survivors. No rand().

    Two-phase salted top-k: phase 1 ranks inside (source, salt) cells —
    a hot source's rows sort in ``n_salts`` parallel cells, each pruned
    to ``cap`` rows — and phase 2 ranks exactly over the <= cap*n_salts
    survivors per source. A source with 10^9 docs never sorts 10^9 rows
    in one task; the exact window sees at most cap*n_salts of them.

    Returns (doc_id, source, cap_rank), cap_rank in [1, cap].
    """
    hhex = F.md5(F.col("doc_id").cast("string"))
    base = docs.select("doc_id", "source", hhex.alias("h"))
    salt = F.pmod(
        F.conv(F.substring("h", 1, 8), 16, 10).cast("bigint"), F.lit(n_salts)
    )
    w_cell = Window.partitionBy("source", "salt").orderBy("h", "doc_id")
    pruned = (
        base.withColumn("salt", salt)
        .withColumn("cell_rank", F.row_number().over(w_cell))
        .filter(F.col("cell_rank") <= cap)
        .drop("salt", "cell_rank")
    )
    w_exact = Window.partitionBy("source").orderBy("h", "doc_id")
    return (
        pruned.withColumn("cap_rank", F.row_number().over(w_exact))
        .filter(F.col("cap_rank") <= cap)
        .select("doc_id", "source", "cap_rank")
    )


SHUFFLE_SHARDS = 8  # training-order shards; one sort task per shard


def shuffle_shards(docs: DataFrame, n_shards: int = SHUFFLE_SHARDS) -> DataFrame:
    """Deterministic global training-order assignment — the "shuffle the
    corpus before tokenizer ingest" step — WITHOUT a global sort: shard
    = first 32 md5 bits mod ``n_shards``, position = rank of the full
    md5 hex within the shard. Reading shards in order, rows by ``pos``,
    yields a reproducible pseudorandom permutation of the corpus (md5 is
    uniform; doc_id tie-break covers 32-bit prefix collisions).

    Plan shape: one hash exchange on ``shard``, then ``n_shards``
    independent in-partition sorts — no rangepartitioning barrier, no
    driver-side sampling pass, and the layout parallelizes to
    ``n_shards`` tasks at any corpus size. The same hash order is what
    a dataloader can recompute independently, so the assignment doubles
    as a storage-layout contract (write bucketed by shard, sorted by h).

    Returns (doc_id, shard, pos), pos 0-based within shard.
    """
    hhex = F.md5(F.col("doc_id").cast("string"))
    h32 = F.conv(F.substring(hhex, 1, 8), 16, 10).cast("bigint")
    base = docs.select(
        "doc_id",
        hhex.alias("h"),
        F.pmod(h32, F.lit(n_shards)).cast("int").alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return base.select(
        "doc_id", "shard", (F.row_number().over(w) - F.lit(1)).alias("pos")
    )


# per-source token budgets for mixture construction; sources not listed
# are kept whole. Deterministic module constants so the DuckDB oracle
# can inline identical literals.
TOKEN_BUDGETS: dict[str, int] = {
    "crawl": 30_000,
    "wiki": 8_000,
    "forum": 5_000,
}


def sample_token_budget(
    docs: DataFrame, budgets: dict[str, int] | None = None
) -> DataFrame:
    """Mixture construction to ABSOLUTE per-source token budgets (the
    Pile / Dolma "data mixing" step): each source's keep rate is
    min(1, budget_tokens / total_tokens(source)), applied as a
    deterministic md5 draw per doc. In expectation each kept source
    contributes its budgeted token count; unlisted sources keep
    everything. Differs from temperature_sample (relative sqrt
    rebalancing over languages): here the targets are absolute token
    counts per source, the form a training-mix spec actually arrives in.

    Plan shape: one partial-agg groupBy over (source) — map-side
    combine, |sources| result rows — then a broadcast join of the tiny
    rate table back onto the corpus and a map-side filter. No window
    over corpus rows, no rand().

    Returns kept (doc_id, source, n_tokens, keep_rate, sample_u),
    rates/draws rounded for stable cross-engine hashing.
    """
    budgets = TOKEN_BUDGETS if budgets is None else budgets
    budget_col = F.lit(None).cast("double")
    for src, b in sorted(budgets.items()):
        budget_col = F.when(F.col("source") == src, F.lit(float(b))).otherwise(
            budget_col
        )
    toks = docs.select(
        "doc_id", "source", F.size(tokens_col()).alias("n_tokens")
    )
    totals = toks.groupBy("source").agg(F.sum("n_tokens").alias("total_tokens"))
    rates = totals.select(
        "source",
        F.coalesce(
            F.least(F.lit(1.0), budget_col / F.col("total_tokens")), F.lit(1.0)
        ).alias("keep_rate"),
    )
    u = sample_uniform_col()
    return (
        toks.withColumn("sample_u", u)
        .join(F.broadcast(rates), "source")
        .filter(F.col("sample_u") < F.col("keep_rate"))
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.round("keep_rate", 6).alias("keep_rate"),
            F.round("sample_u", 6).alias("sample_u"),
        )
    )


# sliding-window chunking: context-window preparation for long documents
CHUNK_WINDOW = 64  # tokens per chunk
CHUNK_STRIDE = 32  # tokens between chunk starts (overlap = WINDOW-STRIDE)


def sliding_chunks(
    docs: DataFrame, window: int = CHUNK_WINDOW, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """Split each document into overlapping fixed-token windows — the
    standard context-window preparation step between cleaning and
    tokenizer ingest (every doc longer than the model context is cut into
    `window`-token chunks every `stride` tokens; the final chunk may be
    short but every token is covered exactly once by a chunk start).

    Chunk starts are 1 + i*stride for i in 0..ceil(max(n-window,0)/stride)
    — for n <= window exactly one chunk, else the last start is the
    smallest that still reaches the end.

    Plan shape: pure map-side (tokenize -> sequence -> explode -> slice);
    NO shuffle, no window function, no Python. Output size is bounded by
    ~n_tokens/stride rows per doc, each carrying only its own slice — at
    100 TB this is an embarrassingly parallel scan->project.
    """
    base = (
        docs.select("doc_id", tokens_col().alias("toks"))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") > 0)
    )
    # integer ceil((n-window)+/stride) with the short-doc case guarded to 0
    m = F.floor(
        (F.greatest(F.col("n") - window, F.lit(0)) + (stride - 1)) / stride
    ).cast("int")
    exploded = base.select(
        "doc_id", "toks", "n", F.explode(F.sequence(F.lit(0), m)).alias("i")
    )
    chunk = F.slice(F.col("toks"), F.col("i") * stride + 1, window)
    return exploded.select(
        "doc_id",
        F.col("i").alias("chunk_id"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


DSIR_BUCKETS = 256  # hashed feature buckets (Xie et al. use 10k at web scale)
DSIR_TARGET_SOURCES = ("src0", "src1")  # stand-in high-quality target domain
DSIR_TOPK = 100  # selected docs


def dsir_importance(
    docs: DataFrame,
    buckets: int = DSIR_BUCKETS,
    target_sources: tuple[str, ...] = DSIR_TARGET_SOURCES,
    k: int = DSIR_TOPK,
) -> DataFrame:
    """DSIR importance weighting (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw document
    by how much its hashed n-gram profile looks like a TARGET domain
    rather than the raw corpus, then keep the top-k. The standard
    domain-targeted data-selection step between crawling and training.

    Features are word unigrams + bigrams hashed into ``buckets`` buckets
    (md5-prefix mod B — deterministic and byte-identical in DuckDB).
    Bucket distributions are Laplace-smoothed:

        p_hat(f | D) = (cnt_D[f] + 1) / (tot_D + B)

    and a document's weight is the multinomial log-likelihood ratio
    sum_f cnt_doc[f] * (ln p_t[f] - ln p_r[f]). Each bucket's log-ratio
    is integer-scaled to 1e-9 BEFORE any per-doc accumulation (the same
    fixed-point idiom as textstats.token_entropy), so the per-doc sum is
    exact integer arithmetic and the DuckDB oracle replays it
    bit-for-bit regardless of summation order. Selection is a
    deterministic top-k on the exact integer weight (production DSIR
    adds Gumbel noise to resample; a hash-seeded Gumbel drops in via
    sample_uniform_col without changing the plan shape).

    Plan shape / scale: the two bucket distributions are B-row
    aggregates (8-byte keys, map-side partial agg); the log-ratio dim is
    B rows and BROADCASTs onto the exploded feature stream, so the only
    corpus-sized shuffle is the per-doc weight sum — (doc_id, bigint)
    pairs after map-side partial aggregation — followed by a
    TakeOrderedAndProject(k). At 100 TB the target/raw distributions are
    precomputed once per corpus snapshot and loaded as a dim (the same
    artifact pattern as dedup_incremental's signature tables); nothing
    here is all-pairs or driver-side.
    """
    toks = tokens_col()
    feats = docs.select(
        "doc_id",
        "source",
        F.explode(F.concat(toks, _grams(toks, 2))).alias("feat"),
    )
    fb = feats.select(
        "doc_id",
        "source",
        F.pmod(
            F.conv(F.substring(F.md5("feat"), 1, 8), 16, 10).cast("bigint"),
            F.lit(buckets),
        ).alias("bucket"),
    )
    # two consumers (bucket distributions + per-doc accumulation): persist
    # so the explode + per-feature md5 runs once, not once per consumer —
    # the same trade the shingle operators make with persist_shingles
    from pyspark import StorageLevel

    fb = fb.persist(StorageLevel.MEMORY_AND_DISK)
    is_target = F.col("source").isin(*target_sources)
    # ONE pass over the feature stream for both distributions: the raw
    # and target per-bucket counts come out of a single groupBy (the
    # target count as a conditional sum), and the global totals are the
    # column sums of that B-row aggregate — the exploded feature stream
    # used to be recomputed three times (raw groupBy, target groupBy,
    # totals aggregate) and the raw/target frames re-joined on bucket.
    # Values are identical: a bucket with no target rows reads ct = 0
    # where the old left join read NULL, and both feed coalesce(ct,0)+1.
    bstats = fb.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.when(is_target, 1).otherwise(0)).alias("ct"),
    )
    totals = bstats.agg(
        F.sum("cr").alias("tr"),
        F.sum("ct").alias("tt"),
    )
    b = F.lit(buckets)
    num = (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0)) * (
        F.col("tr") + b
    ).cast("double")
    den = (F.col("tt") + b).cast("double") * (F.col("cr") + F.lit(1.0))
    llr = (
        bstats.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.round(F.lit(1000000000.0) * F.log(num / den))
            .cast("bigint")
            .alias("llr_i"),
        )
    )
    acc = (
        fb.join(F.broadcast(llr), "bucket")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("nf"), F.sum("llr_i").alias("a"))
    )
    return (
        acc.orderBy(F.desc("a"), "doc_id")
        .limit(k)
        .select(
            "doc_id",
            F.col("nf").cast("int").alias("n_feats"),
            F.round(F.col("a") / 1000000000.0, 6).alias("log_ratio"),
        )
    )


# fractional epoch factors per source, in permille (2300 = 2.3 epochs).
# Integer permille instead of a float factor so the partial-epoch draw is
# exact integer arithmetic — no float-fraction roundoff to disagree on
# between engines. Sources not listed run exactly one epoch.
EPOCH_PERMILLE: dict[str, int] = {
    "src0": 2300,  # upsample: 2 full copies + 30% chance of a third
    "src1": 1500,
    "src2": 400,  # sub-epoch: pure 40% downsample
}
EPOCH_DEFAULT_PERMILLE = 1000


def repeat_epochs(
    docs: DataFrame, permille: dict[str, int] | None = None
) -> DataFrame:
    """Fractional-epoch corpus materialization — the data-constrained
    mixing step (Muennighoff et al. 2023, "Scaling Data-Constrained
    Language Models"; Dolma / Pile source weights): a source assigned
    e = permille/1000 epochs emits floor(e) full copies of every doc
    plus one extra copy of a deterministic frac(e)-fraction of its docs.
    e < 1 degenerates to a pure downsample, e = 1 to identity, so one
    operator covers the whole mixing table.

    The partial-epoch membership draw is exact integer arithmetic: doc u32
    = first 32 md5 bits of doc_id, extra copy iff u32 * 1000 <
    frac_permille * 2^32 — both sides bigint, no float fraction, so
    reruns and the DuckDB oracle pick identical survivors. Copy index
    ``epoch`` (1-based) is emitted so a downstream shuffle
    (shuffle_shards keyed on (doc_id, epoch)) spreads repeats across
    training order instead of adjacent.

    Plan shape / scale: pure map-side project -> explode(sequence) — ZERO
    shuffles, no window, no Python; output is bounded by ceil(e) rows per
    doc. The ``sequence(1, copies)`` descending trap is guarded: rows with
    copies = 0 are filtered BEFORE the explode.
    """
    permille = EPOCH_PERMILLE if permille is None else permille
    pm = F.lit(EPOCH_DEFAULT_PERMILLE)
    for src, p in sorted(permille.items()):
        pm = F.when(F.col("source") == src, F.lit(p)).otherwise(pm)
    u32 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    copies = (
        F.floor(F.col("pm") / 1000)
        + F.when(
            F.col("u32") * 1000 < F.pmod(F.col("pm"), F.lit(1000)) * F.lit(4294967296),
            1,
        ).otherwise(0)
    ).cast("int")
    base = (
        docs.select("doc_id", "source", pm.alias("pm"), u32.alias("u32"))
        .withColumn("copies", copies)
        .filter(F.col("copies") >= 1)
    )
    return base.select(
        "doc_id",
        "source",
        F.col("copies").cast("int").alias("n_copies"),
        F.explode(F.sequence(F.lit(1), F.col("copies"))).alias("epoch"),
    )


# holdout split fractions in permille: (val, test); remainder is train.
SPLIT_VAL_PERMILLE = 50
SPLIT_TEST_PERMILLE = 50


def holdout_split(
    docs: DataFrame,
    val_permille: int = SPLIT_VAL_PERMILLE,
    test_permille: int = SPLIT_TEST_PERMILLE,
) -> DataFrame:
    """Leakage-aware deterministic train/val/test split. The split key is
    a CONTENT hash (md5 of text), not the doc id, so byte-identical
    duplicates always co-assign to one side — the standard guard against
    eval contamination via dup leakage (the failure mode of naive
    id-keyed splits; cf. Lee et al. 2021 §5, dup train/test overlap).
    Near-dups need an upstream dedup pass (dedup_*); this operator only
    guarantees the exact-dup invariant.

    Same exact integer-permille arithmetic as repeat_epochs: u32 = first
    32 md5 bits of text, val iff u32*1000 < val_pm * 2^32, test iff it
    falls in the next test_pm band, else train — both sides bigint, no
    float thresholds, so the DuckDB oracle and any rerun pick identical
    membership.

    Plan / scale: pure map-side projection — ZERO shuffles; split
    fractions hold per-partition by hash uniformity, no global
    coordination.
    """
    u32 = F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10).cast(
        "bigint"
    )
    scaled = (u32 * 1000).alias("scaled")
    v_hi = val_permille * 4294967296
    t_hi = (val_permille + test_permille) * 4294967296
    return docs.select(
        "doc_id",
        "source",
        scaled,
    ).select(
        "doc_id",
        "source",
        F.when(F.col("scaled") < v_hi, F.lit("val"))
        .when(F.col("scaled") < t_hi, F.lit("test"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )
