"""Document deduplication operators for large-scale training-data pipelines.

The reference dedups work items by key (per-repo lock map,
crawler/crawler.go:56-80; canonical clone URL identity); a web-text corpus
additionally needs CONTENT dedup. Four families, each expressible as
oracle-checkable DataFrame plans (no Python in the hot path except the
vectorized SimHash kernel):

  exact        hash-groupBy on a content fingerprint (md5)
  ngram-jaccard word n-gram shingle sets, exact Jaccard via shingle join
  minhash-LSH  per-band min-hash signatures -> bucket join -> verify
  simhash      64-bit sign-aggregated token hashes (Charikar 2002),
               Hamming-distance buckets (vectorized numpy kernel)
  embedding    cosine near-dup over vector columns (see similarity.py)

Scale notes: every family is built around one shuffle on a compact key
(fingerprint / shingle / (band, signature) / simhash prefix). The pair
verification joins are bounded by bucket size, and all thresholds cut
BEFORE the pair join where possible. At 100 TB the shingle explode is the
big intermediate — it is a map-side transform feeding a single
groupBy(shingle), so AQE coalescing and salting the hottest shingles keep
partitions even; no driver-side state anywhere.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def tokens_col(text: str = "text"):
    """Whitespace tokens, empties removed — shared by every text operator
    (and mirrored in the DuckDB oracles)."""
    return F.filter(F.split(F.col(text), " "), lambda t: t != "")


def shingles_col(n: int = 3, text: str = "text"):
    """Distinct word n-gram shingles (space-joined). Docs shorter than n
    tokens get an empty array — guarded with an explicit CASE, because
    ``sequence(1, 0)`` is DESCENDING in Spark and ``element_at(_, 0)``
    throws under ANSI."""
    toks = tokens_col(text)
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    shingle = lambda i: F.concat_ws(
        " ", *[F.element_at(toks, i + j) for j in range(n)]
    )
    return F.when(
        F.size(toks) >= n, F.array_distinct(F.transform(idx, shingle))
    ).otherwise(F.array().cast("array<string>"))


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Exact-dup clusters: md5 fingerprint -> groupBy -> clusters with >1
    member. Returns (fingerprint, n_docs, min_doc_id) per cluster."""
    return (
        docs.select("doc_id", F.md5("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def dedup_exact_keep_first(docs: DataFrame) -> DataFrame:
    """The dedup itself: keep the lowest doc_id per fingerprint."""
    w_min = (
        docs.select("doc_id", F.md5("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return docs.join(w_min, "doc_id", "left_semi")


def _shingle_pair_counts(
    docs: DataFrame,
    n: int,
    max_shingle_df: int | None,
    persist_shingles: bool,
) -> DataFrame:
    """Shared core of the set-overlap pair metrics (Jaccard and
    containment): explode distinct shingles -> optional df cap ->
    shingle-keyed self-join -> (doc_a, doc_b, shared, na, nb) with
    doc_a < doc_b. The callers differ ONLY in the predicate they apply
    to these five columns, so the plan (and the df-cap / persist
    semantics documented on ngram_jaccard_pairs) lives once here."""
    sh = docs.select(
        "doc_id", F.explode(shingles_col(n)).alias("shingle")
    )
    if persist_shingles:
        from pyspark import StorageLevel

        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    if max_shingle_df is not None:
        keep = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(keep, "shingle", "left_semi")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb"))
    return shared.join(sa, "doc_a").join(sb, "doc_b")


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
    persist_shingles: bool = False,
) -> DataFrame:
    """Near-dup pairs by exact Jaccard over word n-gram shingle sets.

    Plan: explode distinct shingles -> self-join on shingle (the ONLY
    shuffle, keyed by shingle) -> per-pair shared count -> Jaccard filter.
    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.

    ``max_shingle_df``: drop shingles whose document frequency exceeds
    the cap BEFORE the self-join — a shingle appearing in f documents
    creates f^2 pair rows, so one boilerplate shingle turns the join
    quadratic at corpus scale. With the cap the Jaccard is exact over
    the df-filtered shingle universe (hot shingles leave the numerator
    AND the per-doc sizes — CCNet-style semantics, mirrored in the
    DuckDB oracle); pass None for the unfiltered metric.

    ``persist_shingles``: the exploded shingle relation feeds three
    different shuffles (df-cap groupBy, per-doc sizes, the pair
    self-join), so without a persist the text scan + tokenize + explode
    recomputes per consumer. MEMORY_AND_DISK-persist it when the
    upstream explode is expensive relative to the shingle bytes (the
    ``dedup_ngram`` query measured 8.3 s -> 6.2 s with it, interleaved
    medians).
    """
    return (
        _shingle_pair_counts(docs, n, max_shingle_df, persist_shingles)
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    bands: int = 8,
    verify_threshold: float = 0.5,
    persist_shingles: bool = False,
) -> DataFrame:
    """MinHash + LSH candidate generation with exact verification.

    Signature: per band b, sig_b(doc) = min over shingles s of
    md5(b || ':' || s) — a deterministic, engine-portable min-hash (the
    md5 hex string order IS the hash order, so DuckDB oracles reproduce
    it bit-for-bit). Docs sharing any (band, sig) bucket become candidate
    pairs; candidates are then verified with exact Jaccard, so LSH only
    affects recall, never emits a false pair.

    Scale: the bucket join is keyed by (band, signature) — tiny buckets;
    the shingle explode is shared with the signature computation (one
    pass). bands controls the recall/cost trade.

    ``persist_shingles``: as in ngram_jaccard_pairs — the shingle
    relation feeds the signature aggregate AND the verification slice,
    so a persist trades shingle-bytes memory for recomputing the
    explode (both shapes measured interleaved, as for
    ngram_jaccard_pairs).
    """
    sh = docs.select("doc_id", F.explode(shingles_col(n)).alias("shingle"))
    if persist_shingles:
        from pyspark import StorageLevel

        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    band = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    sigs = (
        sh.select("doc_id", "shingle", band)
        .select(
            "doc_id",
            "band",
            F.md5(F.concat_ws(":", F.col("band").cast("string"), "shingle")).alias(
                "h"
            ),
        )
        .groupBy("doc_id", "band")
        .agg(F.min("h").alias("sig"))
    )
    a = sigs.select(F.col("doc_id").alias("doc_a"), "band", "sig")
    b = sigs.select(F.col("doc_id").alias("doc_b"), "band", "sig")
    candidates = (
        a.join(b, ["band", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )

    # Verification must only PAY for candidate pairs (this is the whole
    # point of LSH): semi-join the shingle table down to candidate doc
    # ids first, so the exact-Jaccard self-join runs over the candidate
    # slice instead of the full corpus, then keep only bucketed pairs.
    # Per-pair shared counts are intrinsic to the pair, so the result is
    # identical to verifying against the all-pairs join — the oracle SQL
    # stays the plain formulation.
    cand_ids = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .unionByName(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh_c = sh.join(cand_ids, "doc_id", "left_semi")
    sizes = sh_c.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    ca = sh_c.select(F.col("doc_id").alias("doc_a"), "shingle")
    cb = sh_c.select(F.col("doc_id").alias("doc_b"), "shingle")
    shared = (
        ca.join(cb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # prune to bucketed pairs BEFORE the per-pair aggregation
        .join(candidates, ["doc_a", "doc_b"], "left_semi")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= verify_threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


# --- SimHash (vectorized kernel; no SQL-portable oracle — rows-only) -------

_SIMHASH_BITS = 64


def _simhash_batch(texts: pd.Series) -> pd.Series:
    """Charikar simhash over whitespace tokens: per bit j, sum +-1 of token
    hashes' bit j; simhash bit j = (sum > 0). Token hash: md5's first 8
    bytes big-endian (deterministic across processes and engines).

    Vectorized over the WHOLE Arrow batch: the only per-token Python left
    is one C ``hashlib.md5`` call per *distinct token of the batch* (a
    shared vocabulary — web text repeats tokens heavily, so this is far
    fewer hashes than per-row hashing); bit unpacking, vote summation and
    bit packing are numpy over the flattened batch. This is kernel
    version v1: its bit-exact pin is the DuckDB md5-replay oracle
    (__spark_entry__.dedup_simhash) plus a literal golden-fingerprint
    assert in tests/test_similarity_dedup.py; the crawl hot path uses the
    JVM-native v2 kernel (simhash_native_col) instead.
    """
    import hashlib

    n_rows = len(texts)
    out = np.zeros(n_rows, dtype=np.int64)
    # one flat index stream over a batch-shared vocabulary (set semantics
    # per row — votes are order-free)
    flat: list[int] = []
    lens = np.zeros(n_rows, dtype=np.int64)
    vocab: dict[str, int] = {}
    vocab_get = vocab.get
    for i, t in enumerate(texts):
        if not t:
            continue
        toks = set(t.split(" "))
        toks.discard("")
        if not toks:
            continue
        lens[i] = len(toks)
        for w in toks:
            j = vocab_get(w)
            if j is None:
                j = len(vocab)
                vocab[w] = j
            flat.append(j)
    if not vocab:
        return pd.Series(out)
    # one md5 per distinct token of the batch
    md5 = hashlib.md5
    digests = b"".join(md5(w.encode("utf-8")).digest()[:8] for w in vocab)
    hs = np.frombuffer(digests, dtype=">u8")
    # (V, 64) +-1 vote matrix, then one segment-sum per row (flat is
    # grouped by row, so reduceat over running offsets does it)
    votes_per_tok = (
        2 * ((hs[:, None] >> np.arange(_SIMHASH_BITS, dtype=np.uint64)) & 1).astype(np.int32)
        - 1
    )
    nz = np.nonzero(lens > 0)[0]
    offsets = np.zeros(len(nz), dtype=np.int64)
    np.cumsum(lens[nz][:-1], out=offsets[1:])
    votes = np.add.reduceat(
        votes_per_tok[np.asarray(flat, dtype=np.int64)], offsets, axis=0
    )
    weights = np.uint64(1) << np.arange(_SIMHASH_BITS, dtype=np.uint64)
    sims = ((votes > 0).astype(np.uint64) * weights).sum(axis=1)
    out[nz] = sims.astype(np.int64)
    return pd.Series(out)


@F.pandas_udf(T.LongType())
def simhash_udf(text: pd.Series) -> pd.Series:
    return _simhash_batch(text)


# SWAR lane layout for the v2 fold: acc[g] packs four 16-bit one-counters
# for bits (g, 16+g, 32+g, 48+g) at bit offsets 0/16/32/48 — one
# shift+AND per acc slot per token instead of one ±1 vote per BIT.
_SWAR_LANE_MASK = 0x0001_0001_0001_0001
# The TOP packed counter occupies bits 48-63 of a SIGNED long, so the
# fold stays overflow-free (ANSI would throw on a signed-long Add
# carrying into bit 63) only while every counter <= 0x7FFF: cap the
# (first-occurrence-ordered, deterministic) distinct token array at
# 32767. A doc needs >32767 DISTINCT whitespace tokens (≈ >0.25 MB of
# never-repeating words) to hit the cap — beyond it the fingerprint is
# computed over the first 32767, still deterministic, and the parity
# replay mirrors the cap.
_SWAR_MAX_TOKENS = 32767


def simhash_native_col(text):
    """simhash_v2 — fully JVM-native Charikar simhash, as ONE column
    expression (no Python worker, no shuffle: usable inside any
    projection).

    Same vote structure as v1 (_simhash_batch) but the token hash is
    Spark's built-in ``xxhash64(token)`` (seed 42) instead of md5's first
    8 bytes, so v2 fingerprints are DIFFERENT values from v1's — the two
    are separate, versioned kernels. v1 stays the oracle-pinned kernel
    behind the dedup_simhash CORRECTNESS row; v2 is the crawl-path
    default (plans/round.py enrich_fetched), which removes the last
    Python UDF from the round DAG. Bit-exact parity of v2 against a
    from-scratch Python XXH64 replay (functions/hashing.py) is pinned in
    tests/test_similarity_dedup.py.

    Fold shape (r4 restructure, SAME fingerprint values as the original
    v2 fold for docs within the _SWAR_MAX_TOKENS cap — the cap, which
    the parity replay mirrors, is the one contract change): HOF lambdas
    run JVM-interpreted, so per-token expression
    nodes are the unit of cost. The original fold carried a 64-slot ±1
    vote array (~800 interpreted nodes/token); this one carries 16 longs
    of SWAR-packed 16-bit lane counters — per token, acc[g] +=
    (h >>> g) & 0x0001000100010001 counts bits g/16+g/32+g/48+g in one
    shift+AND+add (~50 nodes/token). The 64 majority votes are unpacked
    per ROW (not per token): bit j set iff 2*cnt_j > n_tokens, identical
    to sum(±1) > 0.
    """
    toks = F.slice(
        F.array_distinct(F.filter(F.split(text, " "), lambda t: t != "")),
        1,
        _SWAR_MAX_TOKENS,
    )
    n = F.size(toks)
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    lane_mask = F.lit(_SWAR_LANE_MASK).cast("long")
    acc = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), 16),
        lambda a, h: F.zip_with(
            a,
            F.array(
                *[
                    F.shiftrightunsigned(h, g).bitwiseAND(lane_mask)
                    for g in range(16)
                ]
            ),
            lambda x, c: x + c,
        ),
    )
    # per-row unpack: count of set bit j lives in acc[j % 16], lane
    # j // 16; bit j of the fingerprint = majority = 2*cnt > n. Weight
    # literals are signed longs (bit 63 is the sign), matching v1.
    packed = None
    for j in range(_SIMHASH_BITS):
        cnt = F.shiftrightunsigned(
            F.element_at(acc, j % 16 + 1), 16 * (j // 16)
        ).bitwiseAND(F.lit(0xFFFF))
        w = F.lit((1 << j) if j < 63 else (1 << 63) - (1 << 64)).cast("long")
        term = F.when(cnt * 2 > n, w).otherwise(F.lit(0).cast("long"))
        packed = term if packed is None else packed + term
    # null/empty text -> 0, matching v1
    return F.coalesce(packed, F.lit(0).cast("long"))


def simhash_near_dup_pairs(
    docs: DataFrame, max_hamming: int = 3, persist_sim: bool = False
) -> DataFrame:
    """Near-dup pairs by simhash Hamming distance, banded by pigeonhole:
    d differing bits leave at least one of d+1 bands untouched, so the
    band count adapts to max_hamming (d<=3 -> 4 bands of 16 bits, d<=7
    -> 8x8, d<=15 -> 16x4). Narrower bands -> more candidates -> the
    exact Hamming filter does more work; candidates never escape it.

    ``persist_sim``: the (doc_id, simhash) relation feeds BOTH sides of
    the band self-join, so without a persist the v1 pandas kernel (the
    expensive part — one md5 per distinct batch token) recomputes once
    per side. The relation is 16 bytes/doc, so persisting it is ~free
    next to a second kernel pass (measured interleaved)."""
    n_bands = next(b for b in (4, 8, 16) if b >= max_hamming + 1)
    width = 64 // n_bands
    mask = (1 << width) - 1
    # token-less docs (null/empty/whitespace-only text) all hash to 0 and
    # would collide in every band, emitting C(k,2) meaningless Hamming-0
    # pairs; the DuckDB oracle's token explode naturally excludes them,
    # so the operator must too — filter BEFORE the band join
    sim = docs.filter(F.size(tokens_col("text")) > 0).select(
        "doc_id", simhash_udf(F.col("text")).alias("simhash")
    )
    if persist_sim:
        from pyspark import StorageLevel

        sim = sim.persist(StorageLevel.MEMORY_AND_DISK)
    bands = sim.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("simhash", width * i)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.key")
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"), "band", "key"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"), "band", "key"
    )
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over a near-dup pair graph -> (doc_id,
    cluster_id, keep), cluster_id = min doc_id in the component, keep =
    the one representative per cluster. This is the step that turns
    PAIR-granularity dedup (ngram/minhash/simhash emit edges) into
    corpus dedup: transitive near-dups collapse to one kept doc.

    Method: iterative min-label propagation — each round every vertex
    takes the min label over its closed neighborhood (one shuffle join
    on vertex id + one map-side groupBy per round), converging in
    O(component diameter) rounds. Near-dup graphs have tiny components
    (clusters of rewrites/mirrors), so diameter is small and this beats
    the O(log n) star-contraction family (Kiveris et al., "Connected
    Components in MapReduce", SoCC'14) on constant factors; for
    adversarial long-chain graphs swap in large-star/small-star with
    the same (doc_id, lbl) contract. Each round is localCheckpoint-ed:
    iterative DataFrame lineage otherwise grows unboundedly (same
    pattern as the crawl driver, plans/driver.py). The convergence
    probe reads a count off the just-materialized checkpoint — no extra
    scan of anything upstream.

    Determinism: min over a set is order-independent; the fixed point
    is the unique per-component min id regardless of join order.
    """
    from don_crawler_spark.plans.adaptive import adaptive_partitions

    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    )
    # size-derived loop-relation width (guide §2.2): the label loop
    # shuffles tiny (doc_id, lbl) pairs — their partition count must
    # track the edge relation's size, not the session's scan-sized
    # shuffle.partitions (AQE cannot coalesce checkpointed RDDs)
    npart = adaptive_partitions(edges)
    # the pair plan upstream (LSH bucket join etc.) is expensive —
    # materialize the edge list once, iterate over the checkpoint
    edges = edges.coalesce(npart).localCheckpoint(eager=True)
    labels = (
        edges.groupBy("u")
        .agg(F.min("v").alias("nbr"))
        .select(F.col("u").alias("doc_id"), F.least("u", "nbr").alias("lbl"))
    )
    for _ in range(max_iters):
        nbr = (
            edges.join(labels.withColumnRenamed("doc_id", "v"), "v")
            .groupBy("u")
            .agg(F.min("lbl").alias("nbr_lbl"))
            .withColumnRenamed("u", "doc_id")
        )
        stepped = labels.join(nbr, "doc_id", "left").select(
            "doc_id",
            F.least("lbl", F.coalesce("nbr_lbl", "lbl")).alias("lbl"),
            (F.col("nbr_lbl") < F.col("lbl")).alias("chg"),
        )
        stepped = stepped.coalesce(npart).localCheckpoint(eager=True)
        labels = stepped.drop("chg")
        if stepped.filter("chg").count() == 0:
            break
    return labels.select(
        "doc_id",
        F.col("lbl").alias("cluster_id"),
        (F.col("lbl") == F.col("doc_id")).alias("keep"),
    )


def minhash_dedup_clusters(
    docs: DataFrame,
    n: int = 3,
    bands: int = 8,
    verify_threshold: float = 0.5,
    persist_shingles: bool = False,
    max_iters: int = 25,
) -> DataFrame:
    """End-to-end fuzzy dedup: MinHash-LSH pair generation -> exact
    Jaccard verify -> connected components -> per-cluster keep decision.
    The standard web-corpus dedup pipeline shape at cluster granularity."""
    pairs = minhash_lsh_pairs(
        docs,
        n=n,
        bands=bands,
        verify_threshold=verify_threshold,
        persist_shingles=persist_shingles,
    )
    return connected_components(pairs, max_iters=max_iters)


def dedup_incremental(
    new_docs: DataFrame,
    corpus: DataFrame,
    n: int = 3,
    bands: int = 8,
) -> DataFrame:
    """Incremental (cross-snapshot) dedup: classify each NEW document
    against an EXISTING corpus — the nightly-append shape (CCNet dedups
    each Common-Crawl snapshot against prior snapshots; RefinedWeb /
    Dolma do the same across dumps). Statuses:

    - ``exact_dup``: byte-identical text exists in the corpus
      (md5 fingerprint match; match_id = smallest such corpus doc_id);
    - ``near_dup``: not exact, but some MinHash band signature (same
      construction as minhash_lsh_pairs — min over shingles of
      md5(band ':' shingle)) collides with a corpus doc's signature
      (match_id = smallest colliding corpus doc_id). Band collision is
      the CANDIDATE criterion; callers needing a verified Jaccard
      re-run minhash_lsh_pairs on the matched pairs — kept separate
      here so the whole classification stays oracle-exact in SQL;
    - ``novel``: neither. Every new doc returns exactly one row
      (degrade-don't-drop).

    Plan shape / scale: the corpus side reduces to two small keyed
    relations — (fingerprint -> min doc_id) and
    ((band, sig) -> min doc_id) — each one partial-aggregated shuffle
    of 8-to-16-byte keys; in production both are PRECOMPUTED once per
    snapshot and stored (signature tables are the standard artifact),
    making the nightly increment two hash joins keyed by the NEW batch
    (tiny next to the corpus) with no corpus rescan. No text crosses
    either join: fingerprints and band signatures only.
    """
    fp = F.md5("text").alias("fp")
    cfp = (
        corpus.select("doc_id", fp)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("exact_match"))
    )
    exact = new_docs.select("doc_id", fp).join(cfp, "fp", "left")

    def band_sigs(df: DataFrame) -> DataFrame:
        sh = df.select("doc_id", F.explode(shingles_col(n)).alias("shingle"))
        band = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
        return (
            sh.select("doc_id", "shingle", band)
            .select(
                "doc_id",
                "band",
                F.md5(
                    F.concat_ws(":", F.col("band").cast("string"), "shingle")
                ).alias("h"),
            )
            .groupBy("doc_id", "band")
            .agg(F.min("h").alias("sig"))
        )

    csig = band_sigs(corpus).groupBy("band", "sig").agg(
        F.min("doc_id").alias("c_doc")
    )
    near = (
        band_sigs(new_docs)
        .join(csig, ["band", "sig"])
        .groupBy("doc_id")
        .agg(F.min("c_doc").alias("near_match"))
    )
    return (
        exact.join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_match").isNotNull(), F.lit("exact_dup"))
            .when(F.col("near_match").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("novel"))
            .alias("status"),
            F.coalesce("exact_match", "near_match").alias("match_id"),
        )
    )


def dedup_cluster_representative(
    docs: DataFrame,
    n: int = 3,
    bands: int = 8,
    verify_threshold: float = 0.1,
    persist_shingles: bool = False,
    max_iters: int = 25,
) -> DataFrame:
    """Quality-aware cluster representative selection — the FineWeb /
    RefinedWeb keep-policy refinement of minhash_dedup_clusters: instead
    of keeping the min-id doc per near-dup cluster (an arbitrary
    representative), keep the HIGHEST-QUALITY member (heuristic quality
    score, ties by doc id). Singleton docs (no near-dup edges) are their
    own cluster and always kept, so the output is one policy row per
    corpus doc: (doc_id, cluster_id, quality, keep).

    Plan / scale: pair generation + components come from
    minhash_dedup_clusters unchanged (LSH-banded, never all-pairs); the
    selection adds one map-side quality projection, a left join on
    doc_id, and ONE window partitioned by cluster_id — near-dup clusters
    are small by construction, so no window partition is corpus-scale
    (singletons are size-1 partitions).
    """
    from pyspark.sql import Window

    from don_crawler_spark.operators.textstats import quality_col

    cc = minhash_dedup_clusters(
        docs,
        n=n,
        bands=bands,
        verify_threshold=verify_threshold,
        persist_shingles=persist_shingles,
        max_iters=max_iters,
    )
    q = docs.select("doc_id", quality_col().alias("quality"))
    lab = q.join(cc.select("doc_id", "cluster_id"), "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        "quality",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return lab.select(
        "doc_id",
        "cluster_id",
        "quality",
        (F.row_number().over(w) == 1).alias("keep"),
    )


def ngram_containment_pairs(
    docs: DataFrame,
    n: int = 3,
    tau_permille: int = 800,
    max_shingle_df: int | None = None,
    persist_shingles: bool = False,
) -> DataFrame:
    """Near-SUPERSET pairs by one-sided shingle containment — Broder's
    second resemblance measure: containment(A in B) = |A∩B| / |A|.
    Jaccard misses quote inclusion (a paragraph embedded in a 100x
    larger page scores |A|/|B| ~ 0.01); containment of the smaller
    side reads ~1.0 there, which is exactly the boilerplate-quotation
    / syndicated-excerpt signal a webtext dedup wants.

    Returns (doc_a, doc_b, shared, na, nb, contained_doc) with
    doc_a < doc_b, where the pair passes when the SMALLER shingle set
    is tau-contained in the larger:

        shared * 1000 >= tau_permille * least(na, nb)

    — exact integer arithmetic, no float threshold ULP hazard (the
    repo-wide permille discipline). ``contained_doc`` names the
    contained (smaller, tie -> doc_a) side: the candidate to drop or
    link as an excerpt.

    Plan shape is ngram_jaccard_pairs' (same explode, same optional
    df cap — one boilerplate shingle is f^2 pair rows without it, same
    shingle-keyed self-join as the only wide shuffle); only the final
    filter predicate differs, so the two metrics share cost and the
    persist tradeoff (and the plan itself lives once, in
    _shingle_pair_counts).
    """
    return (
        _shingle_pair_counts(docs, n, max_shingle_df, persist_shingles)
        .filter(
            F.col("shared") * 1000
            >= F.lit(tau_permille) * F.least("na", "nb")
        )
        .select(
            "doc_a",
            "doc_b",
            "shared",
            "na",
            "nb",
            F.when(F.col("na") <= F.col("nb"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("contained_doc"),
        )
    )
