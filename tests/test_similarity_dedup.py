"""Dedup + similarity operator properties beyond the DuckDB conformance:
LSH recall vs brute force, simhash determinism, exact-dedup semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()


def test_lsh_recall_vs_brute_force(spark, emb) -> None:
    from don_crawler_spark.operators.similarity import brute_force_topk, lsh_topk

    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    # near-random embeddings are LSH's worst case (neighbors barely closer
    # than random points) — coarse buckets (4 bits) + 8 tables still must
    # recover most true neighbors. The pipeline is fully deterministic, so
    # the floor sits just under the measured value (0.7 at this config).
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_topk(emb, queries, k=5, n_tables=8, n_bits=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.65, f"LSH recall too low: {recall}"


# frozen expected output of the ann_lsh_bucketed entry at sf0.001
# (queries = vec_id < 5, k=10, n_tables=8, n_bits=4, seed 42): the
# hyperplanes are a deterministic splitmix64 stream, so this is exact on
# any machine / partition count — the fixture-oracle standing in for the
# SQL oracle DuckDB cannot express.
ANN_LSH_SF0001_FIXTURE = [
    (0, 1, 225, 0.315127), (0, 2, 12, 0.311027), (0, 3, 483, 0.300451),
    (0, 4, 347, 0.274508), (0, 5, 402, 0.2745), (0, 6, 299, 0.268713),
    (0, 7, 497, 0.252082), (0, 8, 394, 0.248665), (0, 9, 71, 0.245227),
    (0, 10, 453, 0.236758),
    (1, 1, 257, 0.391762), (1, 2, 209, 0.381544), (1, 3, 129, 0.35148),
    (1, 4, 376, 0.304811), (1, 5, 440, 0.299303), (1, 6, 455, 0.282431),
    (1, 7, 479, 0.268921), (1, 8, 237, 0.253512), (1, 9, 64, 0.2267),
    (1, 10, 206, 0.226142),
    (2, 1, 443, 0.357569), (2, 2, 62, 0.289997), (2, 3, 246, 0.289771),
    (2, 4, 185, 0.282941), (2, 5, 441, 0.253966), (2, 6, 183, 0.250606),
    (2, 7, 488, 0.238607), (2, 8, 24, 0.23019), (2, 9, 378, 0.222895),
    (2, 10, 94, 0.219036),
    (3, 1, 223, 0.340915), (3, 2, 205, 0.336595), (3, 3, 426, 0.315098),
    (3, 4, 156, 0.311071), (3, 5, 278, 0.269397), (3, 6, 326, 0.236859),
    (3, 7, 32, 0.228103), (3, 8, 53, 0.217255), (3, 9, 225, 0.214998),
    (3, 10, 329, 0.212627),
    (4, 1, 345, 0.374941), (4, 2, 98, 0.339767), (4, 3, 143, 0.329711),
    (4, 4, 343, 0.312433), (4, 5, 229, 0.267757), (4, 6, 472, 0.26634),
    (4, 7, 195, 0.254743), (4, 8, 271, 0.25458), (4, 9, 413, 0.253907),
    (4, 10, 462, 0.253346),
]


def test_ann_lsh_pinned_fixture(spark) -> None:
    """The registered ann_lsh_bucketed entry reproduces the frozen
    sf0.001 top-k exactly (query_id, rank, neighbor_id, cosine)."""
    import __spark_entry__ as em

    got = [
        (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
        for r in em.queries()["ann_lsh_bucketed"](spark, "/root/testdata/sf0.001")
        .orderBy("query_id", "rank")
        .collect()
    ]
    assert got == ANN_LSH_SF0001_FIXTURE


def test_lsh_deterministic(spark, emb) -> None:
    from don_crawler_spark.operators.similarity import lsh_bucket_ids

    a = sorted(map(tuple, lsh_bucket_ids(emb, 2, 8).collect()))
    b = sorted(map(tuple, lsh_bucket_ids(emb, 2, 8).collect()))
    assert a == b


def test_simhash_properties(spark) -> None:
    from don_crawler_spark.operators.dedup import simhash_near_dup_pairs

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # identical
        (3, "the quick brown fox jumps over the lazy cat"),  # 1 token off
        (4, "completely different words entirely unrelated payload here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(docs, max_hamming=15).collect()
    }
    assert pairs.get((1, 2)) == 0  # identical text -> identical fingerprint
    assert (1, 3) in pairs  # near-identical within banding distance
    assert (1, 4) not in pairs or pairs[(1, 4)] > pairs[(1, 3)]


def test_simhash_v1_golden_fingerprints(spark) -> None:
    """Literal bit-level pin of the v1 (md5) kernel — the same values the
    DuckDB oracle (dedup_simhash CORRECTNESS row) replays hex-digit-wise."""
    import pandas as pd

    from don_crawler_spark.operators.dedup import _simhash_batch, simhash_udf

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "frontier fetch schedule extract",
    ]
    golden = [1140598971862558276, 8669435089488450560]
    assert list(_simhash_batch(pd.Series(texts))) == golden
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r["s"] for r in df.select(simhash_udf(F.col("text")).alias("s")).collect()]
    assert got == golden


def test_simhash_v2_native_parity(spark) -> None:
    """simhash_v2 (JVM-native xxhash64 kernel, the crawl-path default)
    must match a from-scratch Python XXH64 replay bit-for-bit — including
    null/empty/whitespace and non-ASCII edges — and carry a literal golden
    pin of its own."""
    from don_crawler_spark.functions.hashing import xxhash64_bytes
    from don_crawler_spark.operators.dedup import simhash_native_col

    def replay(t: str | None) -> int:
        if not t:
            return 0
        # ordered first-occurrence dedup + the engine's SWAR lane-
        # overflow cap (operators/dedup.py _SWAR_MAX_TOKENS): the cap
        # is part of the v2 contract, so the replay mirrors it
        from don_crawler_spark.operators.dedup import _SWAR_MAX_TOKENS

        toks = list(dict.fromkeys(x for x in t.split(" ") if x))[
            :_SWAR_MAX_TOKENS
        ]
        if not toks:
            return 0
        votes = [0] * 64
        for w in toks:
            h = xxhash64_bytes(w.encode("utf-8")) & ((1 << 64) - 1)
            for j in range(64):
                votes[j] += 1 if (h >> j) & 1 else -1
        v = sum(1 << j for j in range(64) if votes[j] > 0)
        return v - (1 << 64) if v >= (1 << 63) else v

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "frontier fetch schedule extract",
        "",
        None,
        "   ",
        "tøken ünïcode ascii",
        " ".join(f"w{i % 37}" for i in range(400)),
        # over the SWAR lane cap (32767): engine and replay must agree
        # on the capped-prefix fingerprint, and the fold must not
        # overflow the signed-long top lane under ANSI
        " ".join(f"t{i}" for i in range(33000)),
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        r["s"] for r in df.select(simhash_native_col(F.col("text")).alias("s")).collect()
    ]
    assert got == [replay(t) for t in texts]
    # v2 golden literals (differ from v1's by design: versioned kernels)
    assert got[0] == 1649482817916862672
    assert got[1] == -9182236823180475388


def test_simhash_tokenless_docs_emit_no_pairs(spark) -> None:
    """Null/empty/whitespace-only docs all fingerprint to 0; they must be
    excluded from the band join (the oracle's token explode drops them),
    not emitted as C(k,2) Hamming-0 pairs."""
    from don_crawler_spark.operators.dedup import simhash_near_dup_pairs

    rows = [
        (1, "real content words here"),
        (2, "real content words here"),
        (3, ""),
        (4, None),
        (5, "   "),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_near_dup_pairs(docs, max_hamming=3).collect()
    }
    assert pairs == {(1, 2)}


def test_exact_dedup_keep_first(spark) -> None:
    from don_crawler_spark.operators.dedup import dedup_exact_keep_first

    rows = [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa"), (5, "ccc")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in dedup_exact_keep_first(docs).collect())
    assert kept == [1, 2, 5]


def test_multimodal_features_plumbing(spark) -> None:
    from don_crawler_spark.operators.multimodal import (
        FEATURE_DIM,
        extract_features,
        make_fake_media,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20)
    media = make_fake_media(docs)
    feats = extract_features(media).collect()
    assert len(feats) == 20
    for r in feats:
        assert r["n_bytes"] > 0
        assert len(r["features"]) == FEATURE_DIM
        assert all(0.0 <= v <= 1.0 for v in r["features"])
    # deterministic across runs
    again = extract_features(media).collect()
    assert sorted(map(tuple, feats)) == sorted(
        (r["media_id"], r["n_bytes"], r["features"]) for r in again
    )


def test_lsh_fine_buckets_on_clustered_embeddings(spark) -> None:
    """r3 VERDICT #6: n_bits=4 coarse buckets were needed only because
    the driver testdata's embeddings are near-uniform (sign-LSH's worst
    case). On CLUSTERED embeddings — the realistic regime the lsh_topk
    docstring claims — finer n_bits=8 buckets must recover recall >= 0.8
    at a fraction of the candidate cost. Fully deterministic fixture
    (sources/synth.clustered_embeddings_pdf), so the measured recall is a
    reproducible constant."""
    from don_crawler_spark.operators.similarity import brute_force_topk, lsh_topk
    from don_crawler_spark.sources.synth import clustered_embeddings_pdf

    pdf = clustered_embeddings_pdf(n_vectors=1500, n_clusters=25)
    pdf["embedding"] = pdf["embedding"].map(list)
    emb = spark.createDataFrame(pdf, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_topk(emb, queries, k=5, n_tables=8, n_bits=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"fine-bucket LSH recall too low on clustered data: {recall}"


def test_persist_shingles_row_identical(spark) -> None:
    """persist_shingles is a pure execution hint (MEMORY_AND_DISK persist
    of the exploded shingle relation, measured faster on the
    ``dedup_ngram`` query): rows must be identical to the
    recompute shape for both shingle-based dedup families."""
    from don_crawler_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    for mk in (
        lambda p: ngram_jaccard_pairs(
            docs, n=3, threshold=0.2, max_shingle_df=50, persist_shingles=p
        ),
        lambda p: minhash_lsh_pairs(
            docs, n=3, bands=8, verify_threshold=0.1, persist_shingles=p
        ),
    ):
        plain = sorted(map(tuple, mk(False).collect()))
        persisted = sorted(map(tuple, mk(True).collect()))
        assert plain == persisted
    spark.catalog.clearCache()


def test_persist_sim_row_identical(spark) -> None:
    """persist_sim on simhash_near_dup_pairs is likewise a pure execution
    hint (the fingerprint relation feeds both band-join sides; persisting
    runs the kernel once — BENCH/simhash_persist_probe.json): rows must be
    identical to the recompute shape."""
    from don_crawler_spark.operators.dedup import simhash_near_dup_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    plain = sorted(
        map(tuple, simhash_near_dup_pairs(docs, max_hamming=3).collect())
    )
    persisted = sorted(
        map(
            tuple,
            simhash_near_dup_pairs(docs, max_hamming=3, persist_sim=True).collect(),
        )
    )
    assert plain == persisted
    spark.catalog.clearCache()


def test_connected_components_multihop(spark) -> None:
    """Min-label propagation must close chains transitively (label travels
    one hop per round): a 5-node path, a triangle, and a disjoint pair
    must each collapse to their min doc_id, keep=True only there."""
    from don_crawler_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        # path 10-11-12-13-14 given as edges far from the min first,
        # so convergence genuinely needs multiple rounds
        [(13, 14), (12, 13), (11, 12), (10, 11),
         # triangle 20-21-22 (cycle: every node reaches min in 1 hop)
         (20, 21), (21, 22), (20, 22),
         # disjoint pair
         (30, 31)],
        "doc_a long, doc_b long",
    )
    got = {
        r.doc_id: (r.cluster_id, r.keep)
        for r in connected_components(pairs).collect()
    }
    assert got == {
        10: (10, True), 11: (10, False), 12: (10, False),
        13: (10, False), 14: (10, False),
        20: (20, True), 21: (20, False), 22: (20, False),
        30: (30, True), 31: (30, False),
    }


def test_connected_components_iteration_cap(spark) -> None:
    """max_iters bounds the rounds; an under-budget run still returns a
    valid partial labelling (labels only ever decrease toward the min)."""
    from don_crawler_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "doc_a long, doc_b long"
    )
    # diameter 5; 1 round cannot finish, labels must still be a
    # superset-of-singleton partition with min-monotone labels
    partial = {
        r.doc_id: r.cluster_id
        for r in connected_components(chain, max_iters=1).collect()
    }
    assert all(lbl <= v for v, lbl in partial.items())
    full = {
        r.doc_id: r.cluster_id for r in connected_components(chain).collect()
    }
    assert full == {v: 0 for v in range(6)}


def test_ivf_recall_and_determinism(spark, emb) -> None:
    """IVF-Flat (seed centroids, 16 cells, probe 4) must recover most
    brute-force neighbors — near-uniform vectors are the hard case and it
    measures ~0.9 at sf0.01 — and be exactly deterministic (pure column
    expressions, no randomness anywhere)."""
    from don_crawler_spark.operators.similarity import brute_force_topk, ivf_topk

    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    a = sorted(
        map(tuple, ivf_topk(emb, queries, k=5, n_centroids=16, n_probe=4).collect())
    )
    b = sorted(
        map(tuple, ivf_topk(emb, queries, k=5, n_centroids=16, n_probe=4).collect())
    )
    assert a == b
    approx = {(r[0], r[2]) for r in a}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, f"IVF recall too low: {recall}"


def test_ivf_assign_partitions_corpus(spark, emb) -> None:
    """Every vector lands in exactly one cell and cells cover the corpus
    (the no-cross-probe-dedup argument in ivf_topk relies on this)."""
    from don_crawler_spark.operators.similarity import ivf_assign

    assign = ivf_assign(emb, n_centroids=16).collect()
    assert len(assign) == emb.count()
    assert len({r["vec_id"] for r in assign}) == len(assign)
    assert {r["cell"] for r in assign} <= set(range(16))


def test_gemm_survives_downstream_projection(spark, emb) -> None:
    """Regression: a projection above the GEMM cogroup used to prune the
    right child to its key (Spark's self-relation dedup rewrote the UDF
    arg list to left-side attribute ids), KeyError-ing the kernel. The
    rhs re-alias in embedding_near_dup_pairs_gemm keeps both sides'
    attributes disjoint; selecting a column subset must work and agree
    with the full output."""
    from don_crawler_spark.operators.similarity import embedding_near_dup_pairs_gemm

    full = embedding_near_dup_pairs_gemm(emb, threshold=0.35)
    sub = sorted(map(tuple, full.select("vec_a", "vec_b").collect()))
    ref = sorted((r["vec_a"], r["vec_b"]) for r in full.collect())
    assert sub == ref and len(sub) > 0


# --- incremental (cross-snapshot) dedup -----------------------------------------


def test_dedup_incremental_classifies_exact_near_novel(spark) -> None:
    """Crafted snapshot pair: byte-copy -> exact_dup (matching the
    SMALLEST corpus holder), shared-shingle overlap -> near_dup,
    disjoint vocabulary -> novel; every new doc keeps exactly one row."""
    from don_crawler_spark.operators.dedup import dedup_incremental

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),  # in-corpus twin of 1
            (3, "one two three four five six seven"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta"),      # exact copy
            (11, "one two three four five six seven extra1"), # near (superset)
            (12, "pp qq rr ss tt uu vv"),                     # novel
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_incremental(new, corpus).collect()}
    assert len(out) == 3
    assert out[10]["status"] == "exact_dup"
    assert out[10]["match_id"] == 1  # min corpus doc wins over its twin 2
    assert out[11]["status"] == "near_dup"
    assert out[11]["match_id"] == 3
    assert out[12]["status"] == "novel"
    assert out[12]["match_id"] is None


def test_dedup_incremental_no_text_crosses_the_joins(spark) -> None:
    """Scale shape: the corpus collapses to fingerprint and (band, sig)
    relations before any join with the new batch — the join keys are
    hashes, so no Exchange in the plan carries the text column."""
    from don_crawler_spark.operators.dedup import dedup_incremental

    corpus = spark.createDataFrame(
        [(1, "a b c d e"), (2, "f g h i j")], "doc_id long, text string"
    )
    new = spark.createDataFrame([(9, "a b c d e")], "doc_id long, text string")
    plan = (
        dedup_incremental(new, corpus)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    for m in re.finditer(r"Exchange [^\n]*", plan):
        assert "text" not in m.group(0), m.group(0)


def test_semantic_dedup_matches_numpy_replay(spark, emb) -> None:
    """Drop rule replayed from scratch in numpy: assignment = top-1 seed
    centroid by cosine (tie -> lowest cell id), drop iff a same-cell
    neighbor with cosine >= tau ranks strictly lower by (cent_cos, id)."""
    import numpy as np

    from don_crawler_spark.operators.similarity import semantic_dedup

    tau, ncent = 0.35, 16
    rows = semantic_dedup(emb, n_centroids=ncent, threshold=tau).collect()

    pdf = emb.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy()
    vecs = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    vecs = vecs / np.sqrt((vecs * vecs).sum(axis=1))[:, None]
    cent_rows = np.flatnonzero(ids < ncent)
    cent_ids = ids[cent_rows]
    order = np.argsort(cent_ids)
    cent_ids, cent_rows = cent_ids[order], cent_rows[order]
    sims = vecs @ vecs[cent_rows].T  # (n, n_cent), cols sorted by cell id
    best = sims.argmax(axis=1)  # argmax takes first max -> lowest cell id
    cell = {int(i): int(cent_ids[b]) for i, b in zip(ids, best)}
    cc = {int(i): float(sims[r, best[r]]) for r, i in enumerate(ids)}

    pair = vecs @ vecs.T
    expect_keep = {}
    for r, i in enumerate(ids):
        i = int(i)
        dropped = any(
            int(j) != i
            and cell[int(j)] == cell[i]
            and pair[r, s] >= tau
            and (cc[int(j)], int(j)) < (cc[i], i)
            for s, j in enumerate(ids)
        )
        expect_keep[i] = not dropped

    assert len(rows) == len(ids)
    for r in rows:
        assert r["keep"] == expect_keep[r["vec_id"]], r
        assert r["cell"] == cell[r["vec_id"]], r
        assert abs(r["cent_cos"] - cc[r["vec_id"]]) < 1e-5, r
    n_drop = sum(1 for r in rows if not r["keep"])
    assert 0 < n_drop < len(rows)  # the threshold actually bites


def test_semantic_dedup_plan_shape(spark, emb) -> None:
    """Centroids broadcast; the pair join is a real equi-join on cell
    (never a nested-loop cartesian); no Python in the DAG."""
    from don_crawler_spark.operators.similarity import semantic_dedup

    plan = semantic_dedup(emb)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan  # the centroid cross join only
    assert plan.count("CartesianProduct") == 0
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )  # cell-keyed pair join is an equi-join
    assert "EvalPython" not in plan


def test_cluster_representative_keeps_best_quality(spark) -> None:
    """Policy semantics on crafted docs: within a near-dup cluster the
    kept member is the highest-quality one (not the min id), singletons
    are always kept, and exactly one doc is kept per cluster."""
    from don_crawler_spark.operators.dedup import dedup_cluster_representative

    # docs 1 and 2 are near-identical long docs; doc 2 ends with richer
    # punctuation/stopword structure -> strictly higher heuristic quality
    base = "the quick brown fox jumps over a lazy dog near the old river bank " * 6
    docs = spark.createDataFrame(
        [
            (1, base + "plain tail words here"),
            (2, base + "and the end, of it."),
            (3, "entirely different content about unrelated topics only"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in dedup_cluster_representative(docs).collect()}
    assert len(rows) == 3
    assert rows[1]["cluster_id"] == rows[2]["cluster_id"] == 1
    assert rows[3]["cluster_id"] == 3 and rows[3]["keep"]
    assert rows[2]["quality"] > rows[1]["quality"]
    assert rows[2]["keep"] and not rows[1]["keep"]  # best quality wins, not min id


# --- product quantization (PQ-ADC) -------------------------------------------


def test_pq_codes_shape_and_self_encode(spark, emb) -> None:
    """Every code vector is m_sub entries in [0, n_codes); a codeword
    vector PQ-encodes to itself in every subspace (its subdistance is an
    exact 0.0 — the same float subtracted from itself — so the strict-<
    argmin keeps it)."""
    from don_crawler_spark.operators.similarity import pq_encode

    enc = pq_encode(emb, m_sub=8, sub_dim=8, n_codes=16).collect()
    assert len(enc) == emb.count()
    for r in enc:
        assert len(r["codes"]) == 8
        assert all(0 <= c < 16 for c in r["codes"])
    own = {r["vec_id"]: list(r["codes"]) for r in enc if r["vec_id"] < 16}
    assert own == {v: [v] * 8 for v in range(16)}


def test_pq_adc_recall_and_contract(spark, emb) -> None:
    """ADC top-10 vs exact squared-L2 top-10 (numpy replay): 16 seed
    codewords on near-uniform synthetic vectors are PQ's worst case
    (like LSH's), measured mean recall 0.34 — floor just under it. Also
    pins the output contract: dense ascending ranks, ascending
    distances, no self-matches, deterministic across runs."""
    import numpy as np

    from don_crawler_spark.operators.similarity import pq_adc_topk

    queries = emb.filter(F.col("vec_id") < 5)
    got = pq_adc_topk(emb, queries, k=10).collect()
    again = pq_adc_topk(emb, queries, k=10).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))

    pdf = emb.select("vec_id", "embedding").toPandas()
    V = np.stack(pdf["embedding"].values).astype(np.float64)
    ids = pdf["vec_id"].values
    recalls = []
    for qid in range(5):
        qvec = V[np.where(ids == qid)[0][0]]
        dist = ((V - qvec) ** 2).sum(axis=1)
        order = np.lexsort((ids, dist))
        exact = [int(ids[j]) for j in order if ids[j] != qid][:10]
        rows = sorted((r for r in got if r["query_id"] == qid), key=key)
        assert [r["rank"] for r in rows] == list(range(1, 11))
        dists = [r["adc_dist"] for r in rows]
        assert dists == sorted(dists)
        assert all(r["neighbor_id"] != qid for r in rows)
        recalls.append(
            len(set(exact) & {r["neighbor_id"] for r in rows}) / 10
        )
    mean = sum(recalls) / len(recalls)
    assert mean >= 0.25, f"PQ-ADC recall too low: {recalls}"


def test_ivf_pq_candidates_come_from_probed_cells(spark, emb) -> None:
    """IVF-PQ's pruning contract: every returned neighbor lives in one
    of its query's n_probe probed cells (replayed via ivf_assign), and
    for a shared (query, neighbor) pair the ADC distance equals the
    unpruned pq_adc_topk's — composition changes the candidate set, not
    the scoring."""
    from don_crawler_spark.operators.similarity import (
        ivf_assign,
        ivf_pq_topk,
        pq_adc_topk,
    )

    queries = emb.filter(F.col("vec_id") < 5)
    got = ivf_pq_topk(emb, queries, k=10, n_probe=4).collect()
    cells = {
        r["vec_id"]: r["cell"] for r in ivf_assign(emb, 16).collect()
    }
    # replay the probe set: top-4 cells per query by cosine (same
    # centroid convention), via the unpruned scorer's membership
    full = {
        (r["query_id"], r["neighbor_id"]): r["adc_dist"]
        for r in pq_adc_topk(emb, queries, k=10**6).collect()
    }
    probed: dict[int, set] = {}
    for r in got:
        probed.setdefault(r["query_id"], set()).add(
            cells[r["neighbor_id"]]
        )
        assert full[(r["query_id"], r["neighbor_id"])] == r["adc_dist"]
    for qid, cset in probed.items():
        assert len(cset) <= 4, f"query {qid} drew from {len(cset)} cells"


def test_pq_finer_subspaces_on_clustered_embeddings(spark) -> None:
    """PQ analogue of the LSH fine-buckets test: on CLUSTERED embeddings
    the registered 8x8/16-codeword config reads recall 0.18 — seed
    codewords' quantization error is comparable to within-cluster
    distances, so within-cluster ranking collapses (the regime classic
    FAISS fixes with residual encoding / trained codebooks). Finer
    subspaces recover it with the SAME operator: measured means on the
    deterministic fixture are 0.73 at 32x2/64 codes (32 B/vector, 8x
    compression) and 0.89 at 64x1/64 codes (scalar-quantization limit,
    64 B/vector) — floors pinned just under."""
    import numpy as np

    from don_crawler_spark.operators.similarity import pq_adc_topk
    from don_crawler_spark.sources.synth import clustered_embeddings_pdf

    pdf = clustered_embeddings_pdf(n_vectors=1500, n_clusters=25)
    V = np.stack(pdf["embedding"].values)
    pdf = pdf.copy()
    pdf["embedding"] = pdf["embedding"].map(list)
    emb = spark.createDataFrame(pdf, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 10)

    exact = {}
    for qid in range(10):
        dist = ((V - V[qid]) ** 2).sum(axis=1)
        order = np.argsort(dist, kind="stable")
        exact[qid] = {int(j) for j in order if j != qid}

    def mean_recall(m_sub, sub_dim, n_codes):
        got = pq_adc_topk(
            emb, queries, k=10, m_sub=m_sub, sub_dim=sub_dim,
            n_codes=n_codes,
        ).collect()
        per = []
        for qid in range(10):
            mine = {r["neighbor_id"] for r in got if r["query_id"] == qid}
            top = {
                int(j)
                for j in sorted(
                    exact[qid],
                    key=lambda i: (((V[i] - V[qid]) ** 2).sum(), i),
                )[:10]
            }
            per.append(len(mine & top) / 10)
        return sum(per) / len(per)

    assert mean_recall(32, 2, 64) >= 0.7
    assert mean_recall(64, 1, 64) >= 0.85


def test_ivf_pq_precomputed_index_is_identical(spark, emb) -> None:
    """The production path — passing the stored (codes, cells) index
    relations — returns exactly the inline-derived results."""
    from don_crawler_spark.operators.similarity import (
        ivf_assign,
        ivf_pq_topk,
        pq_encode,
    )

    queries = emb.filter(F.col("vec_id") < 5)
    inline = ivf_pq_topk(emb, queries, k=10).collect()
    stored = ivf_pq_topk(
        emb,
        queries,
        k=10,
        index=(pq_encode(emb), ivf_assign(emb, 16)),
    ).collect()
    assert sorted(map(tuple, inline)) == sorted(map(tuple, stored))


def test_containment_catches_quote_inclusion_jaccard_misses(spark) -> None:
    from don_crawler_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "alpha beta gamma delta epsilon"
    page = quote + " " + " ".join(f"w{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, quote), (2, page)], "doc_id long, text string"
    )
    cont = ngram_containment_pairs(docs, tau_permille=800).collect()
    assert len(cont) == 1
    r = cont[0]
    # the quote's 3 shingles are all inside the page
    assert (r["doc_a"], r["doc_b"], r["shared"], r["na"]) == (1, 2, 3, 3)
    assert r["contained_doc"] == 1
    # Jaccard at 0.5 structurally misses the same pair
    assert ngram_jaccard_pairs(docs, threshold=0.5).count() == 0


def test_containment_permille_boundary_is_exact(spark) -> None:
    from don_crawler_spark.operators.dedup import ngram_containment_pairs

    # doc 1 has 5 shingles (7 tokens), 4 shared with doc 2: exactly
    # 800 permille — the >= boundary must include it
    d1 = "a b c d e f g"
    d2 = "a b c d e f x " + " ".join(f"y{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, d1), (2, d2)], "doc_id long, text string"
    )
    hit = ngram_containment_pairs(docs, tau_permille=800).collect()
    assert [(r["shared"], r["na"]) for r in hit] == [(4, 5)]
    # one permille tighter and the pair is out — no float fuzz
    assert ngram_containment_pairs(docs, tau_permille=801).count() == 0


def test_containment_tie_names_doc_a(spark) -> None:
    from don_crawler_spark.operators.dedup import ngram_containment_pairs

    docs = spark.createDataFrame(
        [(7, "p q r s"), (9, "p q r s")], "doc_id long, text string"
    )
    r = ngram_containment_pairs(docs, tau_permille=1000).collect()[0]
    assert (r["na"], r["nb"], r["contained_doc"]) == (2, 2, 7)


def test_mime_sniff_edges(spark) -> None:
    from don_crawler_spark.operators.multimodal import mime_sniff

    rows = [
        (0, bytes.fromhex("524946462400000057454250565038")),  # RIFF+WEBP
        (1, bytes.fromhex("52494646240000004A554E4B")),  # RIFF, unknown form
        (2, b"<HTML><body>x</body>"),  # upper-case html probe
        (3, b"\x1f"),  # truncated: one magic byte is not gzip
        (4, b""),  # empty payload degrades, never errors
        (5, bytes.fromhex("474946383761") + b"rest"),  # GIF87a variant
    ]
    df = spark.createDataFrame(rows, "id int, data binary")
    got = {
        r["id"]: (r["mime"], r["media_class"])
        for r in df.select("id", *mime_sniff(F.col("data"))).collect()
    }
    assert got[0] == ("image/webp", "image")
    assert got[1] == ("application/octet-stream", "binary")
    assert got[2] == ("text/html", "text")
    assert got[3] == ("application/octet-stream", "binary")
    assert got[4] == ("application/octet-stream", "binary")
    assert got[5] == ("image/gif", "image")


def test_mime_sniff_plan_is_map_side(spark) -> None:
    from don_crawler_spark.operators.multimodal import make_fake_media, mime_sniff
    from don_crawler_spark.sources.tables import load

    media = make_fake_media(
        load(spark, "/root/testdata/sf0.001", "documents", respread=False)
    )
    plan = (
        media.select("media_id", *mime_sniff(F.col("payload")))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
