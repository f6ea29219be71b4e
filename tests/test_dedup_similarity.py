"""Behavioral tests for dedup + similarity operators on synthetic
near-duplicates (the driver oracle checks value parity; these check the
operators actually FIND what they should)."""

import pytest
from pyspark.sql import functions as F

from osm_public_space_mapper_spark.operators import dedup as DD
from osm_public_space_mapper_spark.operators import similarity as SIM


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    variant = base.replace("lazy", "sleepy")  # near-dup of base
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, "  THE   quick brown fox jumps over the lazy dog near the old river bank today "),  # normalized dup
        (4, variant),  # near dup
        (5, "completely different text about spark shuffles and partitions and skew handling"),
        (6, "another unrelated document mentioning raster tiles and cell indexes and joins"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_groups(docs):
    out = {r.keep_doc_id: r.n_dups for r in DD.exact_dedup(docs).collect()}
    assert out[1] == 3  # docs 1,2,3 share a fingerprint
    assert out[4] == 1 and out[5] == 1 and out[6] == 1


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in DD.ngram_jaccard_pairs(docs, 3, 0.4).collect()}
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 3)] == 1.0
    assert (1, 4) in pairs and 0.5 < pairs[(1, 4)] < 1.0
    assert (1, 5) not in pairs and (5, 6) not in pairs


def test_minhash_lsh_finds_near_dup(docs):
    pairs = {(r.doc_a, r.doc_b) for r in DD.minhash_lsh_pairs(docs, 3, 0.5).collect()}
    assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
    assert (1, 4) in pairs  # near-dup caught by at least one band
    assert not any(5 in p or 6 in p for p in pairs)


def test_simhash_close_for_near_dups(docs):
    sh = {r.doc_id: r.simhash for r in DD.simhash64(docs, bits=32).collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert sh[1] == sh[2] == sh[3]
    assert hamming(sh[1], sh[4]) <= 6
    assert hamming(sh[1], sh[5]) > 6


def test_ann_recall_vs_bruteforce(spark):
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = SIM.brute_force_topk(emb, queries, k=5).collect()
    approx = SIM.ann_lsh_topk(emb, queries, k=5, n_bits=4, dim=64, multiprobe=1).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q]) for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.5  # 8-bit LSH + multiprobe-1 recall floor
    # rank-1 result always includes the query itself (cosine 1.0)
    for q, s in approx_sets.items():
        assert q in s


def test_hot_shingle_cap_bounds_skew(spark):
    """Adversarial stopword-heavy fixture: every doc shares the same prefix,
    so its shingles have document frequency = n_docs — the self-join key
    that goes quadratic at scale. With max_df set below n_docs the hot
    shingles are dropped from BOTH the join and the set sizes; similarity
    then comes only from the unique tails (none here → no pairs), while the
    uncapped run pairs everything. A numpy oracle checks the capped
    semantics exactly."""
    n = 40
    prefix = "the of and is a to in it on at"
    rows = [(i, f"{prefix} unique{i} tail{i} word{i}") for i in range(n)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    uncapped = DD.ngram_jaccard_pairs(docs, n=3, threshold=0.3, max_df=None).collect()
    assert len(uncapped) == n * (n - 1) // 2  # hot prefix pairs everyone

    capped = DD.ngram_jaccard_pairs(docs, n=3, threshold=0.01, max_df=n - 1).collect()
    # oracle over the capped universe: shared shingles all exceed the cap,
    # tails are unique → zero intersection → no qualifying pairs at all
    assert capped == []

    # cap above the hot df → identical to uncapped (inert-guard contract)
    inert = DD.ngram_jaccard_pairs(docs, n=3, threshold=0.3, max_df=n + 1).collect()
    assert sorted((r.doc_a, r.doc_b, r.jaccard) for r in inert) == sorted(
        (r.doc_a, r.doc_b, r.jaccard) for r in uncapped
    )


def test_hot_lsh_bucket_salted_pairing(spark):
    """Adversarial degenerate corpus: near-identical docs all hash to the
    SAME (band, sig) bucket in every band — the d² single-task blowup the
    max_bucket guard exists for. Unlike ngram's max_df (which drops hot keys
    and changes semantics), the salted block-grid re-pairing must return the
    IDENTICAL exact pair set as the plain self-join, just spread across
    bounded groups."""
    n = 60
    base = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod"
    # identical text → identical shingle sets → every bucket holds all n docs
    rows = [(i, base) for i in range(n)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    plain = DD.minhash_lsh_pairs(docs, n=3, jaccard_threshold=0.5, max_bucket=n + 1).collect()
    assert len(plain) == n * (n - 1) // 2  # all-pairs at jaccard 1.0

    salted = DD.minhash_lsh_pairs(docs, n=3, jaccard_threshold=0.5, max_bucket=10).collect()
    assert sorted((r.doc_a, r.doc_b, r.jaccard) for r in salted) == sorted(
        (r.doc_a, r.doc_b, r.jaccard) for r in plain
    )


def test_simhash_hot_bucket_salted_pairing(spark):
    """Adversarial near-identical corpus for the hamming-band join: every doc
    has the SAME 64-bit fingerprint, so all n docs land in one (band, key)
    bucket in every band — the d² single-task blowup. The salted guard must
    return the identical exact pair set as the unguarded self-join."""
    n = 60
    base = "pack my box with five dozen liquor jugs while the quick onyx goblin"
    docs = spark.createDataFrame([(i, base) for i in range(n)], ["doc_id", "text"])

    plain = DD.simhash_hamming_pairs(docs, max_bucket=n + 1).collect()
    assert len(plain) == n * (n - 1) // 2 and all(r.hamming == 0 for r in plain)

    salted = DD.simhash_hamming_pairs(docs, max_bucket=10).collect()
    assert sorted((r.doc_a, r.doc_b, r.hamming) for r in salted) == sorted(
        (r.doc_a, r.doc_b, r.hamming) for r in plain
    )


def test_salted_blocks_bound_group_sizes(spark):
    """The scale contract of the guard itself: on a degenerate corpus no
    (bucket, block-pair) join group — i.e. no single task's self-join input —
    exceeds a small multiple of max_bucket, even though the bucket holds
    every doc. (Blocks are hash-assigned, so allow 4× slack over the ideal
    2·max_bucket for imbalance at this small n.)"""
    n, cap = 500, 20
    base = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod"
    docs = spark.createDataFrame([(i, base) for i in range(n)], ["doc_id", "text"])
    sh = DD.simhash64(docs)
    bands = sh.select(
        "doc_id",
        F.lit(0).alias("band"),
        F.col("simhash").bitwiseAND(F.lit(0xFFFF)).alias("key"),
    )
    grp = (
        DD._salted_blocks(bands, ["band", "key"], cap)
        .groupBy("band", "key", "blk_a", "blk_b")
        .agg(F.count("*").alias("rows_in_group"))
    )
    sizes = [r.rows_in_group for r in grp.collect()]
    assert max(sizes) <= 4 * cap
    # and the blocks really partitioned the bucket: many groups, not one
    assert len(sizes) > n // cap


def test_no_persistent_rdds_after_dedup_queries(spark, docs):
    """The r04 pairing operators are cache-free single plans (VERDICT r03
    item 4): after evaluating each, no persistent RDD/cache block may remain
    registered with the context."""
    spark.catalog.clearCache()
    # assert no NEW pinned RDDs (r06: the session-scoped layer fixture
    # legitimately holds the overlay-records localCheckpoints for the
    # session's lifetime — the dedup queries themselves must not add any)
    jsc = spark.sparkContext._jsc
    before = {int(k) for k in jsc.getPersistentRDDs().keys()}
    DD.minhash_lsh_pairs(docs, 3, 0.5).collect()
    DD.ngram_jaccard_pairs(docs, 3, 0.4).collect()
    DD.simhash_hamming_pairs(docs).collect()
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    DD.embedding_dups(emb, threshold=0.99).collect()
    after = {int(k) for k in jsc.getPersistentRDDs().keys()}
    assert after - before == set()


def test_embedding_block_pairs_upper_triangle(spark):
    """embedding_dups' block-pair table is every (bi, bj) with bi <= bj < nb,
    as two int columns."""
    for nb in (1, 2, 5):
        pairs = DD._block_pairs(spark, nb)
        assert pairs.dtypes == [("bi", "int"), ("bj", "int")]
        assert sorted(map(tuple, pairs.collect())) == [(i, j) for i in range(nb) for j in range(i, nb)]


def test_minhash_pairs_plan_reuses_exchange(spark, docs):
    """Both self-join sides are one subplan: the physical plan must contain a
    ReusedExchange (signature kernel runs once) and, being fully declarative,
    building the query must launch zero Spark jobs."""
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    df = DD.minhash_lsh_pairs(docs, 3, 0.5)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "query construction must not run driver-side jobs"
    df.collect()
    # AQE stage-level reuse resolves at execution: the final plan must carry
    # a ReusedExchange covering the banded-profiles subtree (the Arrow
    # signature kernel executes once, not once per self-join side)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan and "ReusedExchange" in plan


def test_ivf_recall_vs_bruteforce(spark):
    """IVF-flat (k-means lists + nprobe probing) recall@5 vs exact top-k."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0).selectExpr(
        "vec_id AS query_id", "embedding"
    )
    exact = SIM.brute_force_topk(emb, queries, k=5).collect()
    approx = SIM.ivf_topk(emb, queries, k=5, n_lists=16, nprobe=4).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q]) for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.6  # nprobe=4/16 recall floor
    for q, s in approx_sets.items():
        assert q in s  # the query itself is always its own top hit


def test_ivf_training_deterministic_across_partitioning(spark):
    """The k-means sample is a TakeOrdered top-n by vec_id, so centroids —
    and therefore the whole IVF result — must be identical no matter how the
    input is partitioned (the two-cluster-size determinism contract; the r02
    bare .limit() sample depended on partition order)."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    variants = [emb.repartition(3), emb.repartition(32, "vec_id"), emb.coalesce(1)]
    cents = [SIM.train_ivf_centroids(v, n_lists=16, sample=512) for v in variants]
    assert cents[0] == cents[1] == cents[2]

    queries = emb.filter(F.col("vec_id") % 100 == 0).selectExpr(
        "vec_id AS query_id", "embedding"
    )
    results = [
        sorted(
            (r.query_id, r.vec_id, r.rank)
            for r in SIM.ivf_topk(v, queries, k=5, n_lists=16, nprobe=4, sample=512).collect()
        )
        for v in variants[:2]
    ]
    assert results[0] == results[1]


def test_ivf_persisted_index_matches_inline_and_prunes(spark, tmp_path):
    """build_ivf_index → ivf_topk_indexed must return exactly the inline
    ivf_topk result (same trained centroids, shared assignment kernel), and
    the probe read must scan ONLY the probed lists' parquet files
    (manifest-level partition pruning — the inverted-list layout's point)."""
    from osm_public_space_mapper_spark.tables.icelite import IceliteTable

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 200 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    params = dict(n_lists=16, sample=512, iters=5, seed=42)
    path = str(tmp_path / "ivf_index")
    SIM.build_ivf_index(emb, path, **params)

    inline = SIM.ivf_topk(emb, queries, k=5, nprobe=4, train=True,
                          n_lists=16, sample=512, iters=5, seed=42)
    indexed = SIM.ivf_topk_indexed(spark, path, queries, k=5, nprobe=4)
    key = lambda r: (r.query_id, r.rank, r.vec_id, r.cosine)
    assert sorted(map(key, indexed.collect())) == sorted(map(key, inline.collect()))

    # pruning: the probed partitions are a strict subset of the 16 lists,
    # and the scan's input files are exactly those partitions' files
    tbl = IceliteTable(path)
    manifests = tbl.lineage()
    all_parts = {m["partition"] for m in manifests}
    assert len(all_parts) > 4  # corpus spread over many lists
    cents = SIM.load_ivf_centroids(path)
    import pandas as pd
    qp = SIM._ivf_assign_series(cents, pd.Series([r.embedding for r in queries.collect()]), 4)
    probed = {str(p) for lst in qp for p in lst}
    assert len(probed) < len(all_parts)  # something actually pruned
    corpus = tbl.read(spark, partitions=sorted(probed))
    probed_files = {m["path"] for m in manifests if m["partition"] in probed}
    assert set(corpus.inputFiles()) == {f"file://{p}" for p in probed_files} or \
           set(corpus.inputFiles()) == probed_files


def test_salted_band_pairs_randomized_parity(spark):
    """Randomized contract check of the shared guard: for random band
    tables (skewed key distributions, several seeds) the salted pairing at
    a small cap must emit EXACTLY the brute-force within-bucket pair set,
    each pair once per bucket it co-occurs in."""
    import itertools

    import numpy as np

    for seed in (1, 7, 23):
        rng = np.random.RandomState(seed)
        n = 120
        rows = []
        for doc in range(n):
            for band in range(2):
                # Zipf-ish key skew: a few hot keys + a long tail
                key = int(rng.zipf(1.5)) % 6
                rows.append((doc, band, key, doc * 1000 + band))
        bands = spark.createDataFrame(rows, ["doc_id", "band", "key", "payload"])

        expected = set()
        by_bucket = {}
        for doc, band, key, _ in rows:
            by_bucket.setdefault((band, key), []).append(doc)
        for (band, key), docs_in in by_bucket.items():
            for a, b in itertools.combinations(sorted(docs_in), 2):
                expected.add((a, b, band))

        got_rows = DD.salted_band_pairs(
            bands, ["band", "key"], ["payload"], max_bucket=7
        ).collect()
        # the helper emits (ids, payloads) only; the band is recoverable
        # from the payload encoding payload = doc*1000 + band
        got = {(r.doc_a, r.doc_b, r.payload_a % 1000) for r in got_rows}
        assert got == expected, (seed, len(got), len(expected))
        # and EXACTLY once per co-bucket: no within-bucket duplicate rows
        assert len(got_rows) == len(expected), (seed, len(got_rows), len(expected))
        # payload alignment: payload_a always belongs to doc_a (same band
        # on both sides of a pair by construction)
        for r in got_rows:
            band = r.payload_a % 1000
            assert r.payload_a == r.doc_a * 1000 + band
            assert r.payload_b == r.doc_b * 1000 + band


def test_simhash_kernel_matches_expression_path(spark):
    """The r05 Arrow simhash kernel must be BIT-IDENTICAL to the pure
    expression path (simhash_frame) that streaming and the DuckDB oracle
    use — including NULL text (→ 0), empty text (the "" token), whitespace
    runs, unicode, and single-token docs — at 64 and at narrower widths."""
    import pandas as pd
    from pyspark.sql import types as T

    from osm_public_space_mapper_spark.operators import dedup as DD

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy dog",  # dup
        "The   Quick\tBrown\nfox  ",
        "",
        " ",
        None,
        "one",
        "größe straße ünïcode tökens",
        "a b c d e f g h i j k l m n o p q r s t u v w x y z",
        "punct, heavy! text? with; symbols: everywhere...",
    ]
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}), schema
    )
    for bits in (64, 16):
        kern = {r.doc_id: r.simhash for r in DD.simhash_kernel_frame(df, bits).collect()}
        expr = {r.doc_id: r.simhash for r in DD.simhash_frame(df, bits).collect()}
        assert kern == expr, (bits, {k: (kern[k], expr[k]) for k in kern if kern[k] != expr[k]})
    # the real corpus too: every sf0.001 document fingerprint identical
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kern = {r.doc_id: r.simhash for r in DD.simhash_kernel_frame(docs, 64).collect()}
    expr = {r.doc_id: r.simhash for r in DD.simhash_frame(docs, 64).collect()}
    assert kern == expr and len(kern) > 0


def test_repetition_stats_handcrafted(spark):
    """Gopher repetition signals on handcrafted docs — covers the duplicate-
    line branch the synthetic corpus never exercises (its docs have no
    repeated lines) and the <2-words NULL-bigram edge."""
    from osm_public_space_mapper_spark.functions.text import repetition_stats

    docs = spark.createDataFrame(
        [
            # 4 lines, 'spam ham' repeated twice (3 + once blank-padded)
            ("a", "spam ham\nunique line one\nspam ham\n\n  \nlast"),
            ("b", "one two one two one two"),  # top bigram 'two one'? ties
            ("c", "word"),                      # single word → NULL bigram
            ("d", ""),                          # empty doc
        ],
        "doc_id string, text string",
    )
    got = {r.doc_id: r.asDict() for r in repetition_stats(docs).collect()}

    a = got["a"]
    # lines after trim/drop-empty: ['spam ham','unique line one','spam ham','last']
    assert a["n_lines"] == 4
    assert a["dup_line_frac"] == round(1 / 4, 6)
    # chars: 8+15+8+4 = 35 total, distinct = 27 → 8/35
    assert a["dup_line_char_frac"] == round(8 / 35, 6)

    b = got["b"]
    assert b["n_lines"] == 1 and b["dup_line_frac"] == 0.0
    # bigrams: 'one two' x3, 'two one' x2 → top is 'one two' (higher count)
    assert b["top_bigram"] == "one two"
    # word chars = 6*3 = 18; each occurrence covers len('one two')-1 = 6
    # word chars → cnt * 6 / 18 = 1.0 (overlapping occurrences may exceed 1)
    assert b["top_bigram_frac"] == 1.0

    c = got["c"]
    assert c["top_bigram"] is None and c["top_bigram_frac"] == 0.0

    d = got["d"]
    assert d["n_lines"] == 0 and d["dup_line_frac"] == 0.0 and d["dup_line_char_frac"] == 0.0


def test_top_bigram_lowercase_matches_jvm_lower(spark):
    """The bigram kernel lowercases with Python `str.lower`, the word-char
    sum in the plan with JVM `lower`: they must agree on the Unicode cases
    where lowercasing is context- or length-changing (dotted capital I,
    final sigma, titlecase digraph, fullwidth letter, capital sharp s)."""
    from collections import Counter

    from osm_public_space_mapper_spark.functions.text import _top_bigram_kernel

    texts = ["İSTANBUL İSTANBUL", "ΟΔΟΣ ΟΔΟΣ ΟΔΟΣ", "ǅemal ǅEMAL ǅemal", "ＡＢ ａｂ ＡＢ", "ẞTRASSE ẞ ẞTRASSE ẞ"]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    jvm = [r.lo for r in docs.orderBy("doc_id").select(F.lower("text").alias("lo")).collect()]
    assert jvm == [t.lower() for t in texts]
    got = {r.doc_id: (r.bigram, r.cnt) for r in _top_bigram_kernel(docs, "doc_id", "text").collect()}
    for doc_id, lo in enumerate(jvm):
        words = lo.split()
        c = Counter(a + " " + b for a, b in zip(words, words[1:]))
        assert got[doc_id] == max(c.items(), key=lambda kv: (kv[1], kv[0])), (doc_id, lo)


def test_quality_gate_handcrafted(spark):
    """Gate edge cases the synthetic corpus never hits: a doc failing
    multiple rules (reasons alphabetical, comma-joined), a clean doc
    (keep=True, reasons=''), and an empty doc."""
    from osm_public_space_mapper_spark.functions.text import quality_gate

    # 60 DISTINCT 5-letter words — repetition signals near zero, mwl = 5
    clean = " ".join(f"w{chr(97 + i // 26)}{chr(97 + i % 26)}xy" for i in range(60))
    docs = spark.createDataFrame(
        [
            ("ok", clean),
            ("short", "tiny doc"),               # n_words fail only? alpha ok, mwl ok
            ("bad", "!!! ??? ### " * 40),        # alpha + mean_word_len + n_words(?)
            ("empty", ""),
        ],
        "doc_id string, text string",
    )
    got = {r.doc_id: r.asDict() for r in quality_gate(docs, min_words=10).collect()}

    assert got["ok"]["keep"] is True and got["ok"]["reasons"] == ""
    assert got["short"]["keep"] is False
    assert "n_words" in got["short"]["reasons"]
    bad = got["bad"]["reasons"].split(",")
    assert bad == sorted(bad) and "alpha" in bad
    assert got["empty"]["keep"] is False


def test_corpus_line_dedup_handcrafted(spark):
    """First occurrence of a corpus-repeated line survives (min (doc_id,
    line_no)), rare lines always survive, an all-boilerplate doc rebuilds
    to '' (not NULL), order inside a doc preserved."""
    from osm_public_space_mapper_spark.operators.dedup import corpus_line_dedup

    docs = spark.createDataFrame(
        [
            ("a", "cookie banner\nreal content A\ncookie banner"),
            ("b", "cookie banner\nreal content B"),
            ("c", "cookie banner"),
            ("d", ""),
        ],
        "doc_id string, text string",
    )
    got = {r.doc_id: r.asDict() for r in corpus_line_dedup(docs).collect()}

    a = got["a"]
    # 'cookie banner' appears 4x corpus-wide; keeper is (a, 0)
    assert a["n_lines"] == 3 and a["n_kept"] == 2 and a["n_removed"] == 1
    assert a["kept_text"] == "cookie banner\nreal content A"
    b = got["b"]
    assert b["n_kept"] == 1 and b["kept_text"] == "real content B"
    c = got["c"]
    assert c["n_kept"] == 0 and c["kept_text"] == "" and c["n_removed"] == 1
    d = got["d"]
    assert d["n_lines"] == 0 and d["n_kept"] == 0 and d["kept_text"] == ""


def test_corpus_token_topk_deterministic(spark):
    """rank follows (cnt DESC, token ASC); ties broken alphabetically; k
    truncates."""
    from osm_public_space_mapper_spark.functions.text import corpus_token_topk

    docs = spark.createDataFrame(
        [("1", "b b b a a c"), ("2", "a c d")],
        "doc_id string, text string",
    )
    rows = corpus_token_topk(docs, k=3).orderBy("rank").collect()
    assert [(r.token, r.cnt, r.rank) for r in rows] == [("a", 3, 1), ("b", 3, 2), ("c", 2, 3)]


def test_semantic_dedup_matches_numpy(spark):
    """semantic_dedup vs a from-first-principles numpy replica (same
    centroid assignment semantics: round-6 cosine, stable tie-break; same
    within-cluster threshold; union-find components with min-id canon)."""
    import numpy as np

    from osm_public_space_mapper_spark.operators.dedup import semantic_dedup

    rng = np.random.default_rng(7)
    base = rng.normal(size=(12, 16))
    rows, vid = [], 0
    for b in base:
        # 2-5 near-copies of each base vector + some lone vectors
        for _ in range(int(rng.integers(2, 6))):
            v = b + rng.normal(scale=0.01, size=16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for _ in range(10):
        rows.append((vid, [float(x) for x in rng.normal(size=16)]))
        vid += 1

    cents = [[float(x) for x in c] for c in rng.normal(size=(4, 16))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: (r.list_id, r.cluster_id, r.keep)
           for r in semantic_dedup(df, threshold=0.98, centroids=cents).collect()}

    # numpy replica
    m = np.array([r[1] for r in rows], dtype=np.float64)
    ids = np.array([r[0] for r in rows])
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    c = np.asarray(cents)
    cn = c / np.linalg.norm(c, axis=1, keepdims=True)
    assign = np.argsort(-np.round(mn @ cn.T, 6), axis=1, kind="stable")[:, 0]

    parent = {int(i): int(i) for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for lid in set(assign.tolist()):
        sel = np.where(assign == lid)[0]
        sub = mn[sel]
        cos = np.round(sub @ sub.T, 6)
        for i in range(len(sel)):
            for j in range(i + 1, len(sel)):
                if cos[i, j] >= 0.98:
                    a, b = find(int(ids[sel[i]])), find(int(ids[sel[j]]))
                    if a != b:
                        parent[max(a, b)] = min(a, b)

    want = {int(i): (int(assign[k]), find(int(i)), find(int(i)) == int(i))
            for k, i in enumerate(ids)}
    assert got == want
    # sanity: dedup actually happened, and every group kept exactly one
    assert sum(1 for v in got.values() if not v[2]) > 10
    roots = {}
    for vec, (_, cid, keep) in got.items():
        roots.setdefault(cid, []).append(keep)
    assert all(sum(ks) == 1 for ks in roots.values())


# ---------------------------------------------------------------------------
# product quantization (PQ)
# ---------------------------------------------------------------------------


def test_pq_encode_matches_numpy(spark):
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cb = SIM.seed_pq_codebooks(emb, m=8, ksub=16)
    got = {r.vec_id: r.codes for r in SIM.pq_encode(emb, cb).collect()}

    rows = emb.orderBy("vec_id").collect()
    v = np.array([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    want_codes = SIM._pq_encode_matrix(v, np.asarray(cb))
    want = {r.vec_id: list(want_codes[i]) for i, r in enumerate(rows)}
    assert got == want
    # codebook shape contract and the seed identity: vector j quantizes to
    # code j in every subspace with zero error (it IS a codebook entry)
    assert np.asarray(cb).shape == (8, 16, 8)
    for j in range(16):
        assert got[rows[j].vec_id] == [j] * 8


def test_pq_topk_matches_numpy_adc(spark):
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cb = SIM.seed_pq_codebooks(emb, m=8, ksub=16)
    got = {
        (r.query_id, r.rank): (r.vec_id, r.adist_micro)
        for r in SIM.pq_topk(emb, queries, cb, k=5).collect()
    }

    cbm = np.asarray(cb)
    rows = emb.orderBy("vec_id").collect()
    v = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    ids = np.array([r.vec_id for r in rows])
    codes = SIM._pq_encode_matrix(v, cbm)
    qrows = [r for r in rows if r.vec_id % 100 == 0]
    want = {}
    for qr in qrows:
        q = np.asarray(qr.embedding, dtype=np.float64).reshape(8, 8)
        lut = SIM._pq_micro(((q[:, None, :] - cbm) ** 2).sum(-1))  # (8, 16)
        adist = lut[np.arange(8)[:, None], codes.T].sum(axis=0)
        order = np.lexsort((ids, adist))
        for rank, i in enumerate(order[:5], start=1):
            want[(qr.vec_id, rank)] = (int(ids[i]), int(adist[i]))
    assert got == want


def test_pq_trained_beats_seed_distortion_and_recalls(spark):
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    seed_cb = np.asarray(SIM.seed_pq_codebooks(emb, m=8, ksub=16))
    train_cb = np.asarray(SIM.train_pq_codebooks(emb, m=8, ksub=16, sample=500, iters=8))

    rows = emb.orderBy("vec_id").collect()
    v = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    ids = np.array([r.vec_id for r in rows])

    def distortion(cbm):
        sub = v.reshape(len(v), 8, 8)
        d = ((sub[:, :, None, :] - cbm[None]) ** 2).sum(-1)
        return d.min(axis=2).sum()

    assert distortion(train_cb) < 0.8 * distortion(seed_cb)

    # recall@5 of trained-PQ ADC vs exact L2 top-5 — at 16×32 the measured
    # recall is ~0.68 on this table; 0.5 is the regression floor
    fine_cb = SIM.train_pq_codebooks(emb, m=16, ksub=32, sample=500, iters=8)
    got = {}
    for r in SIM.pq_topk(emb, queries, fine_cb, k=5).collect():
        got.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = []
    for qr in [r for r in rows if r.vec_id % 100 == 0]:
        q = np.asarray(qr.embedding, dtype=np.float64)
        exact_d = ((v - q) ** 2).sum(axis=1)
        top = set(ids[np.lexsort((ids, exact_d))[:5]].tolist())
        recalls.append(len(top & got[qr.vec_id]) / 5.0)
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_ivfpq_index_prunes_and_recalls(spark, tmp_path):
    """IVF-PQ: the probed scan reads ONLY nprobe lists' files, scoring uses
    only stored codes (no embedding column in the index), results match a
    numpy IVF+ADC reference exactly, and recall@5 vs exact L2 stays above
    the regression floor."""
    import numpy as np

    from osm_public_space_mapper_spark.operators.similarity import (
        _ivf_assign_series,
        _pq_encode_matrix,
        _pq_micro,
        build_ivfpq_index,
        ivfpq_topk,
        train_ivf_centroids,
        train_pq_codebooks,
    )
    from osm_public_space_mapper_spark.tables.icelite import IceliteTable

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, path, n_lists=8, m=16, ksub=32, sample=500, iters=8)
    assert "embedding" not in IceliteTable(path).read(spark).columns

    out = ivfpq_topk(spark, path, queries, k=5, nprobe=3)
    got = {(r.query_id, r.rank): (r.vec_id, r.adist_micro) for r in out.collect()}
    # pruning evidence: the scan under the result touches ≤ 3 lists' files
    probed_files = {f for f in out.inputFiles() if "/data/" in f}
    all_files = {m_["path"] for m_ in IceliteTable(path).lineage()}
    assert 0 < len(probed_files) < len(all_files)

    # numpy reference: same centroids/codebooks (deterministic trainers)
    cents = train_ivf_centroids(emb, 8, 500, 8)
    books = np.asarray(train_pq_codebooks(emb, 16, 32, 500, 8))
    rows = emb.orderBy("vec_id").collect()
    v = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    ids = np.array([r.vec_id for r in rows])
    lists = np.array(
        [a[0] for a in _ivf_assign_series(cents, __import__("pandas").Series(list(v)), 1)]
    )
    codes = _pq_encode_matrix(v, books)
    want = {}
    recalls = []
    for qr in [r for r in rows if r.vec_id % 100 == 0]:
        qv = np.asarray(qr.embedding, dtype=np.float64)
        probe = set(
            _ivf_assign_series(cents, __import__("pandas").Series([qv]), 3)[0]
        )
        mask = np.isin(lists, list(probe))
        lut = _pq_micro(((qv.reshape(16, 4)[:, None, :] - books) ** 2).sum(-1))
        adist = lut[np.arange(16)[:, None], codes[mask].T].sum(axis=0)
        sel_ids = ids[mask]
        order = np.lexsort((sel_ids, adist))
        for rank, i in enumerate(order[:5], start=1):
            want[(qr.vec_id, rank)] = (int(sel_ids[i]), int(adist[i]))
        exact_d = ((v - qv) ** 2).sum(axis=1)
        top = set(ids[np.lexsort((ids, exact_d))[:5]].tolist())
        approx = {int(sel_ids[i]) for i in order[:5]}
        recalls.append(len(top & approx) / 5.0)
    assert got == want
    assert sum(recalls) / len(recalls) >= 0.4, recalls
