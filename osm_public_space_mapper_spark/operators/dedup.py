"""Deduplication operators over the `documents` table (training-data pipeline
ops the task brief requires as first-class components).

All are shuffle-conscious compositions of built-in DataFrame ops:

exact_dedup          hash-groupBy on a normalized-content fingerprint
minhash_lsh_pairs    shingle → portable minhash (k seeds) → band → bucket
                     equi-join → verified Jaccard — the classic MinHash+LSH
                     plan: candidates come from band-bucket joins only, never
                     a cross join
ngram_jaccard_pairs  exact n-gram Jaccard via shingle-explode equi-join
simhash64            bit-vote fingerprint over token hashes (hamming dedup)
embedding_dups       cosine near-duplicate pairs over `embeddings`

Hashes are md5-derived (functions/text.hash64) so the DuckDB oracle can
reproduce them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import doc_fingerprint, hash64, shingles

MINHASH_PERMS = 12
MINHASH_BANDS = 4  # rows per band = 12/4 = 3
# 30-bit universe keeps a·x + b < 2^61 — identical (non-overflowing) int64
# arithmetic in Spark and the DuckDB oracle
MINHASH_MASK = (1 << 30) - 1
MINHASH_PRIME = 1073741789  # largest prime < 2^30
_SEED_A = 48271
_SEED_B = 40503


def minhash_params(perm: int) -> tuple[int, int]:
    a = (_SEED_A * (perm + 1)) % MINHASH_PRIME
    if a == 0:
        a = 1
    b = (_SEED_B * (perm + 7)) % MINHASH_PRIME
    return a, b


def exact_dedup(documents: DataFrame) -> DataFrame:
    """One survivor (min doc_id) per normalized-content fingerprint."""
    return (
        documents.withColumn("fp", doc_fingerprint(F.col("text")))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_dups"))
    )


def _spread(documents: DataFrame) -> DataFrame:
    """Small doc tables often arrive as one parquet row-group = one partition;
    shingling/minhashing are interpreted higher-order expressions (no codegen
    for lambdas), so spread rows across the session's parallelism first."""
    n_part = int(documents.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return documents.repartition(n_part, "doc_id")


def doc_shingle_profiles(documents: DataFrame, n: int = 3) -> DataFrame:
    """doc_id → (minhashes array<long>[MINHASH_PERMS], shh array<long> of
    distinct shingle hashes) in ONE Arrow mapInPandas pass.

    The r01 plan built shingles/minhashes with higher-order Catalyst
    expressions — transform/array_min lambdas are interpreted (no codegen)
    and dominated the bench at 14 s/sf0.1. This numpy kernel does
    normalize → shingle → md5-hash → 12 permutation minima per doc in one
    batch, keeping the md5-derived hash values bit-identical to
    functions/text.hash64 (and so to the DuckDB oracle).

    Normalization parity with the expression path (and oracle):
    trim = strip ASCII spaces only (Spark's trim), then lower, then collapse
    Java \\s = [ \\t\\n\\x0b\\f\\r] runs to one space."""
    import re
    from hashlib import md5

    import numpy as np
    import pandas as pd

    a_params = np.array([minhash_params(p)[0] for p in range(MINHASH_PERMS)], dtype=np.int64)
    b_params = np.array([minhash_params(p)[1] for p in range(MINHASH_PERMS)], dtype=np.int64)
    ws_re = re.compile(r"[ \t\n\x0b\f\r]+")

    def _profiles(batches):
        for pdf in batches:
            ids, sigs, shhs = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if not isinstance(text, str):
                    # NULL text → zero shingles, matching the null-safe
                    # Catalyst expression path this kernel replaced
                    continue
                norm = ws_re.sub(" ", text.strip(" ").lower())
                words = norm.split(" ")
                m = len(words) - n + 1
                if m <= 0:
                    continue
                hs = np.fromiter(
                    (
                        int(md5(" ".join(words[i : i + n]).encode("utf-8")).hexdigest()[:15], 16)
                        for i in range(m)
                    ),
                    dtype=np.int64,
                    count=m,
                )
                masked = hs & MINHASH_MASK
                sig = ((masked[None, :] * a_params[:, None] + b_params[:, None]) % MINHASH_PRIME).min(axis=1)
                ids.append(doc_id)
                sigs.append(sig)
                shhs.append(np.unique(hs))
            yield pd.DataFrame({"doc_id": ids, "minhashes": sigs, "shh": shhs})

    return _spread(documents).select("doc_id", "text").mapInPandas(
        _profiles, "doc_id long, minhashes array<long>, shh array<long>"
    )


def doc_minhashes(documents: DataFrame, n: int = 3) -> DataFrame:
    """doc_id → array of MINHASH_PERMS minhash values (portable hashes)."""
    return doc_shingle_profiles(documents, n).select("doc_id", "minhashes")


def _salted_blocks(bands: DataFrame, keys: list[str], max_bucket: int,
                   id_col: str = "doc_id") -> DataFrame:
    """The salted/exploded side of `salted_band_pairs` — split out so tests
    can assert the per-(keys, blk_a, blk_b) join-group sizes stay bounded on
    a degenerate corpus. Adds bn (bucket size via window count — the same
    shuffle the self-join needs, no probe job), g salt blocks, s = the doc's
    block, t = the exploded partner block, and the group key
    (blk_a, blk_b) = (min(s,t), max(s,t)).

    Skew note: the window count funnels each bucket into one task with no
    map-side partial aggregation — the price of the single-plan/no-probe-job
    design. A bucket's rows must fit one task's memory (they must anyway:
    the subsequent self-join groups on the same keys). If a pathological
    bucket ever bites, a two-pass groupBy-count + broadcast join restores
    partial aggregation at the cost of a second kernel pass."""
    w = Window.partitionBy(*keys)
    return (
        bands.withColumn("bn", F.count("*").over(w))
        .withColumn(
            "g",
            F.greatest(F.lit(1), F.ceil(F.col("bn") / F.lit(max_bucket))).cast("int"),
        )
        .withColumn("s", F.pmod(F.xxhash64(id_col), F.col("g")).cast("int"))
        .withColumn("t", F.explode(F.sequence(F.lit(0), F.col("g") - 1)))
        .withColumn("blk_a", F.least("s", "t"))
        .withColumn("blk_b", F.greatest("s", "t"))
    )


def salted_band_pairs(
    bands: DataFrame,
    keys: list[str],
    payload: list[str],
    max_bucket: int,
    id_col: str = "doc_id",
    keep_keys: bool = False,
) -> DataFrame:
    """Exact unordered within-bucket pairs with a DECLARATIVE hot-bucket
    guard — one plan, zero driver-side actions.

    `bands` holds one row per (doc_id, *keys) bucket membership plus
    `payload` columns to carry onto the pair rows. Every bucket's pair set
    comes out exactly once per (keys) bucket, but no task ever self-joins
    more than ~2·max_bucket rows:

    - a window count over `keys` gives the bucket size bn (same shuffle the
      self-join needs anyway — no probe job, no broadcast of hot keys);
    - g = max(1, ceil(bn/max_bucket)) salt blocks; each doc lands in block
      s = hash(doc_id) mod g and is exploded to the g block-pair groups
      (a, b) = (min(s,t), max(s,t)) it participates in;
    - the self-join key is keys + (a, b). Diagonal groups (a == b) pair by
      doc_id < doc_id; off-diagonal groups pair the block-a role
      (s <= t) against the block-b role (s > t) — roles are salt-fixed, so
      ids are ordered with least/greatest afterwards (an l<r filter here
      would drop the cross-block pairs whose left id is larger).

    g = 1 (every bucket under the cap — the common case) degenerates to the
    plain bucket self-join: one diagonal group per bucket, no row
    duplication, and the whole guard costs only the window count. Both join
    sides are the SAME subplan, so Spark reuses the shuffle exchange
    (ReusedExchange) — upstream work (e.g. a mapInPandas signature kernel)
    executes once, not twice.

    Returns (doc_a, doc_b, <p>_a, <p>_b ...) with doc_a < doc_b (by the
    id column's natural ordering — `id_col` may be any orderable type, e.g.
    string image ids) and payload aligned to the ordered ids; a pair appears
    once per bucket it co-occurs in. Cross-bucket dedup is the caller's:
    either a groupBy, or — cheaper, no extra Exchange — an emit-at-first-band
    filter over the carried fingerprints (pass keep_keys=True to get the key
    columns on the pair rows for that)."""
    salted = _salted_blocks(bands, keys, max_bucket, id_col)
    l, r = salted.alias("l"), salted.alias("r")
    lid, rid = F.col(f"l.{id_col}"), F.col(f"r.{id_col}")
    diag = F.col("blk_a") == F.col("blk_b")
    keep = F.when(diag, lid < rid).otherwise(
        (F.col("l.s") <= F.col("l.t")) & (F.col("r.s") > F.col("r.t"))
    )
    swap = lid < rid
    out_cols = [
        F.least(lid, rid).alias("doc_a"),
        F.greatest(lid, rid).alias("doc_b"),
    ]
    for p in payload:
        out_cols.append(F.when(swap, F.col(f"l.{p}")).otherwise(F.col(f"r.{p}")).alias(f"{p}_a"))
        out_cols.append(F.when(swap, F.col(f"r.{p}")).otherwise(F.col(f"l.{p}")).alias(f"{p}_b"))
    if keep_keys:
        out_cols.extend(F.col(f"l.{k}").alias(k) for k in keys)
    return l.join(r, [*keys, "blk_a", "blk_b"]).filter(keep).select(*out_cols)


def minhash_lsh_pairs(
    documents: DataFrame,
    n: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket: int = 2000,
) -> DataFrame:
    """Candidate pairs via band-bucket join, verified with exact shingle
    Jaccard. Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.

    Single declarative plan (r04): the band rows carry each doc's distinct
    shingle-HASH array (8 B/shingle — never the raw strings), the salted
    band self-join (`salted_band_pairs`, bounded per-task even when a
    degenerate corpus floods one bucket) emits candidate pairs with both
    arrays attached, and the exact Jaccard verify is computed in place after
    an emit-at-first-matching-band dedup filter (r06 — no groupBy shuffle of
    the candidate pairs). No driver-side probe job (the r03
    `hot_keys.isEmpty()` guard cost a blocking pass over the banded corpus
    before the real join could plan), no `.cache()` (both self-join sides
    are one subplan → ReusedExchange runs the Arrow signature kernel once),
    and the guard is inert-by-construction at g = 1, so the DuckDB oracle
    output is unchanged.

    Carrying shh on the band rows multiplies band-shuffle payload by
    MINHASH_BANDS vs a separate verify join, but removes two joins, two full
    recomputes (or a cache) of the signature kernel, and all driver
    actions; at petabyte scale, stage `doc_shingle_profiles` to a table
    first and feed the bands from the scan."""
    profiles = doc_shingle_profiles(documents, n)
    rows_per_band = MINHASH_PERMS // MINHASH_BANDS

    def _band_sig(mh_col, b: int):
        # 8-byte band signature (xxhash64 of the band's minhash run) instead
        # of a 32-char md5 string: same bucket semantics up to hash
        # collisions, quarter the shuffle-key payload
        return F.xxhash64(
            F.concat_ws(
                ",",
                *[F.element_at(mh_col, b * rows_per_band + i + 1) for i in range(rows_per_band)],
            )
        )

    bands = profiles.select(
        "doc_id",
        "shh",
        F.array(*[_band_sig(F.col("minhashes"), b) for b in range(MINHASH_BANDS)]).alias(
            "sigs"
        ),
        F.explode(F.array(*[F.lit(b) for b in range(MINHASH_BANDS)])).alias("band"),
    ).select(
        "doc_id",
        "shh",
        "sigs",
        "band",
        F.element_at("sigs", F.col("band") + 1).alias("sig"),
    )
    pairs = salted_band_pairs(
        bands, ["band", "sig"], ["shh", "sigs"], max_bucket, keep_keys=True
    )
    # cross-band dedup WITHOUT a shuffle (r06): carry each doc's 4
    # precomputed band signatures (4 longs) on the pair rows and emit a
    # pair only from its first matching band — element_at comparisons in
    # codegen, no re-hashing. The same sig values decide bucketing and the
    # filter, so hash collisions stay consistent. This removes the groupBy
    # Exchange that used to shuffle every candidate pair twice over with
    # both full shingle-hash arrays as payload.
    first_band = F.when(
        F.element_at("sigs_a", 1) == F.element_at("sigs_b", 1), 0
    )
    for b in range(1, MINHASH_BANDS):
        first_band = first_band.when(
            F.element_at("sigs_a", b + 1) == F.element_at("sigs_b", b + 1), b
        )
    return (
        pairs.filter(F.col("band") == first_band)
        .withColumn("n_inter", F.size(F.array_intersect("shh_a", "shh_b")))
        .withColumn("n_union", F.size(F.array_union("shh_a", "shh_b")))
        .withColumn("jaccard", F.round(F.col("n_inter") / F.col("n_union"), 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs(
    documents: DataFrame, n: int = 3, threshold: float = 0.5, max_df: int | None = 1000
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs via shingle-explode equi-join
    (no LSH approximation; the oracle-checkable exact variant).

    max_df is the hot-shingle guard: a stopword-heavy shingle shared by d
    docs contributes d² rows to the self-join — quadratic per key at scale.
    Shingles with document frequency > max_df are dropped from BOTH the join
    and the per-doc set sizes (consistent Jaccard over the capped universe).
    The cap is inert when no shingle is hot (max df at sf0.1 is 25), so the
    oracle output is unchanged at test scale.

    Shingles are joined by their 60-bit md5 hash (from the Arrow profile
    kernel), not the raw strings: same Jaccard up to md5 collisions, 8 B/row
    join payload, and no interpreted higher-order expressions.

    Single declarative branch (r04): document frequency (the hot-shingle
    filter) and per-doc set size are window counts computed in line, and
    n_sh rides each exploded row into the self-join, so the per-doc sizes
    come out of the pair groupBy itself — no separate sizes/hot branches
    re-deriving the shingle kernel, no broadcast anti-join, no `.cache()`.
    Both self-join sides are the same subplan → ReusedExchange runs the
    Arrow kernel once.

    Skew note: the `df` window count puts every row of a hot shingle into
    one task (no map-side partials) — bounded by the same max_df-scale
    volume the join itself must hold per key, but a different skew profile
    than a groupBy count; if it bites, a two-pass groupBy-count + broadcast
    join of hot shingle hashes restores partial aggregation."""
    sh = doc_shingle_profiles(documents, n).select(
        "doc_id", F.explode("shh").alias("sh")
    )
    if max_df is not None:
        sh = (
            sh.withColumn("df", F.count("*").over(Window.partitionBy("sh")))
            .filter(F.col("df") <= max_df)
            .drop("df")
        )
    sh = sh.withColumn("n_sh", F.count("*").over(Window.partitionBy("doc_id")))
    return (
        sh.alias("l")
        .join(sh.alias("r"), "sh")
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .groupBy(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .agg(
            F.count("*").alias("n_inter"),
            F.first(F.col("l.n_sh")).alias("na"),
            F.first(F.col("r.n_sh")).alias("nb"),
        )
        .withColumn("jaccard", F.round(F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _bit_mask_lit(b: int):
    """int64 literal with bit b set — bit 63 is the sign bit, so its mask is
    the two's-complement −2^63 (a bare 1<<63 overflows LongType)."""
    return F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long")


def simhash_frame(documents: DataFrame, bits: int = 64, keep: list[str] | None = None) -> DataFrame:
    """(keep..., simhash) — the fingerprint computation shared by the batch
    simhash64 view and the streaming near-dup tombstone operator (streaming
    inputs skip the batch-only repartition spread). Pure Catalyst
    expressions: tokenize → distinct → per-bit vote → reconstruct."""
    keep = keep if keep is not None else ["doc_id"]
    src = documents if documents.isStreaming else _spread(documents)
    toks = src.select(
        *keep,
        F.transform(
            F.array_distinct(F.split(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " ")),
            hash64,
        ).alias("th"),
    )
    def _vote(bit: int):
        def merge(acc, h):
            return acc + F.when(h.bitwiseAND(_bit_mask_lit(bit)) != 0, 1).otherwise(-1)

        return merge

    votes = [
        F.aggregate(F.col("th"), F.lit(0), _vote(b)).alias(f"v{b}") for b in range(bits)
    ]
    v = toks.select(*keep, *votes)
    sim = F.lit(0).cast("long")
    for b in range(bits):
        sim = sim + F.when(F.col(f"v{b}") > 0, _bit_mask_lit(b)).otherwise(F.lit(0).cast("long"))
    return v.select(*keep, sim.alias("simhash"))


def simhash_band_keys_col(bits: int, n_bands: int, col_name: str = "simhash"):
    """array<struct<band,key>> of a 64-bit fingerprint column's contiguous
    band keys — shared between the batch hamming joins (text simhash, image
    phash) and the streaming tombstone operators."""
    band_width = bits // n_bands
    mask = (1 << band_width) - 1
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col(col_name), b * band_width)
                .bitwiseAND(F.lit(mask))
                .alias("key"),
            )
            for b in range(n_bands)
        ]
    )


def simhash_kernel_frame(
    documents: DataFrame, bits: int = 64, keep: list[str] | None = None
) -> DataFrame:
    """(keep..., simhash) via ONE Arrow mapInPandas numpy pass — the batch
    twin of `simhash_frame`'s expression path, bit-identical by
    construction and pinned by tests/test_dedup_similarity.py.

    The expression path builds `bits` separate interpreted F.aggregate
    lambdas (no codegen) — one full array traversal per bit per document,
    the exact anti-pattern whose minhash twin was kernelized in r02
    (doc_shingle_profiles). Here all 64 bit-votes come out of one
    (tokens × 64) numpy bit matrix per document: normalize → tokenize →
    distinct → md5 hash64 (cached per task: token vocabularies are Zipfian,
    the hot tokens hash once) → popcount columns → vote sign → fingerprint.

    Parity contract with simhash_frame / the DuckDB oracle:
    - normalization: strip ASCII spaces (Spark trim), lower, collapse Java
      \\s = [ \\t\\n\\x0b\\f\\r] runs to one space, split on single spaces
      (empty text yields the single "" token, same as F.split)
    - distinct tokens vote once each; bit set iff vote strictly > 0
    - NULL text → simhash 0 (null votes fall through F.when's otherwise)"""
    import re
    from hashlib import md5

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    keep = keep if keep is not None else ["doc_id"]
    ws_re = re.compile(r"[ \t\n\x0b\f\r]+")
    shifts = np.arange(bits, dtype=np.uint64)
    token_cache: dict[str, int] = {}

    def _h(tok: str) -> int:
        v = token_cache.get(tok)
        if v is None:
            v = int(md5(tok.encode("utf-8")).hexdigest()[:15], 16)
            if len(token_cache) < 1_000_000:  # bound task memory
                token_cache[tok] = v
        return v

    def _fps(batches):
        for pdf in batches:
            fps = np.zeros(len(pdf), dtype=np.int64)
            for i, text in enumerate(pdf["text"].to_numpy()):
                if not isinstance(text, str):
                    continue  # NULL text → 0, matching the expression path
                toks = set(ws_re.sub(" ", text.strip(" ").lower()).split(" "))
                hs = np.fromiter((_h(t) for t in toks), dtype=np.int64, count=len(toks))
                bitm = (hs.astype(np.uint64)[:, None] >> shifts[None, :]) & np.uint64(1)
                votes = 2 * bitm.sum(axis=0, dtype=np.int64) - len(hs)
                val = int(((votes > 0).astype(np.uint64) << shifts).sum())
                # two's complement into int64 (bit 63 unreachable with 60-bit
                # token hashes, but keep bits=64 semantics exact)
                fps[i] = val - (1 << 64) if val >= 1 << 63 else val
            out = pdf[keep].copy()
            out["simhash"] = fps
            yield out

    schema = T.StructType(
        [documents.schema[c] for c in keep] + [T.StructField("simhash", T.LongType())]
    )
    return _spread(documents).select(*keep, "text").mapInPandas(_fps, schema)


def simhash64(documents: DataFrame, bits: int = 64) -> DataFrame:
    """Bit-vote SimHash over word-token hashes (portable md5-derived).

    Default widened to the full 64 bits (r04): 64-bit fingerprints are what
    makes 16-bit hamming bands (simhash_hamming_pairs) selective at scale —
    the Manku/Jain/Sarma block-permute regime.

    r05: batch inputs run the Arrow numpy kernel (`simhash_kernel_frame`,
    one pass, all bit-votes from one bit matrix); streaming inputs keep the
    pure-expression `simhash_frame` (mapInPandas batch paths and the stream
    operator state layout differ; the two are bit-identical and pinned by a
    parity test plus the driver's hash-checked oracle rows)."""
    if documents.isStreaming:
        return simhash_frame(documents, bits)
    return simhash_kernel_frame(documents, bits)


def embedding_dups(
    embeddings: DataFrame,
    threshold: float = 0.95,
    block_size: int = 256,
    n_blocks: int | None = None,
) -> DataFrame:
    """Exact cosine near-duplicate pairs (vec_a < vec_b, cos ≥ threshold)
    via a block-grid matmul join — no cartesian/nested-loop node in the plan.

    Vectors get a hash block id (nb blocks); the tiny upper-triangle
    block-pair table broadcasts; each vector is shuffled to the ≤nb+1
    block-pair groups it participates in, and one Arrow kernel scores each
    group with a single BLAS matmul. Shuffle volume is O(N·nb) rows (vs the
    O(N²) a `vec_id < vec_id` theta join ships through a nested-loop join);
    the O(N²/P) FLOPs per group are inherent to *exact* low-threshold
    all-pairs and run at matmul speed, not per-pair expression interpretation.
    This mirrors the block approach of mllib's columnSimilarities/DIMSUM.

    n_blocks: callers at scale should size this ≈ N/block_size. When omitted
    it derives from plan metadata only (no `.count()` job): the larger of
    the scan's partition count, the session's core count, and a bytes-based
    bound sizeInBytes / (block_size · row_bytes_hint) that keeps block_size
    an UPPER bound on expected rows per block even when a single 128 MB
    partition holds hundreds of thousands of embedding rows (one block =
    one task's dense matmul — unbounded rows per block is task-OOM at
    scale).

    row_bytes_hint: assumed serialized bytes per embedding row for the
    bytes-based bound (default 512 ≈ a 64–128-dim float vector + id;
    parquet float columns compress ~1:1)."""
    if n_blocks is None:
        est_bytes = int(embeddings._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        row_bytes_hint = 512
        # clamp the bytes-derived term: stats on a non-scan input can be a
        # wild overestimate (join default is petabytes), and the broadcast
        # block-pair table is O(n_blocks²) rows — 1024 blocks ≈ 525k pairs
        # (~4 MB broadcast) and 1024·block_size rows is already past where
        # exact all-pairs should yield to an approximate method
        by_bytes = min(1024, -(-est_bytes // max(1, block_size * row_bytes_hint)))  # ceil div
        n_blocks = max(
            embeddings.rdd.getNumPartitions(),
            embeddings.sparkSession.sparkContext.defaultParallelism,
            by_bytes,
        )
    nb = n_blocks
    spark = embeddings.sparkSession
    e = embeddings.select("vec_id", "embedding").withColumn(
        "blk", F.pmod(F.xxhash64("vec_id"), F.lit(nb)).cast("int")
    )
    pair_rows = [(i, j) for i in range(nb) for j in range(i, nb)]
    pairs = spark.createDataFrame(pair_rows, "bi int, bj int")
    lhs = e.join(F.broadcast(pairs), e.blk == pairs.bi).select(
        "bi", "bj", F.lit(0).alias("role"), "vec_id", "embedding"
    )
    rhs = e.join(F.broadcast(pairs), (e.blk == pairs.bj) & (pairs.bi != pairs.bj)).select(
        "bi", "bj", F.lit(1).alias("role"), "vec_id", "embedding"
    )
    both = lhs.unionByName(rhs)

    import numpy as np
    import pandas as pd

    thr = float(threshold)

    def _score(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"vec_a": pd.Series(dtype="int64"),
                              "vec_b": pd.Series(dtype="int64"),
                              "cosine": pd.Series(dtype="float64")})
        if pdf.empty:
            return empty
        same = pdf["bi"].iat[0] == pdf["bj"].iat[0]
        left = pdf[pdf["role"] == 0]
        right = pdf[pdf["role"] == 1]
        # guard BEFORE np.stack: a group holding only one role (empty hash
        # block, or n_blocks larger than the populated block count) must
        # yield no pairs, not an np.stack ValueError
        if left.empty or (not same and right.empty):
            return empty
        ids_l = left["vec_id"].to_numpy()
        ml = np.stack(left["embedding"].to_numpy()).astype(np.float64)
        ml /= np.linalg.norm(ml, axis=1, keepdims=True)
        if same:
            ids_r, mr = ids_l, ml
        else:
            ids_r = right["vec_id"].to_numpy()
            mr = np.stack(right["embedding"].to_numpy()).astype(np.float64)
            mr /= np.linalg.norm(mr, axis=1, keepdims=True)
        s = ml @ mr.T
        ii, jj = np.nonzero(s >= thr)
        if same:
            keep = ids_l[ii] < ids_r[jj]
            ii, jj = ii[keep], jj[keep]
        a, b = ids_l[ii], ids_r[jj]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({"vec_a": lo, "vec_b": hi, "cosine": s[ii, jj]})

    out = both.groupBy("bi", "bj").applyInPandas(
        _score, "vec_a long, vec_b long, cosine double"
    )
    return out.select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))


def hamming_fp_pairs(
    fps: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "simhash",
    bits: int = 64,
    max_hamming: int = 3,
    n_bands: int = 4,
    max_bucket: int = 2000,
) -> DataFrame:
    """Exact hamming-≤max_hamming pairs over ANY 64-bit fingerprint column —
    the shared banded join of `simhash_hamming_pairs` (text) and
    `imageops.image_phash_dups` (image pHash): pigeonhole band equi-join
    (a pair within hamming h < n_bands agrees on ≥1 whole contiguous band)
    through the declarative salted hot-bucket guard, then one
    xor + bit_count verify. Returns (doc_a, doc_b, hamming) with
    doc_a < doc_b by the id column's natural ordering."""
    if max_hamming >= n_bands:
        raise ValueError("exactness requires max_hamming < n_bands (pigeonhole)")
    bands = fps.select(
        F.col(id_col),
        F.col(fp_col),
        F.explode(simhash_band_keys_col(bits, n_bands, fp_col)).alias("bk"),
    ).select(
        id_col, fp_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    pairs = salted_band_pairs(
        bands, ["band", "key"], [fp_col], max_bucket, id_col=id_col, keep_keys=True
    )
    # cross-band dedup WITHOUT a shuffle (r06): a pair agreeing on several
    # bands surfaces once per band; instead of a groupBy over every candidate
    # pair row, emit it only from its FIRST matching band — computable per
    # row from the carried fingerprints (pure codegen), since band b matches
    # iff the b-th `bw`-bit slices of the two fps are equal. Removes one full
    # Exchange + HashAggregate from the plan; output set identical.
    bw = bits // n_bands
    mask = (1 << bw) - 1
    fa, fb = F.col(f"{fp_col}_a"), F.col(f"{fp_col}_b")

    def _slice_eq(b: int):
        return (
            F.shiftrightunsigned(fa, b * bw).bitwiseAND(F.lit(mask))
            == F.shiftrightunsigned(fb, b * bw).bitwiseAND(F.lit(mask))
        )

    first_band = F.when(_slice_eq(0), 0)
    for b in range(1, n_bands):
        first_band = first_band.when(_slice_eq(b), b)
    return (
        pairs.filter(F.col("band") == first_band)
        .withColumn("hamming", F.bit_count(fa.bitwiseXOR(fb)))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_hamming_pairs(
    documents: DataFrame,
    bits: int = 64,
    max_hamming: int = 3,
    n_bands: int = 4,
    max_bucket: int = 2000,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance ≤ max_hamming.

    Banded exact search: the `bits`-bit fingerprint splits into `n_bands`
    contiguous bands; a pair within hamming h < n_bands must agree on at
    least one whole band (pigeonhole), so a band-value equi-join finds ALL
    qualifying pairs with max_hamming = n_bands − 1 — no cross join, no
    recall loss. Verification is one xor + bit_count.

    Scale posture (r04 — closes the r03 scale-killer): defaults are 64-bit
    fingerprints in 4 bands of 16 bits (the Manku-style block regime). The
    r03 32-bit/8-bit-band defaults gave only 256 band keys, so every bucket
    held ~N/256 docs and the band self-join was quadratic on ANY large
    corpus. 16-bit keys give 65 536 buckets per band — and residual hot
    buckets (a genuinely near-identical cluster, or low-entropy fingerprint
    bands on templated text) are bounded by the same salted block-grid
    guard as minhash_lsh_pairs (`salted_band_pairs`): no task self-joins
    more than ~2·max_bucket rows, exact pair set unchanged, guard cost at
    g = 1 is just the window count."""
    return hamming_fp_pairs(
        simhash64(documents, bits), "doc_id", "simhash",
        bits=bits, max_hamming=max_hamming, n_bands=n_bands, max_bucket=max_bucket,
    )


def corpus_line_dedup(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """C4-style corpus-level duplicate line removal (Raffel et al. 2020,
    §2.2 'we discarded all but one of any ... occurring more than once in
    the data set', applied at line granularity — the standard web-corpus
    boilerplate cut: nav bars, cookie banners, footers repeat VERBATIM
    across millions of pages).

    A trimmed non-empty line occurring ``>= min_count`` times corpus-wide
    survives only at its first occurrence (minimum ``(doc_id, line_no)``);
    rarer lines always survive. Returns one row per input document:
    ``(doc_id, n_lines, n_kept, n_removed, kept_text)`` with ``kept_text``
    the surviving trimmed lines re-joined by newline in original order
    (docs whose every line was cut — or that had none — keep an empty
    string, never NULL).

    Scale shape: explode is map-side; the line-key groupBy is ONE
    partial-aggregated shuffle whose hot keys are exactly the boilerplate
    lines being hunted — partial aggregation collapses them map-side, so no
    task ever holds a hot line's full occurrence list (the window-function
    formulation would; see the skew note on ``_salted_blocks``). The
    keeper join shuffles by line key, the rebuild by doc_id — both AQE
    skew-splittable. Nothing is collected; line payloads cross the wire
    once each way."""
    text = F.col(text_col)
    n_lines_expr = F.size(
        F.expr(f"filter(transform(split({text_col}, '\\n'), x -> trim(x)), x -> length(x) > 0)")
    ).cast("long")
    base = documents.select(
        F.col(id_col).alias("doc_id"), n_lines_expr.alias("n_lines"), text.alias("_t")
    )
    ex = (
        base.select(
            "doc_id",
            F.posexplode(F.split(F.col("_t"), "\n")).alias("line_no", "raw"),
        )
        .select("doc_id", "line_no", F.trim("raw").alias("line"))
        .where(F.length("line") > 0)
    )
    keys = ex.groupBy("line").agg(
        F.count("*").alias("cnt"),
        F.min(F.struct("doc_id", "line_no")).alias("keeper"),
    )
    kept = ex.join(keys, "line").where(
        (F.col("cnt") < min_count)
        | ((F.col("doc_id") == F.col("keeper.doc_id")) & (F.col("line_no") == F.col("keeper.line_no")))
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_no", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("kept_text"),
    )
    return (
        base.select("doc_id", "n_lines")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
            (F.col("n_lines") - F.coalesce("n_kept", F.lit(0).cast("long"))).alias("n_removed"),
            F.coalesce("kept_text", F.lit("")).alias("kept_text"),
        )
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_lists: int = 16,
    sample: int = 2048,
    iters: int = 10,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    train: bool = True,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means partition the
    embedding space, then within each cluster drop all but one of every
    group of vectors with pairwise cosine ≥ threshold. The design tradeoff
    vs exact `embedding_dups` is explicit: pairs straddling a k-means
    boundary are MISSED, in exchange for pair search that never leaves a
    cluster — the standard recipe for semantic dedup at 10^9+ vectors.

    Returns one row per input vector: ``(vec_id, list_id, cluster_id,
    keep)`` — ``cluster_id`` is the minimum vec_id of the vector's
    semantic-dup group (its own id when it has no dups) via the same
    large-star/small-star connected components as `dup_clusters`, and
    ``keep`` is true exactly for the canonical minimum of each group.

    Scale shape: assignment is the broadcast-centroid Arrow kernel shared
    with `ivf_topk` (map-only). Within-cluster scoring is ONE matmul per
    cluster in applyInPandas, so ``n_lists`` is the task-size dial — size
    it ≈ N/10^4 as SemDeDup itself does (its LAION runs use tens of
    thousands of clusters); the per-cluster matmul is then bounded
    independent of N. Components iterate only over dup-pair edges (a tiny
    subset). Nothing is collected but the (bounded) k-means sample.

    Determinism: assignment ranks by ROUND(cosine, 6) with list-id
    tie-break (shared `_ivf_assign_series` kernel); pair threshold compares
    ROUND(cosine, 6) ≥ threshold; both sides of ties in the component id
    are resolved by minimum vec_id — reruns and repartitionings produce
    identical keep sets."""
    import numpy as np
    import pandas as pd

    from .graph import connected_components
    from .similarity import corpus_list_udf, train_ivf_centroids

    from .similarity import seed_ivf_centroids

    if centroids is None:
        centroids = (
            train_ivf_centroids(embeddings, n_lists, sample, iters, seed)
            if train
            else seed_ivf_centroids(embeddings, n_lists)
        )

    corpus = embeddings.select("vec_id", "embedding").withColumn(
        "list_id", corpus_list_udf(centroids)(F.col("embedding"))
    )

    thr = float(threshold)

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"vec_a": pd.Series(dtype="int64"),
                              "vec_b": pd.Series(dtype="int64")})
        if len(pdf) < 2:
            return empty
        ids = pdf["vec_id"].to_numpy()
        m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        m /= norms
        cos = np.round(m @ m.T, 6)
        ia, ib = np.where(np.triu(cos >= thr, k=1))
        a, b = ids[ia], ids[ib]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({"vec_a": lo.astype("int64"), "vec_b": hi.astype("int64")})

    pairs = corpus.groupBy("list_id").applyInPandas(
        _pairs, "vec_a long, vec_b long"
    )
    comp = connected_components(pairs, "vec_a", "vec_b").withColumnRenamed(
        "node", "vec_id"
    )
    return (
        corpus.select("vec_id", "list_id")
        .join(comp, "vec_id", "left")
        .select(
            "vec_id",
            "list_id",
            F.coalesce("component", F.col("vec_id")).cast("long").alias("cluster_id"),
            (F.coalesce("component", F.col("vec_id")) == F.col("vec_id")).alias("keep"),
        )
    )
