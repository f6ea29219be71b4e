"""Similarity search over the `embeddings` table (array<float> column).

brute_force_topk  exact cosine top-k per query — the correctness baseline,
                  one Arrow pass per corpus partition that keeps only its
                  top-k per query
ann_lsh_topk      the scale path: sign-random-projection LSH buckets; queries
                  probe only their bucket (+ multiprobe neighbors), then exact
                  re-rank inside the candidate set. Recall measured in tests.

At 100 TB the brute-force variant is a deliberately-broadcast query-side
(queries are small) against a partitioned corpus — no corpus shuffle at all;
the LSH variant turns the join into a bucket equi-join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _seq_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot products with STRICT left-to-right summation order —
    bit-identical to DuckDB's list_dot_product loop, unlike BLAS matmul
    whose pairwise/FMA summation can drift below the 1e-6 rounding the
    oracles compare at. cumsum is sequential by definition; vectorized
    across rows."""
    return np.cumsum(a * b, axis=1)[:, -1]


def cosine6_udf():
    """Cosine of two array columns, rounded to 6 places, in one numpy pass
    per Arrow batch: sequential product sums, double sqrt, round-6 — the
    arithmetic and order of the DuckDB oracle's list_dot_product form."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.DoubleType())
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if not len(a):
            return pd.Series(np.zeros(0))
        ma = np.stack(a.to_numpy()).astype(np.float64)
        mb = np.stack(b.to_numpy()).astype(np.float64)
        dot = _seq_dot(ma, mb)
        na = np.sqrt(_seq_dot(ma, ma))
        nb = np.sqrt(_seq_dot(mb, mb))
        return pd.Series(np.round(dot / (na * nb), 6), index=a.index)

    return _cos


def brute_force_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """queries(query_id, embedding) × corpus(vec_id, embedding) → top-k by
    cosine. The corpus never shuffles and is scored in ONE Arrow pass that
    emits only each partition's top-k per query (exact partial top-k — the
    global top-k is the top-k of the per-partition winners); the final
    window ranks k·partitions candidate rows instead of |corpus|·|queries|
    pair rows. The query side is collected once — small by contract (the
    old formulation broadcast it, same bound).

    Arithmetic parity: per-pair dots/norms are sequential cumsum sums and
    round-6, identical to cosine6_udf and the DuckDB oracle's
    list_dot_product loop."""
    from pyspark.sql import types as T

    q_rows = queries.select("query_id", "embedding").collect()
    spark = embeddings.sparkSession
    out_schema = T.StructType(
        [
            queries.schema["query_id"],
            embeddings.schema["vec_id"],
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    if not q_rows:
        empty = spark.createDataFrame([], out_schema)
        return empty.withColumn("rank", F.lit(1).cast("int")).filter(F.lit(False))
    qids = [r["query_id"] for r in q_rows]
    qm = np.array([np.asarray(r["embedding"], dtype=np.float64) for r in q_rows])
    qn = np.sqrt(np.cumsum(qm * qm, axis=1)[:, -1])
    nq = len(qids)
    chunk = max(1, 8_000_000 // (nq * qm.shape[1]))  # bound the (c, q, dim) tensor

    def _partial(batches):
        best_cos = [np.empty(0) for _ in range(nq)]
        best_ids = [np.empty(0, dtype=np.int64) for _ in range(nq)]
        for pdf in batches:
            ids_all = pdf["vec_id"].to_numpy()
            m_all = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            for s in range(0, len(ids_all), chunk):
                m = m_all[s : s + chunk]
                ids = ids_all[s : s + chunk]
                mn = np.sqrt(np.cumsum(m * m, axis=1)[:, -1])
                cos = np.round(
                    np.cumsum(m[:, None, :] * qm[None, :, :], axis=2)[:, :, -1]
                    / (mn[:, None] * qn[None, :]),
                    6,
                )
                for j in range(nq):
                    c = np.concatenate([best_cos[j], cos[:, j]])
                    i = np.concatenate([best_ids[j], ids])
                    order = np.lexsort((i, -c))[:k]
                    best_cos[j], best_ids[j] = c[order], i[order]
        rows = {"query_id": [], "vec_id": [], "cosine": []}
        for j in range(nq):
            rows["query_id"].extend([qids[j]] * len(best_ids[j]))
            rows["vec_id"].extend(best_ids[j].tolist())
            rows["cosine"].extend(best_cos[j].tolist())
        yield pd.DataFrame(rows)

    scored = embeddings.select("vec_id", "embedding").mapInPandas(_partial, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _projection_matrix(dim: int, n_bits: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(n_bits, dim)).round(6).tolist()


def lsh_bucket_udf(planes: list[list[float]]):
    """Sign-random-projection bucket id (int) per embedding, one numpy pass
    per Arrow batch. The plane dots are summed left to right (cumsum), the
    order the DuckDB oracle uses, so a near-zero dot cannot flip sign
    between the two engines."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    pl = np.asarray(planes, dtype=np.float64)  # (n_bits, dim)
    weights = (1 << np.arange(pl.shape[0], dtype=np.int64))

    @pandas_udf(T.IntegerType())
    def _bucket(col: pd.Series) -> pd.Series:
        if not len(col):
            return pd.Series(np.zeros(0, dtype=np.int32))
        m = np.stack(col.to_numpy()).astype(np.float64)  # (n, dim)
        # (n, n_bits, dim) products, sequential sum over dim
        dots = np.cumsum(m[:, None, :] * pl[None, :, :], axis=2)[:, :, -1]
        buckets = ((dots >= 0) * weights[None, :]).sum(axis=1)
        return pd.Series(buckets.astype(np.int32), index=col.index)

    return _bucket


def train_ivf_centroids(
    embeddings: DataFrame,
    n_lists: int = 16,
    sample: int = 2048,
    iters: int = 10,
    seed: int = 42,
) -> list[list[float]]:
    """Deterministic k-means coarse-quantizer training on a bounded sample.

    The sample is the first `sample` corpus rows by vec_id —
    orderBy + limit plans as TakeOrderedAndProject (per-partition partial
    top-n, then a driver merge: no full sort, no dependence on partition
    layout), so the SAME centroids come back at any parallelism. The r02
    version used bare .limit(), whose row choice depends on which partitions
    answer first — non-deterministic across cluster sizes."""
    samp = np.array(
        [
            np.asarray(r["embedding"], dtype=np.float64)
            for r in embeddings.select("vec_id", "embedding").orderBy("vec_id").limit(sample).collect()
        ]
    )
    samp /= np.linalg.norm(samp, axis=1, keepdims=True)
    rng = np.random.RandomState(seed)
    cents = samp[rng.choice(len(samp), size=min(n_lists, len(samp)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(samp @ cents.T, axis=1)  # cosine on unit vectors
        for j in range(len(cents)):
            members = samp[assign == j]
            if len(members):
                c = members.mean(axis=0)
                n = np.linalg.norm(c)
                if n > 0:
                    cents[j] = c / n
    return cents.tolist()


def seed_ivf_centroids(embeddings: DataFrame, n_lists: int = 16) -> list[list[float]]:
    """Untrained coarse quantizer: the first `n_lists` corpus vectors by
    vec_id, unit-normalized. SQL-expressible (ORDER BY vec_id LIMIT n) — the
    DuckDB oracle reproduces it exactly, making the full IVF query
    hash-checkable; the k-means path (`train_ivf_centroids`) trades that for
    better list balance."""
    rows = embeddings.select("vec_id", "embedding").orderBy("vec_id").limit(n_lists).collect()
    cents = np.array([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    return cents.tolist()


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    nprobe: int = 4,
    sample: int = 2048,
    iters: int = 10,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    train: bool = True,
) -> DataFrame:
    """IVF approximate top-k (FAISS IVF-flat structure, Spark-native):

    1. TRAIN: deterministic coarse quantizer — k-means on a bounded
       TakeOrdered sample (`train=True`), the first-n_lists medoid seed
       (`train=False`, DuckDB-oracle-expressible), or caller-provided
       `centroids` (FAISS's user-supplied-quantizer mode).
    2. ASSIGN: every corpus vector gets its nearest-centroid list id via a
       vectorized Arrow kernel against the broadcast centroids (map-only).
    3. PROBE: each query explodes to its `nprobe` nearest lists; candidates
       come from a list-id equi-join (never all-pairs), then exact cosine
       re-rank.

    Assignment ranks by ROUND(cosine, 6) with list-id tie-break (stable
    argsort) — the same ordering the SQL oracle states, so BLAS-vs-sequential
    summation noise below 1e-6 can't flip an assignment differently on the
    two engines. Recall vs brute force is measured in tests; the trade dial
    is nprobe/n_lists."""
    if centroids is not None:
        cents_list = centroids
    elif train:
        cents_list = train_ivf_centroids(embeddings, n_lists, sample, iters, seed)
    else:
        cents_list = seed_ivf_centroids(embeddings, n_lists)

    def _list_ids(col: pd.Series, top: int) -> pd.Series:
        # shared assignment kernel (also used by the persisted-index path,
        # so build_ivf_index/ivf_topk_indexed can never drift from this)
        return _ivf_assign_series(cents_list, col, top)

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql import types as T

    @pandas_udf(T.IntegerType())
    def corpus_list(col: pd.Series) -> pd.Series:
        return _list_ids(col, 1).map(lambda a: int(a[0]))

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def query_lists(col: pd.Series) -> pd.Series:
        return _list_ids(col, nprobe)

    corpus = embeddings.withColumn("list_id", corpus_list(F.col("embedding")))
    q = queries.withColumn("probe", F.explode(query_lists(F.col("embedding"))))
    j = q.alias("q").join(corpus.alias("c"), F.col("q.probe") == F.col("c.list_id"))
    scored = j.select(
        F.col("q.query_id").alias("query_id"),
        F.col("c.vec_id").alias("vec_id"),
        cosine6_udf()(F.col("q.embedding"), F.col("c.embedding")).alias("cosine"),
    ).dropDuplicates(["query_id", "vec_id"])
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ann_lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int = 8,
    dim: int = 64,
    multiprobe: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket (or differ
    by ≤ `multiprobe` bits); exact cosine re-rank inside candidates.
    `dim` must be passed by the caller (no driver-side sniff of the data)."""
    planes = _projection_matrix(dim, n_bits, seed)
    bucket = lsh_bucket_udf(planes)
    corpus = embeddings.withColumn("bucket", bucket(F.col("embedding")))
    q = queries.withColumn("bucket", bucket(F.col("embedding")))
    # multiprobe: explode query buckets to hamming-≤multiprobe neighbors
    probes = [F.col("bucket")]
    if multiprobe >= 1:
        probes += [F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_bits)]
    if multiprobe >= 2:
        probes += [
            F.col("bucket").bitwiseXOR(F.lit((1 << i) | (1 << j)))
            for i in range(n_bits)
            for j in range(i + 1, n_bits)
        ]
    q = q.withColumn("probe", F.explode(F.array(*probes)))
    j = q.alias("q").join(
        corpus.alias("c"), F.col("q.probe") == F.col("c.bucket")
    )
    # dedup candidate id pairs BEFORE scoring: a pair reachable through m
    # probe buckets would otherwise evaluate the interpreted cosine m times
    # (up to 37× wasted work at multiprobe=2) only for dropDuplicates to
    # discard m−1 — the embeddings ride through the dedup aggregate instead
    cand = j.select(
        F.col("q.query_id").alias("query_id"),
        F.col("c.vec_id").alias("vec_id"),
        F.col("q.embedding").alias("q_emb"),
        F.col("c.embedding").alias("c_emb"),
    ).dropDuplicates(["query_id", "vec_id"])
    scored = cand.select(
        "query_id",
        "vec_id",
        cosine6_udf()(F.col("q_emb"), F.col("c_emb")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# persisted IVF index (Icelite inverted lists + partition-pruned probe reads)
# ---------------------------------------------------------------------------

_IVF_CENTROIDS_FILE = "ivf_centroids.json"


def _ivf_assign_series(cents_list: list[list[float]], col: pd.Series, top: int) -> pd.Series:
    """Nearest-`top` centroid list ids per embedding (the shared assignment
    kernel of ivf_topk and the persisted-index path): ROUND(cos, 6) with
    stable list-id tie-break — the ordering the SQL oracle states."""
    c = np.asarray(cents_list, dtype=np.float64)
    c = c / np.linalg.norm(c, axis=1, keepdims=True)
    m = np.stack(col.to_numpy()).astype(np.float64)
    m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    sims = np.round(m @ c.T, 6)
    idx = np.argsort(-sims, axis=1, kind="stable")[:, :top]
    return pd.Series(list(idx), index=col.index).map(lambda a: a.tolist())


def build_ivf_index(
    embeddings: DataFrame,
    path: str,
    n_lists: int = 16,
    sample: int = 2048,
    iters: int = 10,
    seed: int = 42,
    train: bool = True,
) -> dict:
    """Train + assign + PERSIST an IVF-flat index as an Icelite table
    partitioned by list_id — the Spark-native analog of FAISS's on-disk
    inverted lists. Each list is its own partition in the manifest, so a
    probe query later reads ONLY its nprobe lists' parquet files
    (manifest-level partition pruning; at 10^9+ vectors a query touches
    nprobe/n_lists of the corpus bytes). Centroids land beside the
    snapshot metadata (`metadata/ivf_centroids.json`) so search needs no
    retraining and no extra corpus pass. Returns the commit snapshot."""
    import json
    import os

    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from ..tables.icelite import IceliteTable

    if train:
        cents_list = train_ivf_centroids(embeddings, n_lists, sample, iters, seed)
    else:
        cents_list = seed_ivf_centroids(embeddings, n_lists)

    @pandas_udf(T.IntegerType())
    def corpus_list(col: pd.Series) -> pd.Series:
        return _ivf_assign_series(cents_list, col, 1).map(lambda a: int(a[0]))

    corpus = embeddings.select("vec_id", "embedding").withColumn(
        "list_id", corpus_list(F.col("embedding"))
    )
    tbl = IceliteTable(path)
    snap = tbl.commit(corpus, "list_id", stage="ivf-build")
    with open(os.path.join(tbl.meta_dir, _IVF_CENTROIDS_FILE), "w") as f:
        json.dump({"n_lists": len(cents_list), "centroids": cents_list}, f)
    return snap


def load_ivf_centroids(path: str) -> list[list[float]]:
    import json
    import os

    from ..tables.icelite import IceliteTable

    with open(os.path.join(IceliteTable(path).meta_dir, _IVF_CENTROIDS_FILE)) as f:
        return json.load(f)["centroids"]


def ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """Search a persisted IVF index: queries probe their nprobe nearest
    lists and the corpus scan is PRUNED to exactly those lists' files via
    the Icelite manifest (asserted in tests via inputFiles). The query side
    is collected to plan the pruning — queries are small by contract (the
    corpus side never moves, never broadcasts, never shuffles beyond the
    probe equi-join)."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from ..tables.icelite import IceliteTable

    cents_list = load_ivf_centroids(path)

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def query_lists(col: pd.Series) -> pd.Series:
        return _ivf_assign_series(cents_list, col, nprobe)

    q = queries.select("query_id", "embedding").withColumn(
        "probe", F.explode(query_lists(F.col("embedding")))
    )
    # tiny driver action over the (small) query side: the distinct probed
    # list ids decide which manifest partitions to scan at all
    probes = sorted({int(r.probe) for r in q.select("probe").distinct().collect()})
    corpus = IceliteTable(path).read(spark, partitions=[str(p) for p in probes])
    j = q.alias("q").join(corpus.alias("c"), F.col("q.probe") == F.col("c.list_id"))
    scored = j.select(
        F.col("q.query_id").alias("query_id"),
        F.col("c.vec_id").alias("vec_id"),
        cosine6_udf()(F.col("q.embedding"), F.col("c.embedding")).alias("cosine"),
    ).dropDuplicates(["query_id", "vec_id"])
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def corpus_list_udf(cents_list: list[list[float]]):
    """Arrow UDF assigning each embedding its nearest-centroid list id —
    the shared single-probe assignment kernel, exported as a factory so
    other operators (semantic_dedup) bind their centroids to it."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.IntegerType())
    def corpus_list(col: pd.Series) -> pd.Series:
        return _ivf_assign_series(cents_list, col, 1).map(lambda a: int(a[0]))

    return corpus_list


# ---------------------------------------------------------------------------
# product quantization (PQ): codebooks / encode / ADC top-k
# ---------------------------------------------------------------------------
#
# FAISS-PQ structure, Spark-native: the corpus compresses to m small codes
# per vector (m * log2(ksub) bits instead of dim * 32), search is
# asymmetric-distance (ADC) — a per-query lookup table of subspace
# distances, summed over the corpus codes with PURE Catalyst element_at
# expressions (whole-stage codegen; the corpus never shuffles, the tiny
# LUT side broadcasts). All distances are integer micro-units
# (floor(L2² * 1e6)): integer sums are order-independent, so Spark, numpy
# and the DuckDB oracle agree bit-for-bit — no float-associativity drift.


def _pq_micro(d: np.ndarray) -> np.ndarray:
    """float64 L2² → int64 micro-distance (floor is engine-portable,
    unlike round's half-even/half-up split)."""
    return np.floor(d * 1_000_000.0).astype(np.int64)


def seed_pq_codebooks(embeddings: DataFrame, m: int = 8, ksub: int = 16) -> list:
    """Untrained PQ codebooks: the first `ksub` corpus vectors by vec_id,
    each split into `m` subvectors — SQL-expressible (ORDER BY vec_id
    LIMIT ksub), so the whole encode/ADC pipeline is DuckDB-hash-checkable
    (the PQ analog of `seed_ivf_centroids`). Returns (m, ksub, dsub)."""
    rows = embeddings.select("vec_id", "embedding").orderBy("vec_id").limit(ksub).collect()
    v = np.array([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    if v.shape[1] % m:
        raise ValueError(f"dim {v.shape[1]} not divisible by m={m}")
    dsub = v.shape[1] // m
    # (ksub, m, dsub) → (m, ksub, dsub)
    return v.reshape(len(v), m, dsub).transpose(1, 0, 2).tolist()


def train_pq_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    ksub: int = 16,
    sample: int = 2048,
    iters: int = 10,
    seed: int = 42,
) -> list:
    """Deterministic per-subspace k-means (the real PQ trainer): bounded
    TakeOrdered sample (same any-parallelism-stable protocol as
    `train_ivf_centroids`), independent k-means in each of the m
    subspaces. Returns (m, ksub, dsub) nested lists."""
    rows = (
        embeddings.select("vec_id", "embedding").orderBy("vec_id").limit(sample).collect()
    )
    v = np.array([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    if v.shape[1] % m:
        raise ValueError(f"dim {v.shape[1]} not divisible by m={m}")
    dsub = v.shape[1] // m
    sub = v.reshape(len(v), m, dsub)
    rng = np.random.RandomState(seed)
    books = []
    for s in range(m):
        x = sub[:, s, :]
        cents = x[rng.choice(len(x), size=min(ksub, len(x)), replace=False)].copy()
        for _ in range(iters):
            d = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
            assign = np.argmin(d, axis=1)
            for j in range(len(cents)):
                members = x[assign == j]
                if len(members):
                    cents[j] = members.mean(axis=0)
        books.append(cents.tolist())
    return books


def _pq_encode_matrix(v: np.ndarray, cb: np.ndarray) -> np.ndarray:
    """(n, dim) × (m, ksub, dsub) → (n, m) int codes: per-subspace argmin
    of the micro-distance, first-minimum tie-break (code asc)."""
    n, dim = v.shape
    m, ksub, dsub = cb.shape
    sub = v.reshape(n, m, dsub)
    d = ((sub[:, :, None, :] - cb[None, :, :, :]) ** 2).sum(-1)  # (n, m, ksub)
    return np.argmin(_pq_micro(d), axis=2).astype(np.int32)


def pq_encode(embeddings: DataFrame, codebooks: list) -> DataFrame:
    """(vec_id, codes array<int>) — one Arrow map-only pass against the
    broadcast codebooks; the corpus never shuffles. At 10^9 vectors this is
    the compression step that makes the code table memory-resident
    (m bytes/vector at ksub ≤ 256)."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    cb = np.asarray(codebooks, dtype=np.float64)

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def enc(col: pd.Series) -> pd.Series:
        v = np.stack(col.to_numpy()).astype(np.float64)
        codes = _pq_encode_matrix(v, cb)
        return pd.Series(list(codes), index=col.index).map(lambda a: a.tolist())

    return embeddings.select("vec_id", enc(F.col("embedding")).alias("codes"))


def pq_query_luts(queries: DataFrame, codebooks: list) -> DataFrame:
    """(query_id, lut array<long> of length m*ksub, s-major): per-query ADC
    lookup table of micro-distances between each query subvector and every
    codebook entry."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    cb = np.asarray(codebooks, dtype=np.float64)
    m, ksub, dsub = cb.shape

    @pandas_udf(T.ArrayType(T.LongType()))
    def lut(col: pd.Series) -> pd.Series:
        v = np.stack(col.to_numpy()).astype(np.float64)
        sub = v.reshape(len(v), m, dsub)
        d = _pq_micro(((sub[:, :, None, :] - cb[None, :, :, :]) ** 2).sum(-1))
        return pd.Series(list(d.reshape(len(v), m * ksub)), index=col.index).map(
            lambda a: a.tolist()
        )

    return queries.select("query_id", lut(F.col("embedding")).alias("lut"))


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    codebooks: list,
    k: int = 5,
) -> DataFrame:
    """PQ/ADC approximate top-k by L2: corpus → codes (map-only), queries →
    broadcast LUTs, approximate distance = Σ_s lut[s*ksub + code_s]
    evaluated as a chain of built-in element_at expressions — whole-stage
    codegen, no Python in the per-pair hot path, integer-exact. Returns
    (query_id, vec_id, adist_micro, rank)."""
    from functools import reduce
    from operator import add

    cb = np.asarray(codebooks, dtype=np.float64)
    m, ksub, _ = cb.shape
    codes = pq_encode(embeddings, codebooks)
    luts = pq_query_luts(queries, codebooks)
    j = codes.join(F.broadcast(luts))
    terms = [
        F.element_at(
            F.col("lut"),
            (F.element_at(F.col("codes"), s + 1) + F.lit(s * ksub + 1)).cast("int"),
        )
        for s in range(m)
    ]
    scored = j.select(
        "query_id",
        "vec_id",
        reduce(add, terms).cast("long").alias("adist_micro"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adist_micro").asc(), F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# IVF-PQ: persisted inverted lists of PQ codes (the FAISS IVFPQ workhorse)
# ---------------------------------------------------------------------------

_PQ_CODEBOOKS_FILE = "pq_codebooks.json"


def build_ivfpq_index(
    embeddings: DataFrame,
    path: str,
    n_lists: int = 16,
    m: int = 8,
    ksub: int = 16,
    sample: int = 2048,
    iters: int = 10,
    seed: int = 42,
) -> dict:
    """Train coarse centroids + PQ codebooks, then persist an IVF-PQ index:
    an Icelite table partitioned by list_id whose rows are (vec_id, codes)
    — m small ints per vector instead of the embedding. The two FAISS
    memory levers composed Spark-natively: a probe reads nprobe/n_lists of
    the FILES (manifest pruning) and each file holds m·log2(ksub) bits per
    vector instead of dim·32 (PQ compression). At 10^10 vectors the probed
    bytes shrink by both factors multiplied. One corpus pass: assignment
    and encoding ride the same mapInPandas scan."""
    import json as _json
    import os as _os

    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from ..tables.icelite import IceliteTable

    cents_list = train_ivf_centroids(embeddings, n_lists, sample, iters, seed)
    books = train_pq_codebooks(embeddings, m, ksub, sample, iters, seed)
    cb = np.asarray(books, dtype=np.float64)

    @pandas_udf(T.IntegerType())
    def corpus_list(col: pd.Series) -> pd.Series:
        return _ivf_assign_series(cents_list, col, 1).map(lambda a: int(a[0]))

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def enc(col: pd.Series) -> pd.Series:
        v = np.stack(col.to_numpy()).astype(np.float64)
        codes = _pq_encode_matrix(v, cb)
        return pd.Series(list(codes), index=col.index).map(lambda a: a.tolist())

    corpus = embeddings.select(
        "vec_id",
        corpus_list(F.col("embedding")).alias("list_id"),
        enc(F.col("embedding")).alias("codes"),
    )
    tbl = IceliteTable(path)
    snap = tbl.commit(corpus, "list_id", stage="ivfpq-build")
    with open(_os.path.join(tbl.meta_dir, _IVF_CENTROIDS_FILE), "w") as f:
        _json.dump({"n_lists": len(cents_list), "centroids": cents_list}, f)
    with open(_os.path.join(tbl.meta_dir, _PQ_CODEBOOKS_FILE), "w") as f:
        _json.dump({"m": m, "ksub": ksub, "codebooks": books}, f)
    return snap


def ivfpq_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """Search a persisted IVF-PQ index: queries probe their nprobe nearest
    lists (manifest-pruned scan — only those lists' files are read), and
    candidates are scored by PQ/ADC — broadcast per-query LUTs summed over
    the stored codes with pure element_at expressions. The embedding
    column is never read (it isn't even IN the index). Integer
    micro-distances keep ranking deterministic. Returns
    (query_id, vec_id, adist_micro, rank)."""
    import json as _json
    import os as _os
    from functools import reduce
    from operator import add

    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from ..tables.icelite import IceliteTable

    tbl = IceliteTable(path)
    cents_list = load_ivf_centroids(path)
    with open(_os.path.join(tbl.meta_dir, _PQ_CODEBOOKS_FILE)) as f:
        meta = _json.load(f)
    books, m, ksub = meta["codebooks"], meta["m"], meta["ksub"]

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def query_lists(col: pd.Series) -> pd.Series:
        return _ivf_assign_series(cents_list, col, nprobe)

    q = queries.select("query_id", "embedding").withColumn(
        "probe", F.explode(query_lists(F.col("embedding")))
    )
    probes = sorted({int(r.probe) for r in q.select("probe").distinct().collect()})
    corpus = tbl.read(spark, partitions=[str(p) for p in probes])
    luts = pq_query_luts(queries, books)
    j = corpus.alias("c").join(
        q.select("query_id", "probe").alias("q"),
        F.col("c.list_id") == F.col("q.probe"),
    ).join(F.broadcast(luts), "query_id")
    terms = [
        F.element_at(
            F.col("lut"),
            (F.element_at(F.col("codes"), s + 1) + F.lit(s * ksub + 1)).cast("int"),
        )
        for s in range(m)
    ]
    scored = j.select(
        "query_id", "vec_id", reduce(add, terms).cast("long").alias("adist_micro")
    ).dropDuplicates(["query_id", "vec_id"])
    w = Window.partitionBy("query_id").orderBy(F.col("adist_micro").asc(), F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
