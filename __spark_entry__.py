"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship spatial query: synthesize the deterministic
                 image+caption table (size driven by sf0.001 lineitem row
                 count), classify the Vienna-shaped elements fixture into the
                 public-space polygon layer, run the cell-bucketed PIP join
                 (J12) and return images per (space_category, access).
queries()      — one entry per implemented operator family (SURVEY.md §2).
oracle_sql()   — DuckDB-runnable ANSI SQL equivalents. Entries without SQL
                 (spatial raster/vector kernels, LSH-ANN) get the driver's
                 rows-only check and are verified against numpy brute-force
                 oracles in tests/ instead.

Column names are aliased identically on both sides; float aggregates are
rounded on both sides so order-insensitive value hashes match.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_public_space_mapper_spark.functions import text as TXT
from osm_public_space_mapper_spark.operators import dedup as DD
from osm_public_space_mapper_spark.operators import similarity as SIM
from osm_public_space_mapper_spark.operators.dedup import MINHASH_BANDS, MINHASH_MASK, MINHASH_PERMS, MINHASH_PRIME, minhash_params


_PYFILES_SENT: set[str] = set()


def _ensure_pyfiles(spark: SparkSession) -> None:
    """Ship the engine package to executor Python workers (the local
    equivalent of `spark-submit --py-files engine.zip`). Needed whenever the
    driver's cwd isn't the repo root — executors don't inherit driver
    sys.path edits."""
    # applicationId, not id(spark): python object ids can be reused by a NEW
    # session after GC, which would silently skip the addPyFile (and, for
    # the caches below, serve frames bound to a dead SparkContext)
    key = spark.sparkContext.applicationId
    if key in _PYFILES_SENT:
        return
    import atexit
    import os
    import shutil
    import tempfile
    import zipfile

    pkg_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "osm_public_space_mapper_spark")
    # a fresh directory per session: sessions started at the same time from
    # different checkouts must not overwrite each other's zip (Spark refuses
    # a shipped file whose contents changed)
    zdir = tempfile.mkdtemp(prefix="ospm_pyfiles_")
    atexit.register(shutil.rmtree, zdir, True)
    zpath = os.path.join(zdir, "osm_public_space_mapper_spark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    spark.sparkContext.addPyFile(zpath)
    _PYFILES_SENT.add(key)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_pyfiles(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _reg(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for n in names:
        _t(spark, sf_dir, n).createOrReplaceTempView(n)


# ---------------------------------------------------------------------------
# spatial flagship helpers (deterministic synthetic inputs; no external data)
# ---------------------------------------------------------------------------

_LAYER_CACHE: dict[str, DataFrame] = {}


def _polygon_layer(spark: SparkSession) -> DataFrame:
    """Classified public-space polygon layer from the deterministic
    Vienna-shaped fixture, built once per session and pinned (one
    persistent RDD, which `spark.catalog.clearCache()` leaves alone)."""
    from osm_public_space_mapper_spark.fixtures.elements import BBOX_4326, elements_to_spark
    from osm_public_space_mapper_spark.operators.overlay_core import OverlayConfig
    from osm_public_space_mapper_spark.plans.pipeline import projected_bbox_ring, run_pipeline
    from osm_public_space_mapper_spark.session import pin, release

    _ensure_pyfiles(spark)
    key = spark.sparkContext.applicationId
    if key not in _LAYER_CACHE:
        ring = projected_bbox_ring(BBOX_4326["left"], BBOX_4326["bottom"], BBOX_4326["right"], BBOX_4326["top"])
        env = (float(ring[:, 0].min()), float(ring[:, 1].min()), float(ring[:, 0].max()), float(ring[:, 1].max()))
        cfg = OverlayConfig(px=0.25, margin=64.0, bbox=env, bbox_ring=ring)
        built = run_pipeline(elements_to_spark(spark), cfg, overlay_res=8)
        layer = pin(built)
        release(built)  # the pinned layer no longer reads the records
        # frames of an earlier (stopped) session are dead: keep only this one
        _LAYER_CACHE.clear()
        _LAYER_CACHE[key] = layer
    return _LAYER_CACHE[key]


_TILES_CACHE: dict[str, DataFrame] = {}


def _tiles(spark: SparkSession) -> DataFrame:
    """Per-tile class masks from the polygon layer (cached per session)."""
    from osm_public_space_mapper_spark.operators import tiling

    key = spark.sparkContext.applicationId
    if key not in _TILES_CACHE:
        t = tiling.rasterize_tiles(_polygon_layer(spark), tile_res=10, px=0.25).cache()
        t.count()
        _TILES_CACHE.clear()
        _TILES_CACHE[key] = t
    return _TILES_CACHE[key]


def _images(spark: SparkSession, n: int, with_pixels: bool = False) -> DataFrame:
    from osm_public_space_mapper_spark.fixtures.images import generate_images, images_to_spark
    from osm_public_space_mapper_spark.operators import joins

    _ensure_pyfiles(spark)
    df = images_to_spark(spark, generate_images(n, seed=7, with_pixels=with_pixels))
    df = joins.with_geotag(df)
    df = joins.project_points(df)
    return joins.with_cells(df)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: classify → overlay → cell-bucketed PIP join → counts."""
    from osm_public_space_mapper_spark.operators import joins

    n = _t(spark, "/root/testdata/sf0.001", "lineitem").count()  # scale driver
    images = _images(spark, min(int(n), 6000))
    assigned = joins.pip_join_raster(images, _tiles(spark))
    return (
        assigned.groupBy("space_category", "access")
        .agg(F.count("*").alias("n_images"))
        .orderBy("space_category", "access")
    )


# ---------------------------------------------------------------------------
# portable SQL (identical text runs on Spark and DuckDB)
# ---------------------------------------------------------------------------

# Money aggregates run in DECIMAL on both engines: double summation is
# order-sensitive, so ROUND(SUM(double), 2) flips on cent boundaries between
# Spark and DuckDB (r01 q3 hash fail). DECIMAL sums are exact and
# order-independent; the final CAST AS DOUBLE is correctly rounded and
# identical in both engines (verified bitwise at sf0.01).
_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE)      AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(6,4))) * (1 + CAST(l_tax AS DECIMAL(6,4)))), 2) AS DOUBLE) AS sum_charge,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))) / COUNT(*), 4) AS DOUBLE)      AS avg_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) / COUNT(*), 4) AS DOUBLE) AS avg_price,
       CAST(ROUND(SUM(CAST(l_discount AS DECIMAL(6,4))) / COUNT(*), 4) AS DOUBLE)       AS avg_disc,
       COUNT(*)                                                    AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

_Q3 = """
SELECT o.o_orderkey,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS revenue,
       o.o_orderpriority
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o.o_orderkey, o.o_orderpriority
HAVING SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(6,4)))) > 1000.0
"""

_Q5 = """
SELECT n.n_name AS nation,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM region r
JOIN nation n   ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = n.n_nationkey
GROUP BY n.n_name
"""

_TOP3 = """
SELECT c_mktsegment, o_orderkey, o_totalprice, rnk FROM (
  SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                            ORDER BY o.o_totalprice DESC, o.o_orderkey ASC) AS rnk
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
) t WHERE rnk <= 3
"""

_ANTI = """
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""

_PIVOT = """
SELECT user_id,
       SUM(CASE WHEN event_type = 'click'    THEN value ELSE 0 END)  AS click_value,
       SUM(CASE WHEN event_type = 'view'     THEN value ELSE 0 END)  AS view_value,
       SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END)  AS purchase_value,
       COUNT(*) AS n_events
FROM events GROUP BY user_id
"""

_ROLLUP = """
SELECT r.r_name AS region, n.n_name AS nation,
       COUNT(*) AS n_customers,
       CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_balance
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
GROUP BY ROLLUP (r.r_name, n.n_name)
"""

_GRID = """
SELECT CAST(FLOOR((value - FLOOR(value)) * 16) AS BIGINT) * 16
       + CAST(FLOOR(((user_id % 997) / 997.0) * 16) AS BIGINT) AS cell_id,
       COUNT(*) AS n_events,
       ROUND(AVG(value), 4) AS avg_value
FROM events
GROUP BY 1
"""

_SESS_SPARK = """
WITH e AS (
  SELECT user_id, unix_timestamp(ts) AS sec FROM events
), d AS (
  SELECT user_id, sec,
         CASE WHEN lag(sec) OVER (PARTITION BY user_id ORDER BY sec) IS NULL
                   OR sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec) > 1800
              THEN 1 ELSE 0 END AS brk
  FROM e
)
SELECT user_id, SUM(brk) AS n_sessions, COUNT(*) AS n_events
FROM d GROUP BY user_id
"""

# FLOOR(epoch(ts)): DuckDB's CAST(double AS BIGINT) rounds to nearest while
# Spark's unix_timestamp truncates — FLOOR makes both sides truncate (r01
# events_sessionization hash fail on >=0.5 s fractional timestamps).
_SESS_DUCK = """
WITH e AS (
  SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec FROM events
), d AS (
  SELECT user_id, sec,
         CASE WHEN lag(sec) OVER (PARTITION BY user_id ORDER BY sec) IS NULL
                   OR sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec) > 1800
              THEN 1 ELSE 0 END AS brk
  FROM e
)
SELECT user_id, CAST(SUM(brk) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM d GROUP BY user_id
"""

# --- text / dedup oracle SQL (DuckDB dialect) -------------------------------

_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
_HASH64_DUCK = "CAST(CONCAT('0x', substr(md5({x}), 1, 15)) AS BIGINT)"

_TOKEN_DUCK = f"""
SELECT doc_id,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS ws_tokens,
       len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS word_tokens,
       length(text) AS n_chars_computed
FROM documents
"""

_DEDUP_DUCK = f"""
SELECT md5({_NORM}) AS fp, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_dups
FROM documents GROUP BY 1
"""


def _shingle_cte_duck(n: int = 3) -> str:
    """words + n-gram shingles per doc (DuckDB; scalar generate_series →
    list_transform → unnest, since lateral table functions can't see columns)."""
    terms = " || ' ' || ".join(f"words[i + {j}]" for j in range(n))
    return f"""
words AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS words FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(words) - {n - 1}), i -> {terms})) AS sh
  FROM words
  WHERE len(words) >= {n}
)
"""


def _jaccard_sql_duck(n: int = 3, threshold: float = 0.3) -> str:
    return f"""
WITH {_shingle_cte_duck(n)},
dsh AS (SELECT DISTINCT doc_id, sh FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY doc_id),
pairs AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM dsh l JOIN dsh r ON l.sh = r.sh AND l.doc_id < r.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= {threshold}
"""


def _minhash_sql_duck(n: int = 3) -> str:
    mins = ",\n         ".join(
        f"MIN(((h & {MINHASH_MASK}) * {minhash_params(p)[0]} + {minhash_params(p)[1]}) % {MINHASH_PRIME}) AS mh{p}"
        for p in range(MINHASH_PERMS)
    )
    return f"""
WITH {_shingle_cte_duck(n)},
hashed AS (SELECT doc_id, {_HASH64_DUCK.format(x='sh')} AS h FROM sh),
SIG AS (
  SELECT doc_id, {mins}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, {", ".join(f"mh{p}" for p in range(MINHASH_PERMS))} FROM SIG
"""


def _minhash_pairs_sql_duck(n: int = 3, threshold: float = 0.5) -> str:
    rows_per_band = MINHASH_PERMS // MINHASH_BANDS
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({concat}) AS sig FROM SIG".format(
            b=b,
            concat=" || ',' || ".join(
                f"CAST(mh{b * rows_per_band + i} AS VARCHAR)" for i in range(rows_per_band)
            ),
        )
        for b in range(MINHASH_BANDS)
    )
    mins = ",\n         ".join(
        f"MIN(((h & {MINHASH_MASK}) * {minhash_params(p)[0]} + {minhash_params(p)[1]}) % {MINHASH_PRIME}) AS mh{p}"
        for p in range(MINHASH_PERMS)
    )
    return f"""
WITH {_shingle_cte_duck(n)},
hashed AS (SELECT doc_id, {_HASH64_DUCK.format(x='sh')} AS h FROM sh),
SIG AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN bands r ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
),
dsh AS (SELECT DISTINCT doc_id, sh FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cand c JOIN dsh a ON a.doc_id = c.doc_a JOIN dsh b ON b.doc_id = c.doc_b AND a.sh = b.sh
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= {threshold}
"""


_LANG_PAT = {
    "en": "\\b(the|and|of|to|is)\\b",
    "de": "\\b(der|die|und|das|ist)\\b",
    "fr": "\\b(le|la|et|les|est)\\b",
    "es": "\\b(el|los|que|de|es)\\b",
}


def _lang_sql_duck() -> str:
    hits = ", ".join(
        f"len(regexp_extract_all(lower(text), '{pat}')) AS h_{lang}" for lang, pat in _LANG_PAT.items()
    )
    langs = list(_LANG_PAT)
    chain = "CASE "
    for lang in langs:
        conds = [f"h_{lang} > 0"] + [f"h_{lang} >= h_{o}" for o in langs if o != lang]
        chain += f"WHEN {' AND '.join(conds)} THEN '{lang}' "
    chain += "ELSE 'und' END"
    return f"""
WITH h AS (SELECT doc_id, {hits} FROM documents)
SELECT {chain} AS lang_guess, COUNT(*) AS n_docs
FROM h GROUP BY 1
"""


_EMB_DUPS_DUCK = """
SELECT l.vec_id AS vec_a, r.vec_id AS vec_b,
       ROUND(list_dot_product(CAST(l.embedding AS DOUBLE[]), CAST(r.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(l.embedding AS DOUBLE[]), CAST(l.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(r.embedding AS DOUBLE[]), CAST(r.embedding AS DOUBLE[])))), 6) AS cosine
FROM embeddings l JOIN embeddings r ON l.vec_id < r.vec_id
WHERE list_dot_product(CAST(l.embedding AS DOUBLE[]), CAST(r.embedding AS DOUBLE[]))
      / (sqrt(list_dot_product(CAST(l.embedding AS DOUBLE[]), CAST(l.embedding AS DOUBLE[])))
         * sqrt(list_dot_product(CAST(r.embedding AS DOUBLE[]), CAST(r.embedding AS DOUBLE[])))) >= 0.35
"""

def _ann_duck_ctes(k: int = 5, n_bits: int = 8, dim: int = 64, seed: int = 42) -> str:
    """CTE block reproducing similarity.ann_lsh_topk (multiprobe=1) in DuckDB:
    sign-random-projection buckets from the same literal hyperplanes, 1-bit
    multiprobe, exact cosine re-rank — bit-identical arithmetic (sequential
    dot products over the same double casts)."""
    from osm_public_space_mapper_spark.operators.similarity import _projection_matrix

    planes = _projection_matrix(dim, n_bits, seed)
    def lit_list(plane):
        return "[" + ", ".join(repr(float(v)) for v in plane) + "]"

    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), {lit_list(p)}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    probes = ", ".join(["bucket"] + [f"xor(bucket, {1 << i})" for i in range(n_bits)])
    cos = (
        "list_dot_product(CAST(q2.embedding AS DOUBLE[]), CAST(c2.embedding AS DOUBLE[]))"
        " / (sqrt(list_dot_product(CAST(q2.embedding AS DOUBLE[]), CAST(q2.embedding AS DOUBLE[])))"
        " * sqrt(list_dot_product(CAST(c2.embedding AS DOUBLE[]), CAST(c2.embedding AS DOUBLE[]))))"
    )
    return f"""
corpus AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings),
qs AS (SELECT vec_id AS query_id, embedding, bucket FROM corpus WHERE vec_id % 50 = 0),
probes AS (SELECT query_id, unnest([{probes}]) AS probe FROM qs),
cand AS (
  SELECT DISTINCT p.query_id, c.vec_id
  FROM probes p JOIN corpus c ON p.probe = c.bucket
),
ann_scored AS (
  SELECT cand.query_id, cand.vec_id, ROUND({cos}, 6) AS cosine
  FROM cand
  JOIN qs q2 ON q2.query_id = cand.query_id
  JOIN corpus c2 ON c2.vec_id = cand.vec_id
),
ann_topk AS (
  SELECT query_id, vec_id, cosine, rank FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
    FROM ann_scored
  ) WHERE rank <= {k}
)"""


def _ann_sql_duck(k: int = 5, n_bits: int = 8, dim: int = 64, seed: int = 42) -> str:
    return f"WITH {_ann_duck_ctes(k, n_bits, dim, seed)}\nSELECT query_id, vec_id, cosine, rank FROM ann_topk"


def _ivf_sql_duck(k: int = 5, n_lists: int = 16, nprobe: int = 4) -> str:
    """Reproduces similarity.ivf_topk(train=False) end-to-end in DuckDB:
    seed quantizer = first n_lists vectors by vec_id; nearest-list assignment
    and probe both rank by ROUND(cosine, 6) DESC, list_id ASC (the Spark
    kernel rounds + stable-sorts identically); exact cosine re-rank inside
    the probed lists."""
    # cosine(a_norm, b_norm) == cosine(a, b): the norm form matches
    # similarity.cosine6_udf / _ann_duck_ctes arithmetic
    def cos(a: str, b: str) -> str:
        return (
            f"list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
            f" / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
            f" * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))"
        )

    return f"""
WITH cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS list_id, embedding AS cemb
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {n_lists})
),
corpus_ranked AS (
  SELECT e.vec_id, e.embedding, c.list_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY ROUND({cos('e.embedding', 'c.cemb')}, 6) DESC, c.list_id ASC
         ) AS rk
  FROM embeddings e CROSS JOIN cents c
),
corpus_assign AS (SELECT vec_id, embedding, list_id FROM corpus_ranked WHERE rk = 1),
qs AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
q_ranked AS (
  SELECT q.query_id, q.embedding, c.list_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.query_id
           ORDER BY ROUND({cos('q.embedding', 'c.cemb')}, 6) DESC, c.list_id ASC
         ) AS rk
  FROM qs q CROSS JOIN cents c
),
probes AS (SELECT query_id, embedding, list_id FROM q_ranked WHERE rk <= {nprobe}),
ivf_scored AS (
  SELECT DISTINCT p.query_id, ca.vec_id,
         ROUND({cos('p.embedding', 'ca.embedding')}, 6) AS cosine
  FROM probes p JOIN corpus_assign ca USING (list_id)
)
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM ivf_scored
) WHERE rank <= {k}
"""


def _ann_recall_sql_duck(k: int = 5, n_bits: int = 8, dim: int = 64, seed: int = 42) -> str:
    """recall@k of the LSH path vs the exact brute-force top-k, per query."""
    exact_cos = (
        "list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))"
        " / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))"
        " * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))))"
    )
    return f"""
WITH {_ann_duck_ctes(k, n_bits, dim, seed)},
exact_scored AS (
  SELECT q.query_id, c.vec_id, ROUND({exact_cos}, 6) AS cosine
  FROM qs q, corpus c
),
exact_topk AS (
  SELECT query_id, vec_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
    FROM exact_scored
  ) WHERE rank <= {k}
)
SELECT e.query_id,
       ROUND(CAST(COUNT(a.vec_id) AS DOUBLE) / {k}, 6) AS recall_at_k
FROM exact_topk e
LEFT JOIN ann_topk a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
GROUP BY e.query_id
"""


_TOPK_DUCK = """
WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.query_id, c.vec_id,
         ROUND(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6) AS cosine
  FROM q, embeddings c
)
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _sql_query(sql: str, *tables: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _reg(spark, sf_dir, *tables)
        return spark.sql(sql)

    return run


def _q_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TXT.ws_token_count(F.col("text")).alias("ws_tokens"),
        TXT.word_token_count(F.col("text")).alias("word_tokens"),
        F.length("text").alias("n_chars_computed"),
    )


def _q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.round(TXT.alpha_ratio(F.col("text")), 6).alias("alpha_ratio"),
        F.round(TXT.punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        TXT.quality_score(F.col("text")).alias("quality"),
    )


_QUALITY_DUCK = """
SELECT doc_id,
       ROUND(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
             / GREATEST(length(text), 1), 6) AS alpha_ratio,
       ROUND(CAST(length(regexp_replace(text, '[\\w\\s]', '', 'g')) AS DOUBLE)
             / GREATEST(length(text), 1), 6) AS punct_ratio,
       ROUND(0.25 * LEAST(length(text) / 500.0, 1.0)
           + 0.25 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / GREATEST(length(text), 1))
           + 0.25 * (1.0 - LEAST(4.0 * CAST(length(regexp_replace(text, '[\\w\\s]', '', 'g')) AS DOUBLE) / GREATEST(length(text), 1), 1.0))
           + 0.25 * LEAST(5.0 * len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is)\\b'))
                          / GREATEST(CASE WHEN length(trim(text)) = 0 THEN 0
                                          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END, 1), 1.0), 6) AS quality
FROM documents
"""


def _q_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(TXT.lang_guess(F.col("text")).alias("lang_guess")).groupBy("lang_guess").agg(
        F.count("*").alias("n_docs")
    )


def _q_word_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.round(TXT.mean_word_len(F.col("text")), 6).alias("mean_word_len"),
        F.round(TXT.stopword_ratio(F.col("text")), 6).alias("stopword_ratio"),
    )


_WORD_STATS_DUCK = """
SELECT doc_id,
       ROUND(CAST(length(list_aggregate(regexp_extract_all(lower(text), '[a-z]+'), 'string_agg', '')) AS DOUBLE)
             / GREATEST(len(regexp_extract_all(lower(text), '[a-z]+')), 1), 6) AS mean_word_len,
       ROUND(CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is)\\b')) AS DOUBLE)
             / GREATEST(CASE WHEN length(trim(text)) = 0 THEN 0
                             ELSE len(regexp_split_to_array(trim(text), '\\s+')) END, 1), 6) AS stopword_ratio
FROM documents
"""


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.exact_dedup(_t(spark, sf_dir, "documents"))


def _q_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), n=3, threshold=0.3)


def _q_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    mh = DD.doc_minhashes(_t(spark, sf_dir, "documents"), n=3)
    cols = [F.element_at("minhashes", p + 1).alias(f"mh{p}") for p in range(MINHASH_PERMS)]
    return mh.select("doc_id", *cols)


def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.minhash_lsh_pairs(_t(spark, sf_dir, "documents"), n=3, jaccard_threshold=0.5)


def _q_emb_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.embedding_dups(_t(spark, sf_dir, "embeddings"), threshold=0.35)


def _q_emb_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.brute_force_topk(emb, queries, k=5).select("query_id", "vec_id", "cosine", "rank")


def _q_emb_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.ann_lsh_topk(emb, queries, k=5, n_bits=8, dim=64).select(
        "query_id", "vec_id", "cosine", "rank"
    )


def _q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (duplicate-line fractions map-side,
    top word-bigram char fraction via one doc-keyed groupBy)."""
    return TXT.repetition_stats(_t(spark, sf_dir, "documents"))


_REPETITION_DUCK = """
WITH base AS (
  SELECT doc_id,
    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> length(x) > 0) AS ls,
    list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), w -> length(w) > 0) AS ws
  FROM documents
),
linestats AS (
  SELECT doc_id,
    len(ls) AS n_lines,
    len(list_distinct(ls)) AS n_distinct,
    COALESCE(list_aggregate(list_transform(ls, x -> length(x)), 'sum'), 0) AS line_chars,
    COALESCE(list_aggregate(list_transform(list_distinct(ls), x -> length(x)), 'sum'), 0) AS d_chars,
    COALESCE(list_aggregate(list_transform(ws, w -> length(w)), 'sum'), 0) AS word_chars,
    ws
  FROM base
),
bg AS (
  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bigram
  FROM linestats, LATERAL unnest(generate_series(1, len(ws) - 1)) AS u(i)
  WHERE len(ws) >= 2
),
cnts AS (SELECT doc_id, bigram, COUNT(*) AS cnt FROM bg GROUP BY doc_id, bigram),
ranked AS (
  SELECT doc_id, bigram, cnt,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bigram DESC) AS rnk
  FROM cnts
)
SELECT l.doc_id,
  CAST(l.n_lines AS BIGINT) AS n_lines,
  ROUND(CAST(l.n_lines - l.n_distinct AS DOUBLE) / GREATEST(l.n_lines, 1), 6) AS dup_line_frac,
  ROUND(CAST(l.line_chars - l.d_chars AS DOUBLE) / GREATEST(l.line_chars, 1), 6) AS dup_line_char_frac,
  r.bigram AS top_bigram,
  COALESCE(ROUND(r.cnt * CAST(length(r.bigram) - 1 AS DOUBLE) / GREATEST(l.word_chars, 1), 6), 0.0) AS top_bigram_frac
FROM linestats l
LEFT JOIN (SELECT doc_id, bigram, cnt FROM ranked WHERE rnk = 1) r USING (doc_id)
"""


def _q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style keep/drop gate with named failing rules."""
    return TXT.quality_gate(_t(spark, sf_dir, "documents"))


_QUALITY_GATE_DUCK = f"""
WITH rep AS ({_REPETITION_DUCK}),
s AS (
  SELECT doc_id,
    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_words,
    ROUND(CAST(length(list_aggregate(regexp_extract_all(lower(text), '[a-z]+'), 'string_agg', '')) AS DOUBLE)
          / GREATEST(len(regexp_extract_all(lower(text), '[a-z]+')), 1), 6) AS mwl,
    ROUND(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
          / GREATEST(length(text), 1), 6) AS alpha
  FROM documents
)
-- NB: DuckDB's array_to_string returns NULL (not '') on an empty list, so
-- the zero-failures case must be COALESCEd to match Spark's array_join.
SELECT s.doc_id, s.n_words,
  COALESCE(array_to_string(list_filter([
    CASE WHEN s.alpha < 0.6 THEN 'alpha' END,
    CASE WHEN rep.dup_line_frac > 0.3 THEN 'dup_lines' END,
    CASE WHEN s.mwl < 3.0 OR s.mwl > 10.0 THEN 'mean_word_len' END,
    CASE WHEN s.n_words < 50 OR s.n_words > 100000 THEN 'n_words' END,
    CASE WHEN rep.top_bigram_frac > 0.2 THEN 'top_bigram' END
  ], x -> x IS NOT NULL), ','), '') AS reasons,
  length(COALESCE(array_to_string(list_filter([
    CASE WHEN s.alpha < 0.6 THEN 'alpha' END,
    CASE WHEN rep.dup_line_frac > 0.3 THEN 'dup_lines' END,
    CASE WHEN s.mwl < 3.0 OR s.mwl > 10.0 THEN 'mean_word_len' END,
    CASE WHEN s.n_words < 50 OR s.n_words > 100000 THEN 'n_words' END,
    CASE WHEN rep.top_bigram_frac > 0.2 THEN 'top_bigram' END
  ], x -> x IS NOT NULL), ','), '')) = 0 AS keep
FROM s JOIN rep USING (doc_id)
"""


def _q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-level duplicate line removal."""
    return DD.corpus_line_dedup(_t(spark, sf_dir, "documents"))


_LINE_DEDUP_DUCK = """
WITH base AS (
  SELECT doc_id,
    CAST(len(list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> length(x) > 0)) AS BIGINT) AS n_lines,
    string_split(text, chr(10)) AS parts
  FROM documents
),
ex AS (
  SELECT doc_id, i - 1 AS line_no, trim(parts[i]) AS line
  FROM base, LATERAL unnest(generate_series(1, len(parts))) AS u(i)
  WHERE length(trim(parts[i])) > 0
),
marked AS (
  SELECT doc_id, line_no, line,
         COUNT(*) OVER (PARTITION BY line) AS cnt,
         ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS occ
  FROM ex
),
kept AS (SELECT * FROM marked WHERE cnt < 2 OR occ = 1),
rebuilt AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         string_agg(line, chr(10) ORDER BY line_no) AS kept_text
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id, b.n_lines,
       COALESCE(r.n_kept, 0) AS n_kept,
       b.n_lines - COALESCE(r.n_kept, 0) AS n_removed,
       COALESCE(r.kept_text, '') AS kept_text
FROM base b LEFT JOIN rebuilt r USING (doc_id)
"""


def _q_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-50 token frequencies (vocabulary head)."""
    return TXT.corpus_token_topk(_t(spark, sf_dir, "documents"), k=50)


_TOKEN_TOPK_DUCK = """
WITH t AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token FROM documents
),
c AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY token),
r AS (SELECT token, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS rank FROM c)
SELECT token, cnt, CAST(rank AS INT) AS rank FROM r WHERE rank <= 50
"""


def _q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each click picks up the user's most recent
    purchase value (right side pre-aggregated to one row per (user, ts)
    for deterministic ties)."""
    from osm_public_space_mapper_spark.operators.timeseries import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    out = asof_join(clicks, purchases, by="user_id", ts="ts", value_cols=("value",))
    return out.select("event_id", "user_id", "ts", "asof_value", "asof_ts")


_ASOF_DUCK = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id, ts, MAX(value) AS value FROM events
  WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT l.event_id, l.user_id, l.ts, r.value AS asof_value, r.ts AS asof_ts
FROM clicks l ASOF LEFT JOIN purchases r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def _q_chunk_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk token offsets (distributed prefix sum)."""
    from osm_public_space_mapper_spark.operators.timeseries import concat_chunk_offsets

    return concat_chunk_offsets(_t(spark, sf_dir, "documents"), chunk_len=2048)


_CHUNK_OFFSETS_DUCK = """
WITH t AS (
  SELECT doc_id,
    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
  FROM t
)
SELECT doc_id, n_tokens, tok_start, tok_start + n_tokens AS tok_end,
  CAST(FLOOR(tok_start / 2048) AS BIGINT) AS chunk_first,
  CAST(FLOOR(GREATEST(tok_start + n_tokens - 1, tok_start) / 2048) AS BIGINT) AS chunk_last
FROM c
"""


def _q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join: purchases landing inside a 10-minute
    attribution window after any click by the same user (half-open
    [click_ts, click_ts+600s)).  DuckDB oracles the same pair set with the
    naive theta join the operator exists to avoid."""
    from osm_public_space_mapper_spark.operators.timeseries import range_join

    ev = _t(spark, sf_dir, "events")
    points = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"), "user_id", "ts"
    )
    intervals = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("i_event_id"),
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 600 SECONDS")).alias("end"),
    )
    out = range_join(points, intervals, by=("user_id",), bucket_seconds=600.0)
    return out.select(
        "p_event_id",
        "i_event_id",
        "user_id",
        (F.unix_timestamp("ts") - F.unix_timestamp("start")).cast("long").alias("lag_seconds"),
    )


_RANGE_JOIN_DUCK = """
WITH pts AS (
  SELECT event_id AS p_event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
ivs AS (
  SELECT event_id AS i_event_id, user_id, ts AS istart,
         ts + INTERVAL 600 SECOND AS iend
  FROM events WHERE event_type = 'click'
)
SELECT p.p_event_id, i.i_event_id, p.user_id,
       CAST(FLOOR(epoch(p.ts)) - FLOOR(epoch(i.istart)) AS BIGINT) AS lag_seconds
FROM pts p JOIN ivs i
  ON p.user_id = i.user_id AND p.ts >= i.istart AND p.ts < i.iend
"""


def _q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval overlap join: click sessions [ts, ts+600s) x error windows
    [ts, ts+900s) of the same user that intersect, with the overlap length."""
    from osm_public_space_mapper_spark.operators.timeseries import interval_overlap_join

    ev = _t(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("a_id"),
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 600 SECONDS")).alias("end"),
    )
    b = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("b_id"),
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 900 SECONDS")).alias("end"),
    )
    out = interval_overlap_join(a, b, by=("user_id",), bucket_seconds=900.0)
    return out.select(
        F.col("a_id_a").alias("a_id"),
        F.col("b_id_b").alias("b_id"),
        "user_id",
        (
            F.unix_timestamp(F.least("end_a", "end_b"))
            - F.unix_timestamp(F.greatest("start_a", "start_b"))
        ).cast("long").alias("overlap_seconds"),
    )


_INTERVAL_OVERLAP_DUCK = """
WITH a AS (
  SELECT event_id AS a_id, user_id, ts AS astart, ts + INTERVAL 600 SECOND AS aend
  FROM events WHERE event_type = 'click'
),
b AS (
  SELECT event_id AS b_id, user_id, ts AS bstart, ts + INTERVAL 900 SECOND AS bend
  FROM events WHERE event_type = 'error'
)
SELECT a.a_id, b.b_id, a.user_id,
       CAST(FLOOR(epoch(LEAST(a.aend, b.bend))) - FLOOR(epoch(GREATEST(a.astart, b.bstart))) AS BIGINT)
         AS overlap_seconds
FROM a JOIN b
  ON a.user_id = b.user_id AND a.astart < b.bend AND b.bstart < a.aend
"""


def _q_time_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style 6-hour rollup per event_type with gap-fill:
    zero-filled row counts and LOCF on the bucket max (max picks one exact
    input double, so both engines agree bit-for-bit)."""
    from osm_public_space_mapper_spark.operators.timeseries import time_bucket_rollup

    ev = _t(spark, sf_dir, "events")
    return time_bucket_rollup(
        ev,
        21600,
        by=("event_type",),
        aggs={"n_rows": F.count(F.lit(1)), "max_value": F.max("value")},
        gapfill=True,
        locf=("max_value",),
        fill_zero=("n_rows",),
    )


_TIME_BUCKET_ROLLUP_DUCK = """
WITH rolled AS (
  SELECT event_type,
         CAST(FLOOR(FLOOR(epoch(ts)) / 21600) * 21600 AS BIGINT) AS bucket_start,
         COUNT(*) AS n_rows, MAX(value) AS max_value
  FROM events GROUP BY 1, 2
),
spans AS (
  SELECT event_type, MIN(bucket_start) AS lo, MAX(bucket_start) AS hi FROM rolled GROUP BY 1
),
skel AS (
  SELECT event_type, UNNEST(generate_series(lo, hi, 21600)) AS bucket_start FROM spans
),
j AS (
  SELECT s.event_type, s.bucket_start, r.n_rows, r.max_value
  FROM skel s LEFT JOIN rolled r USING (event_type, bucket_start)
)
SELECT event_type, bucket_start,
       CAST(COALESCE(n_rows, 0) AS BIGINT) AS n_rows,
       LAST_VALUE(max_value IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY bucket_start
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS max_value
FROM j
"""


def _q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE INTO on an Icelite table: orders become the
    target (partitioned by o_orderstatus); every 10th key is upserted with
    a 10% price bump into a new 'U' partition (cross-partition row move)
    and re-inserted under a shifted key as a new 'N' row.  Returns the
    merged table state; DuckDB reproduces it relationally (anti-join +
    union).  `* 1.1` is IEEE-identical in both engines, so doubles pass
    through unrounded."""
    import tempfile

    from osm_public_space_mapper_spark.tables.icelite import IceliteTable

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    tbl = IceliteTable(tempfile.mkdtemp(prefix="merge_upsert_"))
    tbl.commit(orders, "o_orderstatus", stage="init")
    upd = orders.where(F.col("o_orderkey") % 10 == 0)
    src = upd.select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
    ).unionByName(
        upd.select(
            (F.col("o_orderkey") + F.lit(10_000_000)).alias("o_orderkey"),
            "o_custkey",
            F.lit("N").alias("o_orderstatus"),
            "o_totalprice",
        )
    )
    tbl.merge_into(spark, src, on="o_orderkey")
    return tbl.read(spark).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


_MERGE_UPSERT_DUCK = """
WITH src AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice * 1.1 AS o_totalprice
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_custkey, 'N', o_totalprice
  FROM orders WHERE o_orderkey % 10 = 0
)
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM src
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
FROM orders WHERE o_orderkey % 10 <> 0
"""


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the SQL-expressible seed quantizer (train=False), so
    the whole pipeline — assignment, within-cluster pairs, transitive
    closure — is hash-checked against DuckDB (recursive CTE closure)."""
    emb = _t(spark, sf_dir, "embeddings")
    return DD.semantic_dedup(emb, threshold=0.95, n_lists=16, train=False)


def _semantic_dedup_duck(threshold: float = 0.95, n_lists: int = 16) -> str:
    def cos(a: str, b: str) -> str:
        return (
            f"list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
            f" / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
            f" * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))"
        )

    return f"""
WITH RECURSIVE cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS list_id, embedding AS cemb
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {n_lists})
),
corpus_ranked AS (
  SELECT e.vec_id, e.embedding, c.list_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY ROUND({cos('e.embedding', 'c.cemb')}, 6) DESC, c.list_id ASC
         ) AS rk
  FROM embeddings e CROSS JOIN cents c
),
corpus_assign AS (SELECT vec_id, embedding, list_id FROM corpus_ranked WHERE rk = 1),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM corpus_assign a JOIN corpus_assign b
    ON a.list_id = b.list_id AND a.vec_id < b.vec_id
  WHERE ROUND({cos('a.embedding', 'b.embedding')}, 6) >= {threshold}
),
sym AS (SELECT vec_a AS s, vec_b AS d FROM pairs UNION ALL SELECT vec_b, vec_a FROM pairs),
reach AS (
  SELECT s AS node, d AS other FROM sym
  UNION
  SELECT r.node, s.d FROM reach r JOIN sym s ON s.s = r.other WHERE s.d <> r.node
),
comp AS (SELECT node, LEAST(node, MIN(other)) AS component FROM reach GROUP BY node)
SELECT ca.vec_id, ca.list_id,
       CAST(COALESCE(c.component, ca.vec_id) AS BIGINT) AS cluster_id,
       COALESCE(c.component, ca.vec_id) = ca.vec_id AS keep
FROM corpus_assign ca LEFT JOIN comp c ON c.node = ca.vec_id"""


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction with per-class audit counts (pure Catalyst regex)."""
    from osm_public_space_mapper_spark.functions.pii import pii_scrub

    return pii_scrub(_t(spark, sf_dir, "documents"))


def _q_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucketed train/val/test split."""
    from osm_public_space_mapper_spark.operators.curation import deterministic_split

    return deterministic_split(_t(spark, sf_dir, "documents"))


def _q_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota sampling (data mixing), hash-ranked."""
    from osm_public_space_mapper_spark.operators.curation import source_quota_sample

    return source_quota_sample(_t(spark, sf_dir, "documents"), quota=100)


def _q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate word-8-gram span coverage per document."""
    from osm_public_space_mapper_spark.operators.curation import dup_span_stats

    return dup_span_stats(_t(spark, sf_dir, "documents"), n=8)


def _pii_duck() -> str:
    from osm_public_space_mapper_spark.functions.pii import pii_scrub_duckdb_sql

    return pii_scrub_duckdb_sql()


def _split_duck() -> str:
    from osm_public_space_mapper_spark.operators.curation import (
        deterministic_split_duckdb_sql,
    )

    return deterministic_split_duckdb_sql()


def _quota_duck() -> str:
    from osm_public_space_mapper_spark.operators.curation import (
        source_quota_sample_duckdb_sql,
    )

    return source_quota_sample_duckdb_sql(quota=100)


def _dup_spans_duck() -> str:
    from osm_public_space_mapper_spark.operators.curation import (
        dup_span_stats_duckdb_sql,
    )

    return dup_span_stats_duckdb_sql(n=8)


def _q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (MOSS rolling-hash scheme) per document —
    count + min/max fingerprint per doc keeps the row count bounded while
    hashing every window minimum into the compared values."""
    fps = TXT.winnow_fingerprints(_t(spark, sf_dir, "documents"), k=8, w=16)
    return fps.groupBy("doc_id").agg(
        F.count("*").alias("n_fps"),
        F.min("fp").alias("min_fp"),
        F.max("fp").alias("max_fp"),
        F.sum("fp").alias("sum_fp"),
    )


_WINNOW_DUCK = f"""
WITH norm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t FROM documents
),
grams AS (
  SELECT doc_id, i AS pos, {_HASH64_DUCK.format(x="substr(t, i, 8)")} AS h
  FROM norm, LATERAL unnest(generate_series(1, length(t) - 7)) AS u(i)
  WHERE length(t) >= 8
),
wins AS (
  SELECT doc_id, pos,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS fp,
         COUNT(*) OVER (PARTITION BY doc_id) AS n
  FROM grams
),
fps AS (SELECT DISTINCT doc_id, fp FROM wins WHERE pos <= n - 15)  -- pos is 1-based here
SELECT doc_id, COUNT(*) AS n_fps, MIN(fp) AS min_fp, MAX(fp) AS max_fp,
       CAST(SUM(fp) AS BIGINT) AS sum_fp
FROM fps GROUP BY doc_id
"""


def _q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of the LSH ANN path vs exact brute-force top-5, per query."""
    k = 5
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ann = SIM.ann_lsh_topk(emb, queries, k=k, n_bits=8, dim=64).select(
        "query_id", "vec_id", F.lit(1).alias("hit")
    )
    exact = SIM.brute_force_topk(emb, queries, k=k).select("query_id", "vec_id")
    return (
        exact.join(ann, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(F.round(F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.lit(k), 6).alias("recall_at_k"))
    )


def _q_emb_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat approximate top-k (k-means coarse lists + nprobe probing).
    Training (driver-side k-means over a bounded sample) is not
    Runs the seed-quantizer variant (train=False: centroids = first-16
    vectors by vec_id, ORDER BY + LIMIT — SQL-expressible), so the DuckDB
    oracle reproduces the whole index build + probe + re-rank and the driver
    hash-checks it. The k-means-trained variant's recall + determinism are
    asserted in tests/test_dedup_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.ivf_topk(emb, queries, k=5, n_lists=16, nprobe=4, train=False).select(
        "query_id", "vec_id", "cosine", "rank"
    )


def _q_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM surprisal per document (CCNet-style quality signal);
    integer micro-nat sums keep both engines bit-identical."""
    return TXT.unigram_surprisal(_t(spark, sf_dir, "documents"))


_SURPRISAL_DUCK = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents
),
vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
tot AS (SELECT SUM(cnt) AS n_total FROM vocab),
scored AS (
  SELECT t.doc_id,
         CAST(FLOOR(ln(CAST(n_total AS DOUBLE) / CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT) AS lp
  FROM toks t JOIN vocab USING (tok) CROSS JOIN tot
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_tokens, SUM(lp) AS total_surprisal_micro
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(p.total_surprisal_micro, 0) AS BIGINT) AS total_surprisal_micro,
       CASE WHEN COALESCE(p.n_tokens, 0) > 0
            THEN CAST(FLOOR(CAST(p.total_surprisal_micro AS DOUBLE) / p.n_tokens) AS BIGINT)
            ELSE 0 END AS avg_surprisal_micro
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


def _q_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending top-3 event types per 10-minute window — the batch twin of
    the streaming trending pattern (windowed_key_counts → topk_per_window);
    stream/batch equality is pinned in tests/test_streaming.py, values
    hash-checked here."""
    from osm_public_space_mapper_spark.streaming.windows import (
        topk_per_window,
        windowed_key_counts,
    )

    ev = _t(spark, sf_dir, "events")
    return topk_per_window(windowed_key_counts(ev, window="10 minutes"), k=3)


_TRENDING_TOPK_DUCK = """
WITH c AS (
  SELECT CAST(FLOOR(FLOOR(epoch(ts)) / 600) * 600 AS BIGINT) AS window_start,
         event_type AS key, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT window_start, key, cnt,
         ROW_NUMBER() OVER (PARTITION BY window_start ORDER BY cnt DESC, key ASC) AS rank
  FROM c
)
SELECT window_start, key, cnt, CAST(rank AS INT) AS rank FROM r WHERE rank <= 3
"""


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum Bernoulli sample (data mixing): keep 50%
    of clicks, 10% of views, drop everything else — same md5-derived
    bucket draw as deterministic_split, reproduced exactly by DuckDB."""
    from osm_public_space_mapper_spark.operators.curation import stratified_sample

    ev = _t(spark, sf_dir, "events")
    return stratified_sample(
        ev, "event_type", {"click": 0.5, "view": 0.1}, id_col="event_id"
    ).select("event_id", "event_type", "user_id")


def _stratified_sample_duck() -> str:
    from osm_public_space_mapper_spark.operators.curation import (
        stratified_sample_duckdb_sql,
    )

    return stratified_sample_duckdb_sql(
        "events", "event_type", {"click": 0.5, "view": 0.1},
        id_col="event_id", select="event_id, event_type, user_id",
    )


_ZORDER_SPECS = [("o_custkey", 0.0, 1500.0), ("o_totalprice", 0.0, 500000.0)]


def _q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) key over two order dimensions — the clustering key
    `cluster_by_zorder` range-partitions by; pure bit-interleave
    expressions, engine-portable."""
    from osm_public_space_mapper_spark.operators.layout import zorder_key

    o = _t(spark, sf_dir, "orders")
    specs = [(F.col(c), lo, hi) for c, lo, hi in _ZORDER_SPECS]
    return o.select("o_orderkey", zorder_key(specs, bits=16).alias("zval"))


def _zorder_duck() -> str:
    from osm_public_space_mapper_spark.operators.layout import zorder_duckdb_expr

    return (
        f"SELECT o_orderkey, CAST({zorder_duckdb_expr(_ZORDER_SPECS, bits=16)} AS BIGINT)"
        " AS zval FROM orders"
    )


def _q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a BPE tokenizer on the documents table and return the top-50
    token vocabulary head (rows-only: the merge loop is inherently
    iterative — pinned by hand-computed merges + invariants in
    tests/test_bpe.py)."""
    from osm_public_space_mapper_spark.operators.bpe import bpe_vocab_usage, train_bpe

    docs = _t(spark, sf_dir, "documents")
    merges = train_bpe(docs, num_merges=120)
    return bpe_vocab_usage(docs, merges, k=50)


def _q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode with the SQL-expressible seed codebooks (first-16 vectors,
    8 subspaces × 16 codes): every engine step — split, micro-distance,
    argmin with code-asc tie-break — is integer-exact, so DuckDB reproduces
    the codes bit-for-bit. One (vec_id, s, code) row per subspace, so the
    output holds scalars only."""
    from osm_public_space_mapper_spark.operators.similarity import (
        pq_encode,
        seed_pq_codebooks,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cb = seed_pq_codebooks(emb, m=8, ksub=16)
    return pq_encode(emb, cb).select("vec_id", F.posexplode("codes").alias("s", "code"))


def _q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC top-5 by L2 with seed codebooks; integer micro-distance sums
    make the ranking order-independent and engine-portable."""
    from osm_public_space_mapper_spark.operators.similarity import (
        pq_topk,
        seed_pq_codebooks,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cb = seed_pq_codebooks(emb, m=8, ksub=16)
    return pq_topk(emb, queries, cb, k=5)


def _pq_duck_ctes(m: int = 8, ksub: int = 16, dsub: int = 8) -> str:
    def dist(a: str, b: str) -> str:
        terms = " + ".join(
            f"(CAST({a}[sv.s*{dsub}+{i+1}] AS DOUBLE) - CAST({b}[sv.s*{dsub}+{i+1}] AS DOUBLE))"
            f" * (CAST({a}[sv.s*{dsub}+{i+1}] AS DOUBLE) - CAST({b}[sv.s*{dsub}+{i+1}] AS DOUBLE))"
            for i in range(dsub)
        )
        return f"CAST(FLOOR(({terms}) * 1000000) AS BIGINT)"

    return f"""
cb AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS code, embedding AS cemb
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {ksub})
),
sv AS (SELECT unnest(range({m})) AS s),
dists AS (
  SELECT e.vec_id, sv.s, cb.code, {dist('e.embedding', 'cb.cemb')} AS dm
  FROM embeddings e CROSS JOIN sv CROSS JOIN cb
),
codes AS (
  SELECT vec_id, s, code FROM (
    SELECT vec_id, s, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dm ASC, code ASC) AS rn
    FROM dists
  ) WHERE rn = 1
),
luts AS (
  SELECT q.query_id, sv.s, cb.code, {dist('q.qemb', 'cb.cemb')} AS dm
  FROM (SELECT vec_id AS query_id, embedding AS qemb FROM embeddings WHERE vec_id % 50 = 0) q
  CROSS JOIN sv CROSS JOIN cb
)
"""


_PQ_CODES_DUCK = (
    "WITH " + _pq_duck_ctes().strip()
    + "\nSELECT vec_id, s, code FROM codes"
)

_PQ_TOPK_DUCK = (
    "WITH " + _pq_duck_ctes().strip()
    + """,
adist AS (
  SELECT l.query_id, c.vec_id, CAST(SUM(l.dm) AS BIGINT) AS adist_micro
  FROM codes c JOIN luts l ON l.s = c.s AND l.code = c.code
  GROUP BY 1, 2
)
SELECT query_id, vec_id, adist_micro, CAST(rank AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist_micro ASC, vec_id ASC) AS rank
  FROM adist
) WHERE rank <= 5
"""
)


def _q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: persisted inverted lists of PQ codes, manifest-pruned probe
    reads, ADC scoring (rows-only: the k-means trainers are iterative; the
    IVF and PQ halves are individually hash-checked by `ivf_topk` /
    `pq_topk`, and the composed path is pinned exactly vs numpy in
    tests/test_dedup_similarity.py)."""
    import tempfile

    from osm_public_space_mapper_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = tempfile.mkdtemp(prefix="ivfpq_idx_")
    build_ivfpq_index(emb, path, n_lists=8, m=16, ksub=32, sample=500, iters=8)
    return ivfpq_topk(spark, path, queries, k=5, nprobe=3)


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.simhash64(_t(spark, sf_dir, "documents"), bits=64)


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded hamming near-dup pairs (exact for hamming ≤ n_bands−1).

    r04: 64-bit fingerprints / 16-bit band keys — the scale-safe regime
    (65 536 buckets per band instead of the r03 256), guarded by the same
    salted hot-bucket block grid as minhash_lsh_pairs."""
    return DD.simhash_hamming_pairs(
        _t(spark, sf_dir, "documents"), bits=64, max_hamming=3, n_bands=4
    )


def _q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-pipeline dedup (r04): the surviving document set
    after BOTH exact dedup (one keeper per normalized-content fingerprint —
    catches short docs with no shingles) and MinHash-LSH near-dup removal
    (drop any doc whose verified Jaccard ≥ 0.5 partner has a smaller id —
    the deterministic keep-first rule; chains resolve to their minimum id).
    This is the survivors = corpus ∖ tombstones contract a data pipeline
    actually materializes; both stages are single declarative plans."""
    docs = _t(spark, sf_dir, "documents")
    keeps = DD.exact_dedup(docs).select(F.col("keep_doc_id").alias("doc_id"))
    near_tomb = (
        DD.minhash_lsh_pairs(docs, 3, 0.5)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return keeps.join(near_tomb, "doc_id", "left_anti").orderBy("doc_id")


def _dedup_survivors_sql_duck() -> str:
    pairs = _minhash_pairs_sql_duck(3, 0.5)
    return f"""
WITH keeps AS (
  SELECT MIN(doc_id) AS doc_id
  FROM (SELECT doc_id, md5({_NORM}) AS fp FROM documents) GROUP BY fp
),
tomb AS (SELECT DISTINCT doc_b AS doc_id FROM ({pairs}))
SELECT k.doc_id FROM keeps k LEFT JOIN tomb t ON t.doc_id = k.doc_id
WHERE t.doc_id IS NULL
"""


def _q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-closure near-dup clusters (r05): alternating large-star /
    small-star connected components over the minhash_lsh_pairs edge set —
    a~b and b~c collapse {a,b,c} into one cluster labelled by its min doc_id
    even when the a~c pair was never emitted. Oracled by a DuckDB recursive
    CTE computing the same closure."""
    from osm_public_space_mapper_spark.operators.graph import dup_clusters

    return dup_clusters(_t(spark, sf_dir, "documents"), 3, 0.5).orderBy("doc_id")


def _dup_clusters_sql_duck() -> str:
    pairs = _minhash_pairs_sql_duck(3, 0.5)
    return f"""
WITH RECURSIVE
p AS (SELECT doc_a, doc_b FROM ({pairs})),
e AS (SELECT doc_a AS u, doc_b AS v FROM p UNION SELECT doc_b, doc_a FROM p),
reach(u, v) AS (
  SELECT u, v FROM e
  UNION
  SELECT r.u, e2.v FROM reach r JOIN e e2 ON e2.u = r.v WHERE e2.v <> r.u
),
cc AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id FROM reach GROUP BY u)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM cc ORDER BY doc_id
"""


def _q_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One keeper per transitive near-dup cluster: the corpus minus every
    cluster member that is not its cluster's canonical minimum (anti-join;
    the corpus side never collects)."""
    from osm_public_space_mapper_spark.operators.graph import cluster_survivors, dup_clusters

    docs = _t(spark, sf_dir, "documents")
    return cluster_survivors(docs, dup_clusters(docs, 3, 0.5)).orderBy("doc_id")


def _cluster_survivors_sql_duck() -> str:
    clusters = _dup_clusters_sql_duck()
    return f"""
SELECT d.doc_id FROM documents d
LEFT JOIN (SELECT doc_id FROM ({clusters}) WHERE doc_id <> cluster_id) t
  ON t.doc_id = d.doc_id
WHERE t.doc_id IS NULL
ORDER BY d.doc_id
"""


_TOMB_SEQ = [0]


def _q_simhash_stream_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup tombstones replayed over the documents table as an
    availableNow file stream (event time synthesized as doc_id seconds — the
    same total order the DuckDB oracle uses), then reduced to the distinct
    tombstoned doc ids. Exercises the stateful hamming-verified band
    operator end to end under the driver's hash check; the horizon covers
    the whole table, so a doc is tombstoned iff some earlier doc is within
    hamming 3 — exactly `SELECT DISTINCT doc_b FROM <batch pairs>`."""
    import shutil
    import tempfile

    from osm_public_space_mapper_spark.streaming.dedup import simhash_stream_tombstones

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    _TOMB_SEQ[0] += 1
    name = f"simhash_tomb_q{_TOMB_SEQ[0]}"
    staged = tempfile.mkdtemp(prefix="tombsrc_")
    ckpt = tempfile.mkdtemp(prefix="tombckpt_")
    try:
        docs.write.mode("overwrite").parquet(staged)
        stream = (
            spark.readStream.schema(spark.read.parquet(staged).schema)
            .parquet(staged)
            .withColumn(
                "ts",
                F.to_timestamp(F.lit("2026-01-01 00:00:00")) + F.make_dt_interval(secs=F.col("doc_id")),
            )
        )
        out = simhash_stream_tombstones(stream, watermark="3650 days")
        q = (
            out.writeStream.format("memory").queryName(name)
            .outputMode("append").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
        return (
            spark.table(name)
            .select("doc_id")
            .distinct()
            .orderBy("doc_id")
        )
    finally:
        shutil.rmtree(staged, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def _simhash_stream_tombstones_sql_duck() -> str:
    """A doc is tombstoned iff an earlier (smaller doc_id = earlier event
    time) doc lies within hamming 3 — the later end of every batch pair."""
    pairs = _simhash_pairs_sql_duck(64, 3, 4)
    return f"SELECT DISTINCT doc_b AS doc_id FROM ({pairs})"


def _simhash_duck_ctes(bits: int = 64) -> str:
    # bit 63: the vote mask 2^63 hugeint-promotes (h sign-extends, so the
    # AND still isolates the 64-bit sign bit), and the reconstruction term
    # must be the two's-complement −2^63 — CAST(2^63 AS BIGINT) overflows.
    # Terms are emitted in ascending-bit order, so partial sums of the
    # reconstruction stay within BIGINT (≤ 2^63−1 before the final negative
    # bit-63 term) — mirrors dedup._bit_mask_lit.
    votes = ", ".join(
        f"SUM(CASE WHEN (h & {1 << b}) > 0 THEN 1 ELSE -1 END) AS v{b}" for b in range(bits)
    )
    recon = " + ".join(
        f"CASE WHEN v{b} > 0 THEN CAST({(1 << b) if b < 63 else -(1 << 63)} AS BIGINT) ELSE 0 END"
        for b in range(bits)
    )
    return f"""toks AS (
  SELECT doc_id, unnest(list_distinct(string_split({_NORM}, ' '))) AS tok FROM documents
),
hashed AS (SELECT doc_id, {_HASH64_DUCK.format(x='tok')} AS h FROM toks),
votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id),
sh AS (SELECT doc_id, {recon} AS simhash FROM votes)"""


def _simhash_sql_duck(bits: int = 64) -> str:
    return f"WITH {_simhash_duck_ctes(bits)}\nSELECT doc_id, simhash FROM sh"


def _simhash_pairs_sql_duck(bits: int = 64, max_hamming: int = 3, n_bands: int = 4) -> str:
    """Mirror of dedup.simhash_hamming_pairs: band equi-join candidates
    (pigeonhole-exact for hamming < n_bands) + bit_count verify."""
    bw = bits // n_bands
    mask = (1 << bw) - 1
    return f"""
WITH {_simhash_duck_ctes(bits)},
bands AS (
  SELECT doc_id, simhash, b.band, (simhash >> (b.band * {bw})) & {mask} AS key
  FROM sh, (SELECT unnest(range({n_bands})) AS band) b
),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
         l.simhash AS sa, r.simhash AS sb
  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key
  WHERE l.doc_id < r.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(sa, sb)) <= {max_hamming}
"""


# --- spatial queries (rows-only driver check; numpy-oracled in tests/) ------


def _q_pip_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_public_space_mapper_spark.operators import joins

    images = _images(spark, 2000)
    return (
        joins.pip_join_raster(images, _tiles(spark))
        .groupBy("space_category", "access")
        .agg(F.count("*").alias("n_images"))
    )


def _q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_public_space_mapper_spark.operators import joins

    images = _images(spark, 500)
    layer = _polygon_layer(spark)
    cents = joins.walkable_centroids(layer)
    return joins.knn_join(images, cents, k=3, res=9, ring=2).select(
        "image_id", "rank", "nn_category", "nn_access", F.round("dist", 3).alias("dist_m")
    )


def _q_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_public_space_mapper_spark.operators import tiling

    layer = _polygon_layer(spark)
    tiles = tiling.rasterize_tiles(layer, tile_res=10, px=0.25)
    return tiles.select(
        "tile_cell", "space_category", "access", "mask_hash", F.round("area", 2).alias("area_m2")
    )


def _q_image_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule invariants on rows that went THROUGH the engine (PIP join
    shuffle + joins), compared against an independently regenerated source:
    decoded-pixel PSNR round-trip + exact caption equality."""
    from osm_public_space_mapper_spark.operators import joins
    from osm_public_space_mapper_spark.operators.imageops import verify_invariants

    images = _images(spark, 200, with_pixels=True)
    assigned = joins.pip_join_raster(images, _tiles(spark)).select("image_id", "space_category")
    post_engine = images.join(assigned, "image_id")
    source = _images(spark, 200, with_pixels=True)  # independent regeneration
    inv = verify_invariants(post_engine, source=source)
    return inv.agg(
        F.count("*").alias("n_images"),
        F.sum(F.when(F.col("pixels_ok"), 1).otherwise(0)).alias("n_pixels_ok"),
        F.sum(F.when(F.col("caption_ok"), 1).otherwise(0)).alias("n_caption_ok"),
        F.round(F.min("psnr_db"), 2).alias("min_psnr_db"),
    )


def _q_image_phash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup pairs (rows-only: PNG decode + DCT are
    not DuckDB-expressible; the exact numpy brute-force oracle lives in
    tests/test_images_codec.py). Fixture = 200 deterministic images + the
    first 40 re-encoded under new ids → 40 guaranteed hamming-0 pairs."""
    from osm_public_space_mapper_spark.operators.imageops import image_phash_dups

    base = _images(spark, 200, with_pixels=True).select("image_id", "bytes", "w", "h", "fmt")
    dups = base.orderBy("image_id").limit(40).select(
        F.concat(F.lit("dup-"), F.col("image_id")).alias("image_id"), "bytes", "w", "h", "fmt"
    )
    return image_phash_dups(base.unionByName(dups), max_hamming=3).orderBy("img_a", "img_b")


def _q_phash_pairs_carried(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked relational pin of the image near-dup JOIN (r05): the
    banded hamming join + salted hot-bucket guard (dedup.hamming_fp_pairs —
    the exact operator image_phash_dups runs) over a CARRIED 64-bit
    fingerprint column, DuckDB-oracled bit-for-bit. Complements the
    decode-side numpy oracle: image_phash_dups pins decode → DCT pHash,
    this row pins the banding/salting/verify relational machinery with a
    green driver row. The fingerprint column is synthesized
    deterministically IN SQL on both engines (the driver's DuckDB views
    carry no image table): 10-doc groups share an md5-derived base hash and
    low-4-bit perturbations give in-group hamming 0-4, so the <=3 verify
    genuinely discards candidates and all 4 bands participate."""
    from osm_public_space_mapper_spark.functions.text import hash64
    from osm_public_space_mapper_spark.operators.dedup import hamming_fp_pairs

    fps = _t(spark, sf_dir, "documents").select(
        "doc_id",
        hash64((F.col("doc_id") % 50).cast("string"))
        .bitwiseXOR(F.col("doc_id") % 16)
        .alias("phash"),
    )
    return (
        hamming_fp_pairs(fps, "doc_id", "phash", bits=64, max_hamming=3, n_bands=4)
        .select(
            F.col("doc_a").alias("img_a"),
            F.col("doc_b").alias("img_b"),
            "hamming",
        )
        .orderBy("img_a", "img_b")
    )


def _phash_pairs_carried_sql_duck() -> str:
    base = _HASH64_DUCK.format(x="CAST(doc_id % 50 AS VARCHAR)")
    return f"""
WITH fp AS (
  SELECT doc_id, xor({base}, doc_id % 16) AS phash FROM documents
),
bands AS (
  SELECT doc_id, phash, b.band, (phash >> (b.band * 16)) & 65535 AS key
  FROM fp, (SELECT unnest(range(4)) AS band) b
),
cand AS (
  SELECT DISTINCT l.doc_id AS img_a, r.doc_id AS img_b,
         l.phash AS pa, r.phash AS pb
  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key
  WHERE l.doc_id < r.doc_id
)
SELECT img_a, img_b, CAST(bit_count(xor(pa, pb)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(pa, pb)) <= 3
ORDER BY img_a, img_b
"""


def _q_transcode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus normalization to one codec (r05, rows-only: JPEG entropy
    coding is not DuckDB-expressible; the exact decode-fidelity oracle is
    tests/test_images_codec.py::test_transcode_images_normalizes_corpus).
    Deterministic output: per-source-format row counts + total output bytes
    (the from-scratch encoder is a pure function of the pixels)."""
    from osm_public_space_mapper_spark.operators.imageops import transcode_images

    images = _images(spark, 200, with_pixels=True).select(
        "image_id", "bytes", "w", "h", "fmt"
    ).withColumn("src_fmt", F.col("fmt"))
    out = transcode_images(images, to_fmt="jpeg", quality=90)
    return (
        out.groupBy("src_fmt")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("fmt") == "jpeg", 1).otherwise(0)).alias("n_jpeg"),
            F.sum(F.length("bytes")).alias("total_bytes_out"),
        )
        .orderBy("src_fmt")
    )


def _q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_public_space_mapper_spark.operators.imageops import image_features

    images = _images(spark, 200, with_pixels=True)
    f = image_features(images)
    return f.select(
        "image_id",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("luma_std", 4).alias("luma_std"),
        F.round("edge_energy", 4).alias("edge_energy"),
    )


def _q_image_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blur / entropy / dynamic-range curation signals over decoded pixels
    (rows-only here; numpy-exact oracle in tests/test_images_codec.py)."""
    from osm_public_space_mapper_spark.operators.imageops import image_quality

    images = _images(spark, 200, with_pixels=True)
    q = image_quality(images)
    return q.select(
        "image_id",
        F.round("blur_score", 4).alias("blur_score"),
        F.round("entropy", 4).alias("entropy"),
        F.round("dynamic_range", 4).alias("dynamic_range"),
    )


def _q_image_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-only container metadata (no decode): magic-byte format,
    IHDR/SOF geometry, text chunks (rows-only; byte-level oracle in
    tests/test_images_codec.py)."""
    from osm_public_space_mapper_spark.operators.imageops import image_metadata

    images = _images(spark, 200, with_pixels=True)
    m = image_metadata(images)
    return m.select(
        "image_id", "fmt_detected", "meta_width", "meta_height",
        "bit_depth", "n_channels", "parse_ok",
    )


def _q_image_multihash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dHash near-dup pairs over decoded pixels: one decode pass computes
    all three hash families; the banded join runs on the dHash column
    (rows-only here; numpy brute-force oracle in tests)."""
    from osm_public_space_mapper_spark.operators.imageops import image_hash_dups

    images = _images(spark, 300, with_pixels=True)
    dups = (
        images.limit(30)
        .select(
            F.concat(F.lit("dup-"), F.col("image_id")).alias("image_id"),
            "bytes", "w", "h", "fmt",
        )
    )
    corpus = images.select("image_id", "bytes", "w", "h", "fmt").unionByName(dups)
    return image_hash_dups(corpus, method="dhash", max_hamming=3).orderBy("img_a", "img_b")


def _q_cell_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-encode throughput op: images per res-12 cell (skew showcase).

    Input is the Weyl-deterministic images table (pure-arithmetic synth), so
    the whole geotag→LAEA-project→cell-encode chain — including the from-
    scratch Snyder ellipsoidal projection in geo/laea.py — is reproduced and
    hash-checked by the DuckDB oracle (_cell_hist_sql_duck)."""
    from osm_public_space_mapper_spark.fixtures.images import weyl_images_spark
    from osm_public_space_mapper_spark.operators import joins

    _ensure_pyfiles(spark)
    images = joins.with_cells(joins.project_points(joins.with_geotag(weyl_images_spark(spark, 5000))))
    return images.groupBy("cell").agg(F.count("*").alias("n_images"))


def _cell_hist_sql_duck(n: int = 5000) -> str:
    """Reproduces _q_cell_histogram end-to-end in DuckDB SQL: Weyl image
    synthesis (generate_series + identical double arithmetic), phash
    quantization, the Snyder ellipsoidal LAEA forward (geo/laea.py constants
    embedded as repr literals — exact double round-trip), and the 64-bit
    cell encode at res 12. Trig ulp differences between numpy and libm only
    matter within ~1e-9 m of a 64 m cell edge — negligible at any n."""
    from osm_public_space_mapper_spark.cells.grid import cell_side
    from osm_public_space_mapper_spark.fixtures.elements import BBOX_4326
    from osm_public_space_mapper_spark.fixtures.images import _HOTSPOTS, WEYL_X, WEYL_Y
    from osm_public_space_mapper_spark.geo import laea

    import numpy as np

    rad = repr(float(np.deg2rad(1.0)))
    e, e2 = repr(laea._E.item()), repr(laea._E2)
    inv_2e = repr(1.0 / (2.0 * laea._E.item()))
    qp, lon0 = repr(laea._QP), repr(float(laea._LON0))
    sb1, cb1 = repr(laea._SIN_B1.item()), repr(laea._COS_B1.item())
    rq, d = repr(laea._RQ.item()), repr(laea._D.item())
    fe, fn = repr(laea._FE), repr(laea._FN)
    left, dlon = repr(BBOX_4326["left"]), repr(BBOX_4326["right"] - BBOX_4326["left"])
    bottom, dlat = repr(BBOX_4326["bottom"]), repr(BBOX_4326["top"] - BBOX_4326["bottom"])
    side = repr(cell_side(12))

    def frac(c: str) -> str:
        return f"(({c}) - floor({c}))"

    fx_seq, fy_seq = f"(i * {WEYL_X!r})", f"(i * {WEYL_Y!r})"
    hx = f"(CASE WHEN (i % 10) = 0 THEN {_HOTSPOTS[0][0]!r} ELSE {_HOTSPOTS[1][0]!r} END)"
    hy = f"(CASE WHEN (i % 10) = 0 THEN {_HOTSPOTS[0][1]!r} ELSE {_HOTSPOTS[1][1]!r} END)"
    fx = f"(CASE WHEN (i % 5) = 0 THEN {hx} + ({frac(fx_seq)} - 0.5) * 0.02 ELSE {frac(fx_seq)} * 0.998 + 0.001 END)"
    fy = f"(CASE WHEN (i % 5) = 0 THEN {hy} + ({frac(fy_seq)} - 0.5) * 0.02 ELSE {frac(fy_seq)} * 0.998 + 0.001 END)"

    def q_of(s: str) -> str:
        return (
            f"((1.0 - {e2}) * (({s}) / (1.0 - {e2} * ({s}) * ({s}))"
            f" - {inv_2e} * ln((1.0 - {e} * ({s})) / (1.0 + {e} * ({s})))))"
        )

    return f"""
WITH ids AS (SELECT CAST(range AS DOUBLE) AS i, range AS id FROM range(0, {n})),
fracs AS (SELECT id, {fx} AS fx, {fy} AS fy FROM ids),
geo AS (
  SELECT id,
         {left} + floor(fx * 4294967296.0) / 4294967296.0 * {dlon} AS lon,
         {bottom} + floor(fy * 4294967296.0) / 4294967296.0 * {dlat} AS lat
  FROM fracs
),
ang AS (
  SELECT id,
         asin(least(greatest({q_of('sin(lat * ' + rad + ')')} / {qp}, -1.0), 1.0)) AS beta,
         lon * {rad} - {lon0} AS dl
  FROM geo
),
proj AS (
  SELECT id,
         ({rq} * sqrt(2.0 / (1.0 + {sb1} * sin(beta) + {cb1} * cos(beta) * cos(dl))))
           * {d} * cos(beta) * sin(dl) + {fe} AS x,
         (({rq} * sqrt(2.0 / (1.0 + {sb1} * sin(beta) + {cb1} * cos(beta) * cos(dl))))
           / {d}) * ({cb1} * sin(beta) - {sb1} * cos(beta) * cos(dl)) + {fn} AS y
  FROM ang
),
cells AS (
  SELECT (CAST(12 AS BIGINT) << 58)
         + (CAST(floor(x / {side}) AS BIGINT) << 29)
         + CAST(floor(y / {side}) AS BIGINT) AS cell
  FROM proj
)
SELECT cell, COUNT(*) AS n_images FROM cells GROUP BY cell
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # relational (oracle-checked)
        "q1_pricing_summary": _sql_query(_Q1, "lineitem"),
        "q3_segment_revenue": _sql_query(_Q3, "customer", "orders", "lineitem"),
        "q5_region_nation_revenue": _sql_query(_Q5, "region", "nation", "customer", "orders", "lineitem", "supplier"),
        "top3_orders_per_segment": _sql_query(_TOP3, "customer", "orders"),
        "customers_without_orders": _sql_query(_ANTI, "customer", "orders"),
        "events_pivot_by_type": _sql_query(_PIVOT, "events"),
        "rollup_customer_balance": _sql_query(_ROLLUP, "region", "nation", "customer"),
        "events_sessionization": _sql_query(_SESS_SPARK, "events"),
        "events_grid_agg": _sql_query(_GRID, "events"),
        # text / dedup / similarity (oracle-checked)
        "doc_token_stats": _q_doc_tokens,
        "doc_quality": _q_doc_quality,
        "doc_lang_guess": _q_lang,
        "doc_winnow_fingerprints": _q_winnow,
        "doc_word_stats": _q_word_stats,
        "doc_repetition_stats": _q_repetition,
        "doc_surprisal": _q_surprisal,
        "doc_quality_gate": _q_quality_gate,
        "corpus_line_dedup": _q_line_dedup,
        "corpus_token_topk": _q_token_topk,
        "bpe_vocab_topk": _q_bpe_vocab,
        "pii_scrub": _q_pii_scrub,
        "deterministic_split": _q_split,
        "stratified_sample_events": _q_stratified_sample,
        "zorder_orders": _q_zorder,
        "trending_topk_events": _q_trending_topk,
        "source_quota_sample": _q_quota,
        "dup_span_stats": _q_dup_spans,
        "semantic_dedup": _q_semantic_dedup,
        "asof_join_events": _q_asof,
        "range_join_events": _q_range_join,
        "interval_overlap_events": _q_interval_overlap,
        "time_bucket_rollup_events": _q_time_bucket_rollup,
        "merge_upsert_orders": _q_merge_upsert,
        "concat_chunk_offsets": _q_chunk_offsets,
        "exact_dedup": _q_exact_dedup,
        "ngram_jaccard_pairs": _q_jaccard,
        "minhash_signatures": _q_minhash_sig,
        "minhash_lsh_pairs": _q_minhash_pairs,
        "simhash": _q_simhash,
        "simhash_hamming_pairs": _q_simhash_pairs,
        "simhash_stream_tombstones": _q_simhash_stream_tombstones,
        "dedup_survivors": _q_dedup_survivors,
        "dup_clusters": _q_dup_clusters,
        "dup_cluster_survivors": _q_cluster_survivors,
        "embedding_dups": _q_emb_dups,
        "embedding_topk": _q_emb_topk,
        "ann_lsh_topk": _q_emb_ann,
        "ann_lsh_recall": _q_ann_recall,
        "ivf_topk": _q_emb_ivf,
        "pq_codes": _q_pq_codes,
        "pq_topk": _q_pq_topk,
        "ivfpq_topk": _q_ivfpq_topk,
        # spatial / image engine ops (rows-only here; numpy-oracled in tests/)
        "pip_assign_counts": _q_pip_counts,
        "knn_walkable": _q_knn,
        "tile_masks": _q_tiles,
        "image_invariants": _q_image_invariants,
        "image_features": _q_image_features,
        "image_quality": _q_image_quality,
        "image_metadata": _q_image_metadata,
        "image_dhash_dups": _q_image_multihash_dups,
        "image_phash_dups": _q_image_phash_dups,
        "transcode_jpeg": _q_transcode_jpeg,
        "phash_hamming_pairs_carried": _q_phash_pairs_carried,
        "image_cell_histogram": _q_cell_histogram,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q1_pricing_summary": _Q1,
        "q3_segment_revenue": _Q3,
        "q5_region_nation_revenue": _Q5,
        "top3_orders_per_segment": _TOP3,
        "customers_without_orders": _ANTI,
        "events_pivot_by_type": _PIVOT,
        "rollup_customer_balance": _ROLLUP,
        "events_sessionization": _SESS_DUCK,
        "events_grid_agg": _GRID,
        "doc_token_stats": _TOKEN_DUCK,
        "doc_quality": _QUALITY_DUCK,
        "doc_lang_guess": _lang_sql_duck(),
        "doc_winnow_fingerprints": _WINNOW_DUCK,
        "doc_word_stats": _WORD_STATS_DUCK,
        "doc_repetition_stats": _REPETITION_DUCK,
        "doc_surprisal": _SURPRISAL_DUCK,
        "doc_quality_gate": _QUALITY_GATE_DUCK,
        "corpus_line_dedup": _LINE_DEDUP_DUCK,
        "corpus_token_topk": _TOKEN_TOPK_DUCK,
        "pii_scrub": _pii_duck(),
        "deterministic_split": _split_duck(),
        "stratified_sample_events": _stratified_sample_duck(),
        "zorder_orders": _zorder_duck(),
        "trending_topk_events": _TRENDING_TOPK_DUCK,
        "source_quota_sample": _quota_duck(),
        "dup_span_stats": _dup_spans_duck(),
        "semantic_dedup": _semantic_dedup_duck(),
        "asof_join_events": _ASOF_DUCK,
        "range_join_events": _RANGE_JOIN_DUCK,
        "interval_overlap_events": _INTERVAL_OVERLAP_DUCK,
        "time_bucket_rollup_events": _TIME_BUCKET_ROLLUP_DUCK,
        "merge_upsert_orders": _MERGE_UPSERT_DUCK,
        "concat_chunk_offsets": _CHUNK_OFFSETS_DUCK,
        "exact_dedup": _DEDUP_DUCK,
        "ngram_jaccard_pairs": _jaccard_sql_duck(3, 0.3),
        "minhash_signatures": _minhash_sql_duck(3),
        "minhash_lsh_pairs": _minhash_pairs_sql_duck(3, 0.5),
        "simhash": _simhash_sql_duck(64),
        "simhash_hamming_pairs": _simhash_pairs_sql_duck(64, 3, 4),
        "simhash_stream_tombstones": _simhash_stream_tombstones_sql_duck(),
        "dedup_survivors": _dedup_survivors_sql_duck(),
        "dup_clusters": _dup_clusters_sql_duck(),
        "dup_cluster_survivors": _cluster_survivors_sql_duck(),
        "phash_hamming_pairs_carried": _phash_pairs_carried_sql_duck(),
        "embedding_dups": _EMB_DUPS_DUCK,
        "embedding_topk": _TOPK_DUCK,
        "ann_lsh_topk": _ann_sql_duck(),
        "ann_lsh_recall": _ann_recall_sql_duck(),
        "ivf_topk": _ivf_sql_duck(),
        "pq_codes": _PQ_CODES_DUCK,
        "pq_topk": _PQ_TOPK_DUCK,
        "image_cell_histogram": _cell_hist_sql_duck(),
    }
