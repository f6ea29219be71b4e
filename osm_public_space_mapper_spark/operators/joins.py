"""J12/J13 — the flagship image-side spatial joins (north rule).

J12 point-in-polygon assignment: geo-tagged image rows (lon/lat derived from
phash bits, FIXTURES.md §2) are bucketed by fine cell; the classified polygon
layer is exploded onto the cells its bbox covers; equi-join on cell, then an
Arrow-vectorized PIP refine per cell group. No broadcast of either side — the
shuffle key is the cell id, skew handled by AQE + optional salting of dense
cells (see bench).

J13 kNN: k nearest walkable-space centroids per image via cell-ring candidate
generation (ring join) + window `row_number() ≤ k` — SURVEY.md §2.5 J13/§2.7.

Both have numpy brute-force oracles in tests (join-output row equality,
SURVEY.md §5.2 layer 3).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..fixtures.elements import BBOX_4326
from ..functions.geometry import bbox_expr, cover_expr
from ..geo.arrowgeom import np_parts
from ..geo.kernels import points_in_polygon

JOIN_RES_DEFAULT = 12  # 64 m join buckets
KNN_RES_DEFAULT = 9    # 512 m kNN candidate cells

WALKABLE_CATEGORIES = ("open space", "greenspace", "play and sports")


def with_geotag(images: DataFrame) -> DataFrame:
    """Derive (lon, lat) from phash bits — pure JVM expressions.

    lon = left + (phash & 0xFFFFFFFF)/2^32·Δlon ; lat from the high 32 bits
    (unsigned shift: phash may use bit 63)."""
    lo = F.col("phash").bitwiseAND(F.lit(0xFFFFFFFF))
    hi = F.shiftrightunsigned(F.col("phash"), 32)
    dlon = BBOX_4326["right"] - BBOX_4326["left"]
    dlat = BBOX_4326["top"] - BBOX_4326["bottom"]
    return images.withColumn(
        "lon", F.lit(BBOX_4326["left"]) + lo.cast("double") / F.lit(2.0**32) * F.lit(dlon)
    ).withColumn(
        "lat", F.lit(BBOX_4326["bottom"]) + hi.cast("double") / F.lit(2.0**32) * F.lit(dlat)
    )


def with_cells(images: DataFrame, res: int = JOIN_RES_DEFAULT, coarse_res: int = 7) -> DataFrame:
    """Attach join cell + coarse partition-pruning cell (cell7).

    Precondition: projected ``x, y`` are present (``project_points`` — every
    caller already runs it first). Encoding from x/y in pure Catalyst
    expressions is bit-identical to the old lon/lat pandas UDF (the UDF
    re-ran the same laea_forward on the same doubles) and removes an
    ArrowEvalPython node from every image-table build."""
    from ..functions.geometry import cell_expr

    cell = cell_expr(res)
    cell7 = cell_expr(coarse_res)
    return images.withColumn("cell", cell(F.col("x"), F.col("y"))).withColumn(
        "cell7", cell7(F.col("x"), F.col("y"))
    )


def explode_layer_to_cells(layer: DataFrame, res: int = JOIN_RES_DEFAULT) -> DataFrame:
    """Polygon layer rows → one row per covering join cell, with a
    deterministic polygon_id (stable across partitionings)."""
    cover = cover_expr(res, halo=0)
    out = layer.withColumn(
        "polygon_id", F.xxhash64(F.col("overlay_cell"), F.col("space_category"), F.col("access"))
    )
    out = out.withColumn("_bbox", bbox_expr(F.col("geom")))
    out = out.withColumn(
        "cell",
        F.explode(cover(F.col("_bbox.xmin"), F.col("_bbox.ymin"), F.col("_bbox.xmax"), F.col("_bbox.ymax"))),
    ).drop("_bbox")
    return out


_PIP_OUT = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("polygon_id", T.LongType()),
        T.StructField("space_category", T.StringType()),
        T.StructField("access", T.StringType()),
    ]
)


def pip_join(images: DataFrame, layer: DataFrame, res: int = JOIN_RES_DEFAULT) -> DataFrame:
    """Assign each image to the polygon covering it (J12).

    Plan: COGROUP images and exploded polygons on the cell key, refine with a
    vectorized PIP per cell group. Cogroup (not join) is load-bearing: a
    row-level join would duplicate each heavyweight polygon-geometry payload
    onto every matching image row; cogrouping ships each polygon to its cell
    exactly once. Broadcast-free by construction — both sides shuffle on the
    cell key only."""
    imgs = images.select("image_id", "x", "y", "cell")
    polys = explode_layer_to_cells(layer, res).select(
        "cell", "polygon_id", "space_category", "access", "geom"
    )

    def _refine(key, img_pdf: pd.DataFrame, poly_pdf: pd.DataFrame) -> pd.DataFrame:
        out_img, out_pid, out_cat, out_acc = [], [], [], []
        if len(img_pdf) and len(poly_pdf):
            px = img_pdf["x"].to_numpy()
            py = img_pdf["y"].to_numpy()
            ids = img_pdf["image_id"].to_numpy()
            for _, prow in poly_pdf.sort_values("polygon_id").iterrows():
                rings = np_parts(prow["geom"])
                if not rings:
                    continue
                hit = points_in_polygon(px, py, rings)
                if hit.any():
                    sel = np.nonzero(hit)[0]
                    out_img.extend(ids[sel].tolist())
                    out_pid.extend([prow["polygon_id"]] * len(sel))
                    out_cat.extend([prow["space_category"]] * len(sel))
                    out_acc.extend([prow["access"]] * len(sel))
        return pd.DataFrame(
            {"image_id": out_img, "polygon_id": out_pid, "space_category": out_cat, "access": out_acc}
        )

    return imgs.groupBy("cell").cogroup(polys.groupBy("cell")).applyInPandas(_refine, _PIP_OUT)


def subdivide_tiles(tiles: DataFrame, group_res: int) -> DataFrame:
    """Split per-tile class masks into per-subcell mask slices at `group_res`.

    Parallelism of the raster PIP join is bounded by the number of groups;
    coarse tiles (res 10 = 256 m) would cap it at a handful of tasks on a
    small extent. Slicing each mask to its res-`group_res` descendants keeps
    total payload constant while multiplying group count by 4^(Δres).

    Each slice's pixel window is taken from its sub-cell's bounds, so when
    `px` does not divide the sub-cell side the window also holds the pixels
    that straddle its edges (they appear in both neighbouring slices)."""
    out_schema = T.StructType(
        [
            T.StructField("tile_cell", T.LongType()),
            T.StructField("space_category", T.StringType()),
            T.StructField("access", T.StringType()),
            T.StructField("mask", T.BinaryType()),
            T.StructField("mask_w", T.IntegerType()),
            T.StructField("mask_h", T.IntegerType()),
            T.StructField("ox", T.DoubleType()),
            T.StructField("oy", T.DoubleType()),
            T.StructField("px", T.DoubleType()),
        ]
    )

    def _slice(batches):
        from ..cells.grid import cell_side, decode_cells, pack_cells

        side = cell_side(group_res)
        for pdf in batches:
            out = {f.name: [] for f in out_schema.fields}
            for _, row in pdf.iterrows():
                w, h = int(row["mask_w"]), int(row["mask_h"])
                mask = np.unpackbits(np.frombuffer(row["mask"], dtype=np.uint8), count=w * h).reshape(h, w)
                res, ix, iy = decode_cells(np.array([row["tile_cell"]], dtype=np.int64))
                shift = group_res - int(res[0])
                n = 1 << shift  # subcells per axis
                edges = [int(np.floor(k * side / row["px"])) for k in range(n)]
                ends = [int(np.ceil((k + 1) * side / row["px"])) for k in range(n)]
                k = np.arange(n, dtype=np.int64)
                sub_cells = pack_cells(group_res, (ix[0] << shift) | k[:, None], (iy[0] << shift) | k).tolist()
                for sx in range(n):
                    x0, x1 = edges[sx], min(w, ends[sx])
                    for sy in range(n):
                        y0, y1 = edges[sy], min(h, ends[sy])
                        sub = mask[y0:y1, x0:x1]
                        if not sub.any():
                            continue
                        out["tile_cell"].append(sub_cells[sx][sy])
                        out["space_category"].append(row["space_category"])
                        out["access"].append(row["access"])
                        out["mask"].append(np.packbits(sub, axis=None).tobytes())
                        out["mask_w"].append(x1 - x0)
                        out["mask_h"].append(y1 - y0)
                        out["ox"].append(row["ox"] + x0 * row["px"])
                        out["oy"].append(row["oy"] + y0 * row["px"])
                        out["px"].append(row["px"])
            yield pd.DataFrame(out)

    return tiles.select(
        "tile_cell", "space_category", "access", "mask", "mask_w", "mask_h", "ox", "oy", "px"
    ).mapInPandas(_slice, out_schema)


def pip_join_raster(
    images: DataFrame,
    tiles: DataFrame,
    tile_res: int = 10,
    group_res: int = 13,
    salt: int = 0,
    id_col: str = "image_id",
) -> DataFrame:
    """J12 batch lane: assign images via per-subcell class-mask lookup.

    Slices the tile masks to ``group_res`` (``subdivide_tiles``), then runs
    the Catalyst mask-bit join of ``streaming/geofence.py`` shuffle-hash
    partitioned on ``tile_cell`` — broadcast-free, the ``pip_join_expr``
    operator distributed the other way. ``salt > 0`` is explicit skew
    salting (north rule): dense cells split into ``salt`` sub-groups on
    ``(tile_cell, _salt)``; the small mask slices replicate per salt id.

    ``tile_res == group_res`` declares the mask side is ALREADY at
    ``group_res`` granularity (e.g. a stored ``subdivide_tiles`` output
    bucketed by tile_cell) — the slice kernel is skipped so both sides keep
    their stored partitioning and the unsalted join plans with zero
    Exchange (tests/test_bucketed.py asserts this).

    The tile masks are rasterized from the SAME pixel lattice the vector
    layer's rings trace, so a pixel lookup equals the vector PIP answer for
    any point not exactly on a pixel-edge line (measure zero) — verified
    against both the vector join and the numpy brute force in tests.

    Output: ``image_id`` (``id_col`` renamed), ``space_category, access,
    tile_cell``."""
    from ..streaming.geofence import _mask_join

    if group_res > tile_res:
        tiles = subdivide_tiles(tiles, group_res)
    out = _mask_join(images, tiles, group_res, id_col, (), salt=salt)
    return out.withColumnRenamed(id_col, "image_id")


def project_points(images: DataFrame) -> DataFrame:
    """Attach projected (x, y) via one Arrow-vectorized UDF."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.StructType([T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())]))
    def _proj(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        from ..geo.laea import laea_forward

        x, y = laea_forward(lon.to_numpy(), lat.to_numpy())
        return pd.DataFrame({"x": x, "y": y}, index=lon.index)

    # marked nondeterministic so the optimizer keeps the call in this one
    # projection: otherwise a join's inferred isnotnull(tile_cell) filter is
    # pushed below it with the UDF inlined, and an un-cached frame runs the
    # UDF twice (two ArrowEvalPython nodes)
    out = images.withColumn("_xy", _proj.asNondeterministic()(F.col("lon"), F.col("lat")))
    return out.withColumn("x", F.col("_xy.x")).withColumn("y", F.col("_xy.y")).drop("_xy")


def layer_centroids(layer: DataFrame) -> DataFrame:
    """Area-weighted centroid per polygon-layer row (shoelace centroid over
    the even-odd ring set)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.StructType([T.StructField("cx", T.DoubleType()), T.StructField("cy", T.DoubleType())]))
    def _centroid(geom: pd.Series) -> pd.DataFrame:
        cxs, cys = [], []
        for g in geom:
            rings = np_parts(g)
            a_sum, cx_sum, cy_sum = 0.0, 0.0, 0.0
            for ring in rings:
                if len(ring) < 3:
                    continue
                x, y = ring[:, 0], ring[:, 1]
                x2, y2 = np.roll(x, -1), np.roll(y, -1)
                cross = x * y2 - x2 * y
                a = cross.sum() / 2.0
                if a == 0:
                    continue
                cx_sum += ((x + x2) * cross).sum() / 6.0
                cy_sum += ((y + y2) * cross).sum() / 6.0
                a_sum += a
            if a_sum == 0:
                cxs.append(float("nan"))
                cys.append(float("nan"))
            else:
                cxs.append(cx_sum / a_sum)
                cys.append(cy_sum / a_sum)
        return pd.DataFrame({"cx": cxs, "cy": cys}, index=geom.index)

    out = layer.withColumn(
        "polygon_id", F.xxhash64(F.col("overlay_cell"), F.col("space_category"), F.col("access"))
    )
    out = out.withColumn("_c", _centroid(F.col("geom")))
    return out.select(
        "polygon_id", "space_category", "access",
        F.col("_c.cx").alias("cx"), F.col("_c.cy").alias("cy"),
    ).filter(F.col("cx").isNotNull())


def knn_join(
    images: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    res: int = KNN_RES_DEFAULT,
    ring: int = 1,
    max_ring: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """k nearest walkable centroids per image (J13).

    Candidate generation: centroid cell exploded to its (2·ring+1)² neighbor
    cells; image joined on its own cell → every centroid within `ring` cells
    is a candidate. Exact for k-NN when the k-th neighbor lies within
    ring·cell_side of the image. With `max_ring` set, images whose result is
    NOT provably exact at this ring (fewer than k candidates, or k-th
    candidate farther than ring·cell_side — the guaranteed-coverage radius)
    escalate to doubled rings until exact or max_ring is reached — the
    sparse-region fallback a 100× scale-up needs. Refine: distance +
    row_number.

    checkpoint_dir: when set, every level's resolved rows commit to an
    Icelite stage table via commit_resumable (per-partition lineage metrics;
    a rerun pointed at the same dir — crash recovery, or an idempotent
    re-invocation — skips (stage, rank)-partitions the manifest already
    records instead of appending duplicates: levels are deterministic, so
    the skipped rows are exactly the rows the rerun would recompute) and the
    RETURNED frame reads back from it — a flat parquet-scan plan whose depth
    does not grow with escalation levels, instead of a union tree of cached
    window/join plans. Level caches are unpersisted as soon as the commit
    materializes them. Without checkpoint_dir (ad-hoc local use) levels are
    cached and unioned in memory; those per-level result caches stay alive
    because the returned plan references them — only superseded `remaining`
    frontiers are released."""
    if max_ring is not None and max_ring > ring:
        from ..cells.grid import cell_side

        side = cell_side(res)
        tbl = None
        if checkpoint_dir is not None:
            from ..tables.icelite import IceliteTable

            tbl = IceliteTable(checkpoint_dir)
        out = None
        remaining = images
        r = ring
        while True:
            # materialize each level: the next level's anti-join must not
            # re-derive this level's whole candidate plan (recursive
            # recompute blow-up)
            res_df = knn_join(remaining, centroids, k=k, res=res, ring=r).cache()
            if r >= max_ring:
                if tbl is not None:
                    tbl.commit_resumable(res_df, "rank", stage=f"knn-ring-{r}")
                    res_df.unpersist()
                else:
                    out = res_df if out is None else out.unionByName(res_df)
                break
            proven = (
                res_df.groupBy("image_id")
                .agg(F.count("*").alias("n"), F.max("dist").alias("kth"))
                .filter((F.col("n") >= k) & (F.col("kth") <= r * side))
                .select("image_id")
            )
            resolved = res_df.join(proven, "image_id", "left_semi")
            if tbl is not None:
                tbl.commit_resumable(resolved, "rank", stage=f"knn-ring-{r}")
            else:
                out = resolved if out is None else out.unionByName(resolved)
            next_remaining = remaining.join(proven, "image_id", "left_anti").cache()
            is_done = next_remaining.isEmpty()  # materializes next_remaining (and res_df)
            # the superseded frontier is no longer referenced by any future
            # plan (next levels build on next_remaining; the checkpoint path's
            # return is a flat scan) — release it now that its successor is
            # materialized. In the ad-hoc path res_df caches must survive:
            # the returned union still reads them.
            if remaining is not images:
                remaining.unpersist()
            if tbl is not None:
                res_df.unpersist()
            remaining = next_remaining
            if is_done:
                break
            r = min(r * 4, max_ring)
        if remaining is not images:
            remaining.unpersist()
        if tbl is not None:
            spark = images.sparkSession
            return tbl.read(spark).select(
                "image_id", "rank", "polygon_id", "nn_category", "nn_access", "dist"
            )
        return out

    from ..functions.geometry import cell_expr

    # the `ring` neighbourhood of the centroid's cell (cells.grid.neighbors)
    # is the halo cover of its degenerate point bbox
    cx, cy = F.col("cx"), F.col("cy")
    cands = centroids.withColumn("cell", F.explode(cover_expr(res, halo=ring)(cx, cy, cx, cy)))
    imgs = images.withColumn("knn_cell", cell_expr(res)(F.col("x"), F.col("y")))
    # broadcast-free: never let the (potentially 10^12-row) image side be
    # size-estimated into a broadcast; shuffle both sides on the cell key
    joined = imgs.join(cands.hint("shuffle_hash"), imgs["knn_cell"] == cands["cell"]).select(
        "image_id", "x", "y", "polygon_id",
        F.col("space_category").alias("nn_category"),
        F.col("access").alias("nn_access"),
        "cx", "cy",
    )
    joined = joined.withColumn(
        "dist", F.sqrt((F.col("x") - F.col("cx")) ** 2 + (F.col("y") - F.col("cy")) ** 2)
    )
    w = Window.partitionBy("image_id").orderBy(F.col("dist").asc(), F.col("polygon_id").asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("image_id", "rank", "polygon_id", "nn_category", "nn_access", "dist")
    )


def walkable_centroids(layer: DataFrame) -> DataFrame:
    """Centroids of walkable space: access='yes' in the walkable categories."""
    walkable = layer.filter(
        F.col("access").eqNullSafe("yes") & F.col("space_category").isin(*WALKABLE_CATEGORIES)
    )
    return layer_centroids(walkable)
