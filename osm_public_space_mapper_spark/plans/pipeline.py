"""The flagship classify → polygonize → overlay pipeline as a Spark plan.

Mirrors the reference's single entry point
(data_analysis/full_data_analysis.py:22-187) stage by stage, but as a lazy
DataFrame program: classification is pure Catalyst expressions, the barrier
join is a cell-bucketed equi-join (operators/barriers.py), and the entire
geometry tail (J3-J11) runs as ONE per-cell grouped-map kernel — one
shuffle on the overlay cell key instead of the reference's nine sequential
global overlay passes. `overlay_stage` hands each cell's group of record
rows straight to operators/overlay_core.run_overlay, which returns the
cell's layer rows in its own `LAYER_SCHEMA`; this module knows neither the
kernel's record decoding nor its row layout.

Scale notes (SURVEY.md §3.2): stage boundaries are shuffles on
`overlay_cell`; elements are exploded onto the cells their buffered bbox
touches, so the kernel is embarrassingly parallel over cells. The bbox and
the cell cover are Catalyst expressions (functions/geometry.bbox_expr /
cover_expr), and so is the LAEA projection (st_project), so the only Python
in the layer build is the per-group kernels (barrier resolve, overlay) and
the per-row mask slicer that cuts the tiles from the overlay's masks. Line
buffering is deferred into the kernel (raster): no vector buffer.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import VIENNA, RegionalConfig
from ..functions import classify
from ..functions import predicates as P
from ..functions.geometry import bbox_expr, cover_expr
from ..geo.laea import laea_forward
from ..operators import clean
from ..operators.barriers import interpret_barriers
from ..operators.overlay_core import LAYER_SCHEMA, OverlayConfig, run_overlay
from ..session import pin

OVERLAY_RES_DEFAULT = 10  # 256 m cells


def projected_bbox_ring(left: float, bottom: float, right: float, top: float) -> np.ndarray:
    """The reference's BoundingBox.geom_projected: project the 4 corners
    (bounding_box.py:30-37)."""
    lons = np.array([left, right, right, left])
    lats = np.array([top, top, bottom, bottom])
    x, y = laea_forward(lons, lats)
    return np.stack([x, y], axis=1)


def classify_stage(elements: DataFrame) -> DataFrame:
    """Stages 1-6 of the reference trace (load→clean→classify→split) as ONE
    frame: buildings are marked `_building` and stamped like the
    reference's split (analyse_space_type.py:5-20), then every row is
    classified. The classifiers are write-once and the parking access
    overwrite skips building rows, so the stamp survives."""
    df = clean.clean_chain(elements)
    b = P.is_building()
    stamp = {"space_type": "building", "access": "undefined", "access_derived_from": "undefined"}
    df = df.withColumns({"_building": b, **{c: F.when(b, v).otherwise(F.col(c)) for c, v in stamp.items()}})
    return classify.set_traffic_space_type(classify.interpret_tags(df))


def _role_records(df: DataFrame, roles: list[tuple]) -> DataFrame:
    """One record per (row, role whose condition holds) in one projection.

    A role is (name, condition, space_category, assumed_access, buf_width,
    cap_style); the last four are literals or columns of `df`."""
    hits = [
        F.when(cond, F.struct(
            F.lit(name).alias("role"),
            F.lit(category).cast("string").alias("space_category"),
            F.lit(assumed).cast("string").alias("assumed_access"),
            F.lit(width).cast("double").alias("buf_width"),
            F.lit(cap).alias("cap_style"),
        ))
        for name, cond, category, assumed, width, cap in roles
    ]
    return df.select(
        "element_id", "geom_kind", "geom", F.col("access").alias("access_tags"),
        F.explode(F.filter(F.array(*hits), lambda r: r.isNotNull())).alias("_r"),
    ).select("element_id", "geom_kind", "geom", "access_tags", "_r.*")


def build_overlay_records(classified: DataFrame, region: RegionalConfig | None = None) -> DataFrame:
    """Emit the kernel input rows: one record per (role, element).

    Roles: element | building | road | rail | pedestrian | platform | passage
           | barrier_inacc  (see overlay_core docstring). `region` supplies
    the street/rail/pedestrian width tables (default Vienna/RSV).

    The `classify_stage` frame is materialized by ONE eager
    localCheckpoint: a single Catalyst scan of the elements with no Python
    node. The checkpoint stays because each of its readers (the two role
    projections and both sides of the barrier join) would otherwise re-scan
    and re-classify the elements: without it, spatial perfbench cold CPU
    was 32.45 / 26.78 s against 19.38 / 20.47 s (seeds 4-5, 4 cores). The
    barrier join (`interpret_barriers`) is not checkpointed: it runs inside
    the job that consumes the records, so consume them once (e.g. one
    `overlay_stage` whose layer is cached) rather than re-reading them per
    action. The pinned RDD lives until `session.release(records)` (see
    `session.pin` for what a localCheckpoint gives up).

    Over local elements (`elements_to_spark`) Catalyst folds the whole
    classification into that one scan at optimization time, so the
    checkpoint job only copies rows."""
    region = region or VIENNA
    classified = pin(classified)

    st = F.col("space_type")
    line = P.is_linestring()
    line_or_poly = line | P.is_poly_like()
    is_road, is_walk = st.eqNullSafe("road"), st.eqNullSafe("walking area")
    road_w = F.when(line, F.round(classify.road_width(region) / 2.0, 1) * 2.0).otherwise(0.0)
    rail_half = F.when(P.teq("railway", "tram"), region.tram_width / 2.0).otherwise(region.train_width / 2.0)
    rail_w = F.when(line, F.round(rail_half, 1) * 2.0).otherwise(0.0)
    walk_w = region.pedestrian_way_default_width
    ped_w = F.when(line, F.when(P.teq("highway", "living_street"), 2.0 * walk_w).otherwise(walk_w)).otherwise(0.0)
    # building passages clip buildings (J3): accessible passage lines,
    # emitted as well as their road / pedestrian record
    passage = line & P.is_building_passage() & (F.col("access").isNull() | F.col("access").eqNullSafe("yes"))
    # traffic layers keep their pre-drop rows (full_data_analysis.py:72-89);
    # building rows carry space_type 'building', so only `_building` picks them
    from_classified = _role_records(classified, [
        ("road", is_road & line_or_poly, "road", None, road_w, "square"),
        ("rail", st.eqNullSafe("rail") & line_or_poly, "rail", None, rail_w, "flat"),
        # 'walking area' ∈ SPACE_TYPES_WITH_ACCESS
        ("pedestrian", is_walk & line_or_poly, "walking area", "yes", ped_w, "square"),
        ("passage", is_road & passage, "road", None, road_w, "square"),
        ("passage", is_walk & passage, "walking area", "yes", ped_w, "square"),
        ("building", F.col("_building"), "building", None, 0.0, "square"),
    ])

    # the reference drops traffic rows BEFORE barrier analysis; its main
    # dataset tail (full_data_analysis.py:122-145) is row-local: poly_like
    # already excludes the linestrings and entrance points it drops, and
    # rows whose space type stays undefined drop
    rest = interpret_barriers(clean.drop_road_rail_walking(classified.filter(~F.col("_building"))))
    rest = classify.set_space_category(classify.set_missing_space_types(rest))
    element = P.is_poly_like() & st.isNotNull()
    from_rest = _role_records(rest, [
        ("barrier_inacc", P.is_barrier() & F.col("access").eqNullSafe("no") & line, None, None, 0.0, "square"),
        ("element", element, F.col("space_category"), classify.assumed_access(), 0.0, "square"),
        ("platform", element & st.eqNullSafe("public transport stop"), None, None, 0.0, "square"),
    ])

    records = from_classified.unionByName(from_rest)
    records._pinned = classified._pinned
    return records


def overlay_stage(records: DataFrame, cfg: OverlayConfig, overlay_res: int = OVERLAY_RES_DEFAULT) -> DataFrame:
    """Explode records onto overlay cells; `run_overlay` turns each cell's
    group into its layer rows (`LAYER_SCHEMA`).

    Each layer row carries its vector rings (`geom`) and the raster mask
    they trace (`mask` … `px`, cropped to the cell's core window): the one
    raster the tiles are cut from (`tiling.rasterize_tiles`)."""
    margin = cfg.margin
    cover = cover_expr(overlay_res, halo=0)
    recs = records.withColumn("_bbox", bbox_expr(F.col("geom")))
    half = F.col("buf_width") / 2.0 + F.lit(margin)
    recs = recs.withColumn(
        "overlay_cell",
        F.explode(
            cover(
                F.col("_bbox.xmin") - half,
                F.col("_bbox.ymin") - half,
                F.col("_bbox.xmax") + half,
                F.col("_bbox.ymax") + half,
            )
        ),
    ).drop("_bbox")
    return recs.groupBy("overlay_cell").applyInPandas(lambda pdf: run_overlay(pdf, cfg), LAYER_SCHEMA)


def run_pipeline(
    elements: DataFrame,
    cfg: OverlayConfig,
    overlay_res: int = OVERLAY_RES_DEFAULT,
    region: RegionalConfig | None = None,
) -> DataFrame:
    """elements (raw 4326) → public-space polygon layer
    (overlay_cell, space_category, access, geom, area).

    `region` parameterizes BOTH the classify-stage width tables and the
    overlay kernel's pedestrian-width uses (J8 building-cropper band + road
    close radius, reference analyse_traffic_area.py:273) — a non-Vienna
    region is consistent end-to-end without touching operator code."""
    records = build_overlay_records(classify_stage(elements), region=region)
    if region is not None:
        import dataclasses

        cfg = dataclasses.replace(cfg, pedestrian_width=region.pedestrian_way_default_width)
    layer = overlay_stage(records, cfg, overlay_res)
    layer._pinned = records._pinned  # session.release(layer) frees the records
    return layer
