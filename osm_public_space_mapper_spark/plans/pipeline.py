"""The flagship classify → polygonize → overlay pipeline as a Spark plan.

Mirrors the reference's single entry point
(data_analysis/full_data_analysis.py:22-187) stage by stage, but as a lazy
DataFrame program: classification is pure Catalyst expressions, the barrier
join is a cell-bucketed equi-join (operators/barriers.py), and the entire
geometry tail (J3-J11) runs as ONE per-cell grouped-map kernel
(operators/overlay_core.py) — one shuffle on the overlay cell key instead of
the reference's nine sequential global overlay passes.

Scale notes (SURVEY.md §3.2): stage boundaries are shuffles on
`overlay_cell`; elements are exploded onto the cells their buffered bbox
touches, so the kernel is embarrassingly parallel over cells. The bbox and
the cell cover are Catalyst expressions (functions/geometry.bbox_expr /
cover_expr), and so is the LAEA projection (st_project), so the only Python
in the layer build is the per-group kernels (barrier resolve, overlay,
tiling). Line buffering is deferred into the kernel (raster): no vector buffer.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cells.grid import cell_bbox as cell_bbox_np
from ..config import VIENNA, RegionalConfig
from ..functions import classify
from ..functions import predicates as P
from ..functions.geometry import GEOM_TYPE, bbox_expr, cover_expr
from ..geo.arrowgeom import np_parts
from ..geo.laea import laea_forward
from ..operators import clean
from ..operators.barriers import interpret_barriers
from ..operators.graph import _pinned_ids, _release_ids
from ..operators.overlay_core import ElementRecord, OverlayConfig, run_overlay

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
    action. The pinned RDD lives until `release_overlay_records`; like any
    localCheckpoint it sits on executor storage only (see there)."""
    region = region or VIENNA
    sc = classified.sparkSession.sparkContext
    before = _pinned_ids(sc)
    classified = classified.localCheckpoint(eager=True)

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
    records._overlay_pinned = [(sc, _pinned_ids(sc) - before)]
    return records


def release_overlay_records(df: DataFrame) -> None:
    """Release the eager localCheckpoint behind a `build_overlay_records`
    frame (or a `run_pipeline` layer built from one).

    Call it only once everything derived from the records has been
    materialized somewhere that does not read them back (e.g. the layer
    written to parquet and re-read): the frame and every frame derived
    from it are unusable afterwards. Even before release, a
    localCheckpoint lives on executor storage only, so losing an executor
    loses its blocks and fails the next action on these frames — at
    cluster scale commit the records to a table instead."""
    for sc, ids in getattr(df, "_overlay_pinned", []):
        _release_ids(sc, ids)


_OVERLAY_OUT = T.StructType(
    [
        T.StructField("overlay_cell", T.LongType()),
        T.StructField("space_category", T.StringType()),
        T.StructField("access", T.StringType()),
        T.StructField("geom", GEOM_TYPE),
        T.StructField("area", T.DoubleType()),
        T.StructField("core_area", T.DoubleType()),
        T.StructField("completeness_gap", T.DoubleType()),
    ]
)


def overlay_stage(records: DataFrame, cfg: OverlayConfig, overlay_res: int = OVERLAY_RES_DEFAULT) -> DataFrame:
    """Explode records onto overlay cells, run the kernel per cell."""
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

    def _run(pdf: pd.DataFrame) -> pd.DataFrame:
        cell = int(pdf["overlay_cell"].iloc[0])
        xmin, ymin, xmax, ymax = (float(v[0]) for v in cell_bbox_np(np.array([cell])))
        recs_list = [
            ElementRecord(
                element_id=int(row["element_id"]),
                role=row["role"],
                geom_kind=row["geom_kind"],
                parts=np_parts(row["geom"]),
                space_category=row["space_category"],
                access_tags=row["access_tags"] if isinstance(row["access_tags"], str) else None,
                assumed_access=row["assumed_access"] if isinstance(row["assumed_access"], str) else None,
                buf_width=float(row["buf_width"]),
                cap_style=row["cap_style"],
            )
            for _, row in pdf.iterrows()
        ]
        result = run_overlay(recs_list, (xmin, ymin, xmax, ymax), cfg)
        out = {
            "overlay_cell": [], "space_category": [], "access": [], "geom": [],
            "area": [], "core_area": [], "completeness_gap": [],
        }
        for r in result.rows:
            out["overlay_cell"].append(cell)
            out["space_category"].append(r["space_category"])
            out["access"].append(r["access"])
            out["geom"].append([p.tolist() for p in r["parts"]])
            out["area"].append(r["area"])
            out["core_area"].append(result.metrics.get("core_area", 0.0))
            out["completeness_gap"].append(result.metrics.get("completeness_gap", 0.0))
        return pd.DataFrame(out)

    return recs.groupBy("overlay_cell").applyInPandas(_run, _OVERLAY_OUT)


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
    layer._overlay_pinned = records._overlay_pinned  # release_overlay_records(layer) works too
    return layer
