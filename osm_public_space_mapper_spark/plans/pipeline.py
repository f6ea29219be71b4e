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
cover_expr), so the only Python in the layer build is `st_project` and the
per-group kernels (barrier resolve, overlay, tiling). Line buffering is
deferred into the kernel (raster), so no vector buffer op exists anywhere.
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


def classify_stage(elements: DataFrame) -> dict[str, DataFrame]:
    """Stages 1-6 of the reference trace (load→clean→classify→split)."""
    df = clean.clean_chain(elements)
    rest, buildings = clean.get_and_drop_buildings(df)
    rest = classify.interpret_tags(rest)
    rest = classify.set_traffic_space_type(rest)
    return {"dataset": rest, "buildings": buildings}


def _assume_access_col():
    return (
        F.when(F.col("space_type").isin(classify.SPACE_TYPES_WITH_ACCESS), "yes")
        .when(F.col("space_type").isin(classify.SPACE_TYPES_RESTRICTED), "restricted")
        .when(F.col("space_type").isin(classify.SPACE_TYPES_NO_ACCESS), "no")
        .otherwise("unknown")
    )


def build_overlay_records(stages: dict[str, DataFrame], region: RegionalConfig | None = None) -> DataFrame:
    """Emit the kernel input rows: one record per (role, element).

    Roles: element | building | road | rail | pedestrian | platform | passage
           | barrier_inacc  (see overlay_core docstring). `region` supplies
    the street/rail/pedestrian width tables (default Vienna/RSV)."""
    region = region or VIENNA
    # Truncate the classify plan before fanning out (guide §3.3: very wide
    # unions re-analyze and re-execute every branch's subtree). The records
    # frame unions 8 role branches, 6 of which re-derive the FULL
    # clean→classify chain: without materialization each action re-ran the
    # chain per branch and Catalyst re-analyzed the giant tree 8× (measured
    # ~4 s per action on the 25-row fixture, pure plan overhead). One eager
    # localCheckpoint per input runs the chain once and makes every branch a
    # leaf scan. At scale this is the same trade: 8 recomputes of the
    # classify chain vs one materialization of the classified dataset.
    # The three pinned RDDs live until release_overlay_records.
    sc = stages["dataset"].sparkSession.sparkContext
    before = _pinned_ids(sc)
    dataset = stages["dataset"].localCheckpoint(eager=True)
    buildings = stages["buildings"].localCheckpoint(eager=True)

    st = F.col("space_type")
    is_road = st.eqNullSafe("road")
    is_rail_t = st.eqNullSafe("rail")
    is_walk = st.eqNullSafe("walking area")

    # traffic layers keep their pre-drop rows (full_data_analysis.py:72-89)
    roads = dataset.filter(is_road & (P.is_linestring() | P.is_poly_like())).select(
        "element_id", "geom_kind", "geom", "tags", "access",
        F.lit("road").alias("role"),
        F.lit("road").alias("space_category"),
        F.lit(None).cast("string").alias("assumed_access"),
        F.when(P.is_linestring(), F.round(classify.road_width(region) / 2.0, 1) * 2.0).otherwise(F.lit(0.0)).alias("buf_width"),
        F.lit("square").alias("cap_style"),
    )
    rails = dataset.filter(is_rail_t & (P.is_linestring() | P.is_poly_like())).select(
        "element_id", "geom_kind", "geom", "tags", "access",
        F.lit("rail").alias("role"),
        F.lit("rail").alias("space_category"),
        F.lit(None).cast("string").alias("assumed_access"),
        F.when(
            P.is_linestring(),
            F.round(
                F.when(P.teq("railway", "tram"), F.lit(region.tram_width / 2.0))
                .otherwise(F.lit(region.train_width / 2.0)),
                1,
            )
            * 2.0,
        ).otherwise(F.lit(0.0)).alias("buf_width"),
        F.lit("flat").alias("cap_style"),
    )
    peds = dataset.filter(is_walk & (P.is_linestring() | P.is_poly_like())).select(
        "element_id", "geom_kind", "geom", "tags", "access",
        F.lit("pedestrian").alias("role"),
        F.lit("walking area").alias("space_category"),
        F.lit("yes").alias("assumed_access"),  # 'walking area' ∈ SPACE_TYPES_WITH_ACCESS
        F.when(
            P.is_linestring(),
            F.when(P.teq("highway", "living_street"), F.lit(2.0 * region.pedestrian_way_default_width))
            .otherwise(F.lit(region.pedestrian_way_default_width)),
        ).otherwise(F.lit(0.0)).alias("buf_width"),
        F.lit("square").alias("cap_style"),
    )
    # building passages clip buildings (J3): accessible passages only
    passages = (roads.unionByName(peds)).filter(
        P.is_building_passage() & (F.col("access").isNull() | F.col("access").eqNullSafe("yes")) & P.is_linestring()
    ).withColumn("role", F.lit("passage"))

    # reference drops traffic rows from the dataset BEFORE barrier analysis
    rest = clean.drop_road_rail_walking(dataset)
    # interpret_barriers is itself a deep when-chain reused by two branches
    # (barrier_lines + the element/platform tail) — truncate it once too
    rest = interpret_barriers(rest).localCheckpoint(eager=True)
    barrier_lines = rest.filter(P.is_barrier() & F.col("access").eqNullSafe("no") & P.is_linestring()).select(
        "element_id", "geom_kind", "geom", "tags", "access",
        F.lit("barrier_inacc").alias("role"),
        F.lit(None).cast("string").alias("space_category"),
        F.lit(None).cast("string").alias("assumed_access"),
        F.lit(0.0).alias("buf_width"),
        F.lit("square").alias("cap_style"),
    )

    # main dataset tail (full_data_analysis.py:122-145)
    rest = clean.drop_linestring_barriers_and_entrance_points(rest)
    rest = clean.drop_all_linestrings(rest)
    rest = classify.set_missing_space_types(rest)
    rest = clean.drop_elements_with_undefined_space_type(rest)
    rest = classify.set_space_category(rest)
    elements = rest.filter(P.is_poly_like()).select(
        "element_id", "geom_kind", "geom", "tags", "access",
        F.lit("element").alias("role"),
        F.col("space_category"),
        _assume_access_col().alias("assumed_access"),
        F.lit(0.0).alias("buf_width"),
        F.lit("square").alias("cap_style"),
    )
    platforms = rest.filter(st.eqNullSafe("public transport stop") & P.is_poly_like()).select(
        "element_id", "geom_kind", "geom", "tags", "access",
        F.lit("platform").alias("role"),
        F.lit(None).cast("string").alias("space_category"),
        F.lit(None).cast("string").alias("assumed_access"),
        F.lit(0.0).alias("buf_width"),
        F.lit("square").alias("cap_style"),
    )
    bld = buildings.select(
        "element_id", "geom_kind", "geom", "tags", "access",
        F.lit("building").alias("role"),
        F.lit("building").alias("space_category"),
        F.lit(None).cast("string").alias("assumed_access"),
        F.lit(0.0).alias("buf_width"),
        F.lit("square").alias("cap_style"),
    )
    records = elements.unionByName(bld).unionByName(roads).unionByName(rails) \
        .unionByName(peds).unionByName(platforms).unionByName(passages).unionByName(barrier_lines)
    records = records.withColumnRenamed("access", "access_tags").drop("tags")
    records._overlay_pinned = [(sc, _pinned_ids(sc) - before)]
    return records


def release_overlay_records(df: DataFrame) -> None:
    """Release the three eager localCheckpoints behind a
    `build_overlay_records` frame (or a `run_pipeline` layer built from one).

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

    bbox_ring_list = cfg.bbox_ring.tolist() if cfg.bbox_ring is not None else None
    px, mg, bbox, pw = cfg.px, cfg.margin, cfg.bbox, cfg.pedestrian_width

    def _run(pdf: pd.DataFrame) -> pd.DataFrame:
        cell = int(pdf["overlay_cell"].iloc[0])
        xmin, ymin, xmax, ymax = (float(v[0]) for v in cell_bbox_np(np.array([cell])))
        kcfg = OverlayConfig(
            px=px, margin=mg, bbox=bbox,
            bbox_ring=np.asarray(bbox_ring_list, np.float64) if bbox_ring_list is not None else None,
            pedestrian_width=pw,
        )
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
        result = run_overlay(recs_list, (xmin, ymin, xmax, ymax), kcfg)
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
    stages = classify_stage(elements)
    records = build_overlay_records(stages, region=region)
    if region is not None:
        import dataclasses

        cfg = dataclasses.replace(cfg, pedestrian_width=region.pedestrian_way_default_width)
    layer = overlay_stage(records, cfg, overlay_res)
    layer._overlay_pinned = records._overlay_pinned  # release_overlay_records(layer) works too
    return layer
