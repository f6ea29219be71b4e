"""J1/J2/A3 — barrier ⋈ entrance spatial join + access resolution.

Reference: analyse_access.py:52-161 — an O(B×E) nested loop with a prepared-
geometry cache. Engine: cell-bucketed equi-join (SURVEY.md §2.5 J1):

  barriers  → explode to covering RES_FINE cells of their bbox
  entrances → explode to their cell + 1-ring halo (catches on-boundary points)
  equi-join on cell → dedupe (barrier_id, entrance_id) → groupBy(barrier_id)
  applyInPandas kernel: exact intersects refine (ε = 1 mm for point-on-line),
  J2 pairwise entrance cleaning, A3 yes ≻ restricted ≻ no fold.

Zero-entrance barriers default to access='no' (analyse_access.py:148-149) via
left join + coalesce. No broadcast of either side; shuffle is on cell then on
barrier_id (both scale-out keys).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cells.grid import RES_FINE
from ..functions import predicates as P
from ..functions.geometry import bbox_expr, cover_expr
from ..geo.arrowgeom import np_parts
from ..geo.kernels import geoms_intersect, point_segment_dist

_EPS = 1e-3  # metres; point-on-barrier tolerance (entrance nodes lie on the way)


def _intersects(parts_a, kind_a, parts_b, kind_b) -> bool:
    """geoms_intersect with ε-tolerant point-vs-line (projection jitter), on
    decoded parts (np_parts)."""
    pt_kinds = ("point", "multipoint")
    if kind_a in pt_kinds or kind_b in pt_kinds:
        if kind_b in pt_kinds:
            parts_a, kind_a, parts_b, kind_b = parts_b, kind_b, parts_a, kind_a
        p = np.concatenate([np.asarray(x, dtype=np.float64).reshape(-1, 2) for x in parts_a])
        if kind_b in pt_kinds:
            q = np.concatenate([np.asarray(x, dtype=np.float64).reshape(-1, 2) for x in parts_b])
            d = np.hypot(p[:, None, 0] - q[None, :, 0], p[:, None, 1] - q[None, :, 1])
            return bool((d <= _EPS).any())
        segs0, segs1 = [], []
        for path in parts_b:
            path = np.asarray(path, dtype=np.float64)
            if len(path) >= 2:
                segs0.append(path[:-1])
                segs1.append(path[1:])
        if not segs0:
            return False
        d = point_segment_dist(p[:, 0], p[:, 1], np.concatenate(segs0), np.concatenate(segs1))
        return bool((d <= _EPS).any())
    return geoms_intersect(parts_a, kind_a, parts_b, kind_b)


_OUT_SCHEMA = T.StructType(
    [
        T.StructField("element_id", T.LongType()),
        T.StructField("barrier_access", T.StringType()),
    ]
)


def _resolve_barrier_group(pdf: pd.DataFrame) -> pd.DataFrame:
    bid = int(pdf["bid"].iloc[0])
    bparts = np_parts(pdf["bgeom"].iloc[0])
    bkind = pdf["bkind"].iloc[0]
    # deterministic entrance order + dedupe across cells
    pdf = pdf.drop_duplicates(subset=["eid"]).sort_values("eid")
    ents = []
    for row in pdf.itertuples(index=False):
        eparts = np_parts(row.egeom)
        if _intersects(eparts, row.ekind, bparts, bkind):
            eff = row.e_access
            if eff is None or (isinstance(eff, float) and pd.isna(eff)):
                eff = "no" if row.e_gate else "yes"  # analyse_access.py:79-83
            ents.append((int(row.eid), eff, eparts, row.ekind))
    if len(ents) == 0:
        access = "no"
    elif len(ents) == 1:
        access = ents[0][1]
    else:
        # J2: drop entrance pairs that mutually intersect when either is 'no'
        drop: set[int] = set()
        for i in range(len(ents)):
            for j in range(i + 1, len(ents)):
                if ents[i][1] == "no" or ents[j][1] == "no":
                    if _intersects(ents[i][2], ents[i][3], ents[j][2], ents[j][3]):
                        drop.add(ents[i][0])
                        drop.add(ents[j][0])
        rest = [e for e in ents if e[0] not in drop]
        state: object = False
        for e in rest:  # analyse_access.py:133-145
            if e[1] == "yes":
                state = True
                break
            if e[1] == "restricted":
                state = "restricted"
        access = "yes" if state is True else ("restricted" if state == "restricted" else "no")
    return pd.DataFrame({"element_id": [bid], "barrier_access": [access]})


def interpret_barriers(df: DataFrame, res: int = RES_FINE) -> DataFrame:
    """Returns df with barrier access resolved (first-writer-wins)."""
    cover = cover_expr(res, halo=0)
    cover_halo = cover_expr(res, halo=1)

    base = df.withColumn("_bbox", bbox_expr(F.col("geom")))
    barriers = (
        base.filter(P.is_barrier())
        .select(
            F.col("element_id").alias("bid"),
            F.col("geom").alias("bgeom"),
            F.col("geom_kind").alias("bkind"),
            F.explode(cover(F.col("_bbox.xmin"), F.col("_bbox.ymin"), F.col("_bbox.xmax"), F.col("_bbox.ymax"))).alias("cell"),
        )
    )
    entrances = (
        base.filter(P.is_entrance())
        .select(
            F.col("element_id").alias("eid"),
            F.col("geom").alias("egeom"),
            F.col("geom_kind").alias("ekind"),
            F.col("access").alias("e_access"),
            P.teq("barrier", "gate").alias("e_gate"),
            F.explode(cover_halo(F.col("_bbox.xmin"), F.col("_bbox.ymin"), F.col("_bbox.xmax"), F.col("_bbox.ymax"))).alias("cell"),
        )
    )
    pairs = barriers.join(entrances, "cell").drop("cell")
    resolved = pairs.groupBy("bid").applyInPandas(_resolve_barrier_group, _OUT_SCHEMA)

    out = df.join(resolved, "element_id", "left")
    # provenance: stamp rows whose access is WRITTEN here (write-once — rows
    # with tags-derived access keep 'tags'). The reference's barrier path
    # (analyse_access.py:81-149) sets barrier.access without a provenance
    # value; 'barrier' is the engine's explicit stamp for that path (never
    # exported — final layer features carry only category+access).
    barrier_written = F.col("access").isNull() & P.is_barrier()
    # one projection: the stamp reads `access` before it is resolved
    return out.withColumns({
        "access_derived_from": F.when(barrier_written, F.lit("barrier")).otherwise(F.col("access_derived_from")),
        "access": F.coalesce(
            F.col("access"),
            F.when(P.is_barrier(), F.coalesce(F.col("barrier_access"), F.lit("no"))),
        ),
    }).drop("barrier_access")
