"""Streaming geofence: pure-Catalyst point-in-mask class assignment.

A third J12 implementation (reference PIP semantics:
``data_analysis/analyse_traffic_area.py`` point-in-space classification;
see operators/joins.py header for the J-map). The cogroup Arrow kernel in
``pip_join_raster`` is the batch throughput lane — masks cross the wire
once per TILE. This module expresses the same mask bit test entirely in
Catalyst expressions (``element_at``/``shiftrightunsigned`` over the
packed mask as 64-bit words, see ``with_mask_words``), which buys two
things:

* the whole plan is whole-stage-codegen JVM code — no Python in the hot
  path at all, not even Arrow; and
* the plan contains only stateless projections + one stream-static
  equi-join, so the SAME operator runs unchanged under Structured
  Streaming: a stream of geo-tagged image rows is geofenced against the
  classified public-space layer with no state store and no watermark.

Scale shape
-----------
The static mask side is subdivided to ``group_res`` (a res-13 subdivided
mask is tens of bytes) and is broadcast when it fits, shuffle-hash joined
otherwise.  Each matched point row carries only its OWN cell's mask bytes
through the join projection — per-row payload is bounded by the subcell
mask size, independent of polygon complexity.  For batch jobs over huge
coarse masks prefer ``pip_join_raster`` (per-tile mask transfer); this
path is the latency lane and the streaming front.

The bit indexing mirrors the Arrow kernel exactly (row-major, MSB-first
``np.packbits``): ``bit = mask[cy*mask_w + cx]`` with
``cx = floor((x-ox)/px)``, ``cy = floor((y-oy)/px)`` — asserted equal on
every fixture image in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

__all__ = ["mask_word_bit", "with_mask_words", "pip_join_expr", "geofence_stream"]


def with_mask_words(tiles_sub: DataFrame) -> DataFrame:
    """Attach ``mask_words array<long>``: the packed mask bit stream as
    big-endian 64-bit words (bit i of the row-major MSB-first np.packbits
    stream is bit ``63 - i%64`` of word ``i//64``), via ONE Arrow pass over
    the tiny static mask side.

    The per-point bit test is then ``element_at(array<long>) >> k & 1``,
    which whole-stage codegen compiles to array indexing; reading the
    binary mask directly would need ``conv(hex(substring(mask, ...)))``,
    three string allocations per tested point. The words add zero payload vs the binary mask (same
    bits, 8-byte granularity) and are computed once per MASK row, not per
    point."""
    import numpy as np
    from pyspark.sql import types as T

    def _words(batches):
        for pdf in batches:
            ws = []
            for m in pdf["mask"]:
                b = np.frombuffer(m, dtype=np.uint8)
                pad = (-len(b)) % 8
                if pad:
                    b = np.concatenate([b, np.zeros(pad, np.uint8)])
                # big-endian u64 view → native u64 → reinterpret as two's-
                # complement int64 (LongType)
                ws.append(b.view(">u8").astype("u8").view("i8"))
            pdf = pdf.copy()
            pdf["mask_words"] = ws
            yield pdf

    schema = T.StructType(
        list(tiles_sub.schema) + [T.StructField("mask_words", T.ArrayType(T.LongType()))]
    )
    return tiles_sub.mapInPandas(_words, schema)


def mask_word_bit(x: str = "x", y: str = "y") -> Column:
    """Bit (0/1 int) of the class mask under (x, y), reading the
    ``mask_words`` long-array column (see with_mask_words).

    Expects the mask-row columns ``mask_words, mask_w, mask_h`` and the
    pixel coordinates ``_cx, _cy`` in scope. NULL when the point falls
    outside the mask window, so a plain ``= 1`` filter drops both misses
    and out-of-window points."""
    return F.expr(
        f"""
        CASE
          WHEN _cx >= 0 AND _cx < mask_w AND _cy >= 0 AND _cy < mask_h THEN
            cast(shiftrightunsigned(
              element_at(mask_words, cast((_cy * mask_w + _cx) DIV 64 AS int) + 1),
              cast(63 - (_cy * mask_w + _cx) % 64 AS int)
            ) & 1 AS int)
          ELSE NULL
        END
        """
    )


def _with_pixel_coords(joined: DataFrame, x: str, y: str) -> DataFrame:
    return joined.withColumn(
        "_cx", F.expr(f"cast(floor(({x} - ox) / px) AS int)")
    ).withColumn("_cy", F.expr(f"cast(floor(({y} - oy) / px) AS int)"))


def pip_join_expr(
    points: DataFrame,
    tiles_sub: DataFrame,
    group_res: int = 13,
    id_col: str = "image_id",
    passthrough: tuple[str, ...] = (),
    broadcast_tiles: bool = True,
) -> DataFrame:
    """Expression-only point-in-mask assignment.

    ``points`` needs projected ``x, y`` (``project_points``); ``tile_cell``
    is computed at ``group_res`` if absent.  ``tiles_sub`` must ALREADY be
    at ``group_res`` granularity (``subdivide_tiles`` output — pass a
    materialized/stored frame so streaming microbatches don't re-run the
    subdivision kernel per trigger).

    Output: one row per (point, matching class mask): ``id_col,
    space_category, access, tile_cell`` + ``passthrough`` columns — the
    same contract as ``pip_join_raster`` (layer masks are disjoint, so in
    practice exactly one row per covered point).
    """
    from ..functions.geometry import cell_expr

    if "tile_cell" not in points.columns:
        points = points.withColumn("tile_cell", cell_expr(group_res)(F.col("x"), F.col("y")))
    right = with_mask_words(
        tiles_sub.select(
            "tile_cell", "space_category", "access", "mask", "mask_w", "mask_h", "ox", "oy", "px"
        )
    ).select(
        "tile_cell", "space_category", "access", "mask_words", "mask_w", "mask_h", "ox", "oy", "px"
    )
    if broadcast_tiles:
        right = F.broadcast(right)
    else:
        right = right.hint("shuffle_hash")
    joined = points.select(id_col, "x", "y", "tile_cell", *passthrough).join(
        right, "tile_cell", "inner"
    )
    joined = _with_pixel_coords(joined, "x", "y")
    hit = joined.where(mask_word_bit() == 1)
    return hit.select(id_col, "space_category", "access", "tile_cell", *passthrough)


def geofence_stream(
    points_stream: DataFrame,
    tiles_sub: DataFrame,
    group_res: int = 13,
    id_col: str = "image_id",
    passthrough: tuple[str, ...] = ("event_time",),
) -> DataFrame:
    """Geofence a point stream against the classified layer.

    ``points_stream``: streaming frame with projected ``x, y`` (+ any
    ``passthrough`` columns, e.g. the event time).  ``tiles_sub``: STATIC
    subdivided mask frame (read from a stored table; see pip_join_expr
    note).  Returns a streaming frame of class assignments — stateless, so
    any output mode works and batch equality is exact (asserted vs
    ``pip_join_raster`` through an availableNow memory sink in
    tests/test_streaming.py).
    """
    return pip_join_expr(
        points_stream,
        tiles_sub,
        group_res=group_res,
        id_col=id_col,
        passthrough=passthrough,
    )
