"""J12 point-in-mask assignment as one Catalyst operator.

Reference PIP semantics: ``data_analysis/analyse_traffic_area.py``
point-in-space classification; see operators/joins.py header for the J-map.
``_mask_join`` is the single mask-bit lookup, with one entry point per
distribution:

* ``pip_join_expr`` broadcasts the small subdivided mask side (the latency
  lane, batch or streaming); and
* ``joins.pip_join_raster`` shuffle-hash joins on ``(tile_cell, _salt)``
  (the broadcast-free batch lane, zero Exchange on bucketed tables).

The bit test is ``element_at``/``shiftrightunsigned`` over the packed mask
as 64-bit words (``with_mask_words``), so:

* the join adds no Python node: over stored inputs the whole plan is
  whole-stage-codegen JVM code; and
* the plan holds only stateless projections + one equi-join, so
  ``pip_join_expr`` runs unchanged under Structured Streaming: a stream of
  geo-tagged image rows is geofenced against the classified public-space
  layer with no state store and no watermark.

Scale shape
-----------
The mask side is subdivided to ``group_res`` (a res-13 subdivided mask is
tens of bytes). Each matched point row carries only its OWN cell's mask
words through the join projection, so per-row payload is bounded by the
subcell mask size, independent of polygon complexity.

The bit indexing is the row-major, MSB-first layout of
``operators/tiling.pack``: ``bit = mask[cy*mask_w + cx]`` with
``cx = floor((x-ox)/px)``, ``cy = floor((y-oy)/px)``; it is checked pixel
by pixel against ``tiling.pack`` in tests/test_streaming.py and against the
vector ``pip_join`` in tests/test_image_joins.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..operators.tiling import MASK_COLS

__all__ = ["mask_word_bit", "with_mask_words", "pip_join_expr"]


def with_mask_words(tiles_sub: DataFrame) -> DataFrame:
    """Attach ``mask_words array<long>``: the packed mask bit stream as
    big-endian 64-bit words (bit i of the row-major MSB-first ``tiling.pack``
    stream is bit ``63 - i%64`` of word ``i//64``; a short last word is
    zero-padded on the right), in one Catalyst projection.

    The per-point bit test is then ``element_at(array<long>) >> k & 1``,
    which whole-stage codegen compiles to array indexing; reading the
    binary mask per point would cost three string allocations per test.
    The words are computed once per MASK row, not per point. An empty mask
    gives an empty array (``sequence(0, -1)`` would count down)."""
    return tiles_sub.withColumn(
        "mask_words",
        F.expr(
            """
            IF(length(mask) = 0, CAST(array() AS array<bigint>),
               transform(sequence(0, ceil(length(mask) / 8) - 1),
                         i -> cast(conv(rpad(hex(substring(mask, i * 8 + 1, 8)), 16, '0'), 16, -10)
                                   AS bigint)))
            """
        ),
    )


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


def _mask_join(points: DataFrame, tiles_sub: DataFrame, group_res: int, salt: int | None) -> DataFrame:
    """The J12 mask-bit join: points' ``tile_cell`` (+ ``_salt``) equi-joined
    to mask rows at ``group_res``, filtered on ``mask_word_bit() == 1``.

    ``salt`` picks the distribution of the one join: ``None`` broadcasts the
    mask side; an int hints ``shuffle_hash`` and, when > 0, splits every
    cell into ``salt`` sub-groups (points hash-distribute over ``_salt``,
    mask rows replicate once per salt id). ``_salt`` is int on both sides.
    A pre-existing ``tile_cell`` on ``points`` is reused, so tables bucketed
    by it keep their stored partitioning (zero Exchange when unsalted).

    Output: one row per (point, matching class mask): ``image_id,
    space_category, access, tile_cell`` (layer masks are disjoint, so in
    practice exactly one row per covered point)."""
    from ..functions.geometry import cell_expr

    if "tile_cell" not in points.columns:
        points = points.withColumn("tile_cell", cell_expr(group_res)(F.col("x"), F.col("y")))
    points = points.select("image_id", "x", "y", "tile_cell")
    right = with_mask_words(tiles_sub.select(*MASK_COLS)).drop("mask")
    keys = ["tile_cell"]
    if salt is None:
        right = F.broadcast(right)
    else:
        if salt > 0:
            points = points.withColumn("_salt", F.pmod(F.xxhash64(F.col("image_id")), F.lit(salt)).cast("int"))
            right = right.withColumn("_salt", F.explode(F.array(*[F.lit(i).cast("int") for i in range(salt)])))
            keys = ["tile_cell", "_salt"]
        right = right.hint("shuffle_hash")
    joined = _with_pixel_coords(points.join(right, keys, "inner"), "x", "y")
    hit = joined.where(mask_word_bit() == 1)
    return hit.select("image_id", "space_category", "access", "tile_cell")


def pip_join_expr(points: DataFrame, tiles_sub: DataFrame, group_res: int = 13) -> DataFrame:
    """Point-in-mask assignment with the mask side broadcast, in batch or
    under Structured Streaming.

    ``points`` (a batch or streaming frame) needs ``image_id`` and projected
    ``x, y`` (``project_points``); ``tile_cell`` is computed at
    ``group_res`` if absent. ``tiles_sub`` must ALREADY be at ``group_res``
    granularity (``subdivide_tiles`` output — pass a materialized/stored
    frame so streaming micro-batches don't re-run the subdivision kernel per
    trigger). On a stream the join is stream-static and stateless, so any
    output mode works and equals the batch output exactly
    (tests/test_streaming.py asserts it through an availableNow memory
    sink).

    Output: the ``_mask_join`` rows, the same contract as
    ``joins.pip_join_raster``.
    """
    return _mask_join(points, tiles_sub, group_res, salt=None)
