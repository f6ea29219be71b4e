"""Arrow-native ragged geometry access.

The engine stores geometry as `array<array<array<double>>>` (parts → points →
[x, y]). Inside pandas UDFs these arrive as pandas Series of nested lists;
this module flattens them to one contiguous (N, 2) float64 coordinate block
plus Arrow list offsets, so area kernels run one numpy call per *batch*,
never per row (BASELINE.json input_hint: "vectorized pandas/Arrow
UDFs (no per-row Python) throughout").
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

_GEOM_TYPE = pa.list_(pa.list_(pa.list_(pa.float64())))


def series_to_flat(series: pd.Series) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Series of parts-lists → (coords (N,2), part_offsets, point_offsets).

    part_offsets: per-row offsets into the parts axis (len R+1)
    point_offsets: per-part offsets into the coords axis (len P+1)
    """
    arr = pa.array(series, type=_GEOM_TYPE)
    if isinstance(arr, pa.ChunkedArray):  # pragma: no cover
        arr = arr.combine_chunks()
    lvl1 = arr  # rows → parts
    part_off = np.asarray(lvl1.offsets)
    lvl2 = lvl1.flatten()  # parts → points
    point_off = np.asarray(lvl2.offsets)
    lvl3 = lvl2.flatten()  # points → doubles
    flat = np.asarray(lvl3.flatten(), dtype=np.float64)
    coords = flat.reshape(-1, 2)
    return coords, part_off, point_off


def np_parts(geom) -> list[np.ndarray]:
    """Nested Arrow list values (possibly ragged object arrays) →
    list of (K,2) float64 arrays."""
    return [
        np.array([[float(pt[0]), float(pt[1])] for pt in part], dtype=np.float64)
        for part in geom
    ]
