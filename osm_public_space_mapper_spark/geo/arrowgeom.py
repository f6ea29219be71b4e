"""Geometry values as they arrive in pandas UDFs.

The engine stores geometry as `array<array<array<double>>>` (parts → points →
[x, y]). Inside pandas UDFs a row's value is a nested list or object array;
`np_parts` turns it into the per-part (K, 2) float64 arrays the numpy
kernels take.
"""

from __future__ import annotations

import numpy as np


def np_parts(geom) -> list[np.ndarray]:
    """Nested Arrow list values (possibly ragged object arrays) →
    list of (K,2) float64 arrays."""
    return [
        np.array([[float(pt[0]), float(pt[1])] for pt in part], dtype=np.float64)
        for part in geom
    ]
