from .grid import (  # noqa: F401
    cell_side,
    encode_cells,
    decode_cells,
    pack_cells,
    cell_bbox,
    neighbors,
    cover_bbox,
    parent_cells,
    RES_COARSE,
    RES_FINE,
)
