"""Hierarchical spatial cell index (H3/S2 analog) on the metric plane.

No geo libraries exist in this environment, so the engine defines its own
deterministic, hierarchical, SQL-expressible cell scheme over the processing
CRS (EPSG:25833):

    size(res)  = 2^(20-res) meters          (res 14 -> 64 m, res 12 -> 256 m)
    ix         = floor(x / size) + 2^20
    iy         = floor(y / size) + 2^20
    cell_id    = (res * 2^26 + ix) * 2^26 + iy

Properties used by the engine:
  * equi-joinable int64 ids (the spatial join becomes a hash join on cell_id)
  * parent/child via integer arithmetic (two-level aggregation rollups)
  * `grid_disk` ring expansion for kNN candidate search
  * plain integer arithmetic (floor + multiply-add), vectorized in numpy

Resolution 14 (64 m) is the join resolution: 64 >= 2 x 22 m means a point's
own cell plus the road's padded covering set guarantees no missed candidate.
"""

from __future__ import annotations

import numpy as np

OFFSET = 1 << 20
SHIFT = 1 << 26
JOIN_RES = 14  # 64 m cells
AGG_RES = 10   # ~1 km cells for index rollups


def cell_size(res: int) -> float:
    return float(1 << (20 - res))


def cell_id_np(x: np.ndarray, y: np.ndarray, res: int = JOIN_RES) -> np.ndarray:
    size = cell_size(res)
    ix = np.floor(np.asarray(x) / size).astype(np.int64) + OFFSET
    iy = np.floor(np.asarray(y) / size).astype(np.int64) + OFFSET
    return (np.int64(res) * SHIFT + ix) * SHIFT + iy


def decode_cell(cell: int) -> tuple[int, int, int]:
    iy = cell % SHIFT
    rest = cell // SHIFT
    ix = rest % SHIFT
    res = rest // SHIFT
    return int(res), int(ix - OFFSET), int(iy - OFFSET)


def parent_cell(cell: int, parent_res: int) -> int:
    res, ix, iy = decode_cell(cell)
    shift = res - parent_res
    if shift < 0:
        raise ValueError("parent_res must be coarser (smaller)")
    pix = ix // (1 << shift)
    piy = iy // (1 << shift)
    return (parent_res * SHIFT + pix + OFFSET) * SHIFT + piy + OFFSET


def parent_cell_np(cell: np.ndarray, parent_res: int) -> np.ndarray:
    cell = np.asarray(cell, dtype=np.int64)
    iy = cell % SHIFT - OFFSET
    rest = cell // SHIFT
    ix = rest % SHIFT - OFFSET
    res = rest // SHIFT
    # same contract as the scalar twin: a negative shift count makes
    # np.left_shift produce undefined values SILENTLY — wrong parents
    # would corrupt every rollup join downstream
    if np.any(res - parent_res < 0):
        raise ValueError("parent_res must be coarser (smaller)")
    factor = np.left_shift(np.int64(1), (res - parent_res).astype(np.int64))
    pix = np.floor_divide(ix, factor) + OFFSET
    piy = np.floor_divide(iy, factor) + OFFSET
    return (np.int64(parent_res) * SHIFT + pix) * SHIFT + piy


def grid_disk(cell: int, k: int = 1) -> list[int]:
    """All cells within Chebyshev distance k (ring expansion for kNN)."""
    res, ix, iy = decode_cell(cell)
    out = []
    for dx in range(-k, k + 1):
        for dy in range(-k, k + 1):
            out.append((res * SHIFT + (ix + dx + OFFSET)) * SHIFT
                       + (iy + dy + OFFSET))
    return out


def cell_boundary_metric(cell: int) -> np.ndarray:
    """Cell polygon (closed ring) in metric coordinates — raster->vector."""
    res, ix, iy = decode_cell(cell)
    s = cell_size(res)
    x0, y0 = ix * s, iy * s
    return np.array([[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s],
                     [x0, y0]])
