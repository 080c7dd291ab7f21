"""Hierarchical quadtree cell index ("qcell") — numpy kernels.

From-scratch S2/H3-style hierarchical cell scheme (SURVEY.md §2.2 G1-G3;
north_star BASELINE.json:6 "H3/S2 cell encoding"). No h3/s2 library exists
in this sandbox, so the bit layout is our own, fully documented and
deterministic so tests can assert exact ids.

Bit layout of a cell id (int64, always positive):

    [ 63..2L+5 : zero ][ 2L+4..5 : Morton(i,j) ][ 4..0 : level L ]

* ``L`` in [0, 28] — level 28 cells are ~0.7 m tall at the equator.
* ``i`` = latitude index  = floor((lat +  90) / 180 * 2^L), clamped to 2^L-1
* ``j`` = longitude index = floor((lon + 180) / 360 * 2^L)  (lon wraps mod 360)
* Morton interleave: bit k of ``i`` goes to position 2k+1, bit k of ``j``
  to position 2k — so numeric sort order of ids at one level is a Z-order
  curve over (lat, lon), giving sorted-cell locality for range scans and
  the "sorted-cell indexes" of the north_star's kNN.

Level is stored in the low 5 bits, so ids are unique ACROSS levels and
``parent``/``children`` are pure bit shifts (exposed as Spark Column
algebra in functions/cells.py — no UDF needed there).

All kernels are vectorized numpy over uint64; no per-row Python
(BASELINE.json:15).
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 28

_M1 = np.uint64(0x5555555555555555)
_M2 = np.uint64(0x3333333333333333)
_M4 = np.uint64(0x0F0F0F0F0F0F0F0F)
_M8 = np.uint64(0x00FF00FF00FF00FF)
_M16 = np.uint64(0x0000FFFF0000FFFF)
_M32 = np.uint64(0x00000000FFFFFFFF)


def _spread(x: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of x so bit k lands at position 2k."""
    x = x.astype(np.uint64) & _M32
    x = (x | (x << np.uint64(16))) & _M16
    x = (x | (x << np.uint64(8))) & _M8
    x = (x | (x << np.uint64(4))) & _M4
    x = (x | (x << np.uint64(2))) & _M2
    x = (x | (x << np.uint64(1))) & _M1
    return x


def _compact(x: np.ndarray) -> np.ndarray:
    """Inverse of _spread: gather even-position bits into the low 32."""
    x = x.astype(np.uint64) & _M1
    x = (x | (x >> np.uint64(1))) & _M2
    x = (x | (x >> np.uint64(2))) & _M4
    x = (x | (x >> np.uint64(4))) & _M8
    x = (x | (x >> np.uint64(8))) & _M16
    x = (x | (x >> np.uint64(16))) & _M32
    return x


def morton(i: np.ndarray, j: np.ndarray) -> np.ndarray:
    return (_spread(i) << np.uint64(1)) | _spread(j)


def demorton(m: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    m = m.astype(np.uint64)
    return _compact(m >> np.uint64(1)), _compact(m)


def normalize_lat_lon(lat: np.ndarray, lon: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """lat clamped to [-90, 90]; lon wrapped to [-180, 180)."""
    lat = np.clip(np.asarray(lat, dtype=np.float64), -90.0, 90.0)
    lon = np.asarray(lon, dtype=np.float64)
    lon = np.mod(lon + 180.0, 360.0) - 180.0
    return lat, lon


def latlon_to_ij(lat: np.ndarray, lon: np.ndarray, level: int) -> tuple[np.ndarray, np.ndarray]:
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in [0, {MAX_LEVEL}], got {level}")
    lat, lon = normalize_lat_lon(lat, lon)
    n = np.uint64(1) << np.uint64(level)
    nf = float(2**level)
    i = np.floor((lat + 90.0) / 180.0 * nf).astype(np.uint64)
    j = np.floor((lon + 180.0) / 360.0 * nf).astype(np.uint64)
    i = np.minimum(i, n - np.uint64(1))
    j = np.minimum(j, n - np.uint64(1))
    return i, j


def cell_encode(lat: np.ndarray, lon: np.ndarray, level: int) -> np.ndarray:
    """(lat°, lon°) → int64 cell id at ``level``. Vectorized."""
    i, j = latlon_to_ij(lat, lon, level)
    return ((morton(i, j) << np.uint64(5)) | np.uint64(level)).astype(np.int64)


def cell_level(cell: np.ndarray) -> np.ndarray:
    return (np.asarray(cell).astype(np.uint64) & np.uint64(31)).astype(np.int64)


def cell_to_ij(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    c = np.asarray(cell).astype(np.uint64)
    lvl = (c & np.uint64(31)).astype(np.int64)
    i, j = demorton(c >> np.uint64(5))
    return i, j, lvl


def ij_to_cell(i: np.ndarray, j: np.ndarray, level: int) -> np.ndarray:
    return ((morton(np.asarray(i, np.uint64), np.asarray(j, np.uint64)) << np.uint64(5))
            | np.uint64(level)).astype(np.int64)


def cell_parent(cell: np.ndarray, parent_level: int) -> np.ndarray:
    """Ancestor id at ``parent_level``. Pure bit math (Spark Column
    equivalent in functions/cells.py)."""
    c = np.asarray(cell).astype(np.uint64)
    lvl = c & np.uint64(31)
    dl = lvl - np.uint64(parent_level)
    m = c >> np.uint64(5)
    return (((m >> (np.uint64(2) * dl)) << np.uint64(5)) | np.uint64(parent_level)).astype(np.int64)


def cell_children(cell: np.ndarray) -> np.ndarray:
    """[N] → [N, 4] child ids one level down."""
    c = np.asarray(cell).astype(np.uint64)
    lvl = c & np.uint64(31)
    m = (c >> np.uint64(5)) << np.uint64(2)
    k = np.arange(4, dtype=np.uint64)[None, :]
    return (((m[:, None] | k) << np.uint64(5)) | (lvl[:, None] + np.uint64(1))).astype(np.int64)


def cell_center(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    i, j, lvl = cell_to_ij(cell)
    nf = (2.0 ** lvl.astype(np.float64))
    lat = (i.astype(np.float64) + 0.5) / nf * 180.0 - 90.0
    lon = (j.astype(np.float64) + 0.5) / nf * 360.0 - 180.0
    return lat, lon


def cell_ring(cell: np.ndarray, r: int) -> list[np.ndarray]:
    """Chebyshev ring at distance ``r`` around each cell.

    Longitude (j) wraps mod 2^L; latitude (i) clamps — out-of-range rows
    are dropped, so near-pole cells return fewer ring members. r=0 returns
    the cell itself. Returns a ragged list of int64 arrays (one per input
    cell); callers in Spark explode the padded/flattened form.
    """
    i, j, lvl = cell_to_ij(np.asarray(cell))
    out: list[np.ndarray] = []
    if r == 0:
        offs = np.array([[0, 0]], dtype=np.int64)
    else:
        side = np.arange(-r, r + 1, dtype=np.int64)
        di, dj = np.meshgrid(side, side, indexing="ij")
        keep = np.maximum(np.abs(di), np.abs(dj)) == r
        offs = np.stack([di[keep], dj[keep]], axis=1)
    for n in range(len(i)):
        lv = int(lvl[n])
        size = np.int64(1) << np.int64(lv)
        ii = np.int64(i[n]) + offs[:, 0]
        jj = np.mod(np.int64(j[n]) + offs[:, 1], size)
        ok = (ii >= 0) & (ii < size)
        out.append(ij_to_cell(ii[ok].astype(np.uint64), jj[ok].astype(np.uint64), lv))
    return out


def cell_disk_rect(cell: np.ndarray, ri: np.ndarray, rj: np.ndarray) -> list[np.ndarray]:
    """Rectangular disk: all cells within ±ri rows (lat) and ±rj cols (lon)
    of each input cell — the exact-kNN phase-2 expansion window (G7).
    Longitude wraps; latitude clamps; rj is capped at half the grid so the
    wrap never duplicates a column. Ragged output (one array per input)."""
    i, j, lvl = cell_to_ij(np.asarray(cell))
    ri = np.asarray(ri, dtype=np.int64)
    rj = np.asarray(rj, dtype=np.int64)
    out: list[np.ndarray] = []
    for n in range(len(i)):
        lv = int(lvl[n])
        size = np.int64(1) << np.int64(lv)
        rjn = min(int(rj[n]), int(size) // 2)
        ii = np.int64(i[n]) + np.arange(-int(ri[n]), int(ri[n]) + 1, dtype=np.int64)
        ii = ii[(ii >= 0) & (ii < size)]
        jj = np.mod(np.int64(j[n]) + np.arange(-rjn, rjn + 1, dtype=np.int64), size)
        jj = np.unique(jj)
        gi, gj = np.meshgrid(ii.astype(np.uint64), jj.astype(np.uint64), indexing="ij")
        out.append(ij_to_cell(gi.ravel(), gj.ravel(), lv))
    return out


def cell_annulus_rect(cell: np.ndarray, ri_out: np.ndarray, rj_out: np.ndarray,
                      ri_in: np.ndarray, rj_in: np.ndarray) -> list[np.ndarray]:
    """Rectangular annulus: rect(ri_out, rj_out) minus rect(ri_in, rj_in)
    — the incremental phase-1 kNN expansion (each doubling round joins
    only the NEW cells, never re-joining the inner disk it already saw).
    Set difference in cell-id space so longitude wrap/clamp edge cases are
    handled exactly once, in cell_disk_rect."""
    outer = cell_disk_rect(cell, ri_out, rj_out)
    inner = cell_disk_rect(cell, ri_in, rj_in)
    return [np.setdiff1d(o, h) for o, h in zip(outer, inner)]


def cell_size_deg(level: int) -> float:
    """Latitude extent of one cell in degrees at ``level``."""
    return 180.0 / float(2**level)
