"""Expected outputs computed without the engine's cell cover or join plan.

Every oracle here is a numpy brute force over the generated inputs:
even-odd ray-crossing parity for point-in-polygon, a latitude-band scan
with exact haversine for kNN and distance joins, and direct Web-Mercator
arithmetic for tile counts.

Boundary convention: the engine counts a point within ``EPS`` degrees of
a ring edge as inside its polygon (on an outer edge or on a hole's rim),
provided it lies in the polygon's closed bounding box. Parity cannot
decide such a point, so the point-in-polygon oracle applies that rule
explicitly: inside the bounding box, and odd crossing parity or within
``EPS`` of any edge. Points on the 3-decimal grid do land that close to an edge now
and then: one of the first 24 seeds of the ``spatial`` workload has a
point 1e-10 degrees from an edge.

``digest`` gives an order-insensitive hash of a result so that the
benchmark can compare a call's output with the expected one in O(rows).
"""

from __future__ import annotations

import numpy as np

from geopy_spark.kernels.pip import EPS  # the engine's boundary tolerance

EARTH_RADIUS_M = 6371008.8
M_PER_DEG = EARTH_RADIUS_M * np.pi / 180.0

def _mix(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over uint64 (wrapping arithmetic)."""
    h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return h ^ (h >> np.uint64(31))


def digest(cols: list) -> tuple[int, str]:
    """(row count, order-insensitive 64-bit hash) of a row set given as
    equal-length integer (or boolean) columns."""
    n = len(cols[0]) if cols else 0
    h = np.full(n, 0x9E3779B97F4A7C15, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for c in cols:
            h = _mix(h ^ _mix(np.asarray(c).astype(np.int64).view(np.uint64)))
        total = int(h.sum(dtype=np.uint64)) if n else 0
    return n, f"{total:016x}"


# ------------------------------------------------------------ point-in-polygon

def _rings(poly) -> list[np.ndarray]:
    rings = [np.asarray(poly[1], dtype=np.float64)]
    rings += [np.asarray(h, dtype=np.float64) for h in (poly[2] if len(poly) > 2 else [])]
    return rings


def _parity(py: np.ndarray, px: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd crossing parity of points (py=lat, px=lon) over every edge
    of every ring (outer and holes alike)."""
    inside = np.zeros(py.size, dtype=bool)
    for r in rings:
        y1, x1 = r[:, 0], r[:, 1]
        y2, x2 = np.roll(y1, -1), np.roll(x1, -1)
        for a, b, c, d in zip(y1, x1, y2, x2):
            straddle = (a > py) != (c > py)
            if not straddle.any():
                continue
            xint = b + (py[straddle] - a) * (d - b) / (c - a)
            hit = np.zeros(py.size, dtype=bool)
            hit[straddle] = px[straddle] < xint
            inside ^= hit
    return inside


def _near_edge(py: np.ndarray, px: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Points within EPS (planar degrees) of any edge of any ring."""
    near = np.zeros(py.size, dtype=bool)
    for r in rings:
        a, b = r, np.roll(r, -1, axis=0)
        d = b - a
        for (y1, x1), (dy, dx) in zip(a, d):
            t = np.clip(((py - y1) * dy + (px - x1) * dx) / (dy * dy + dx * dx), 0.0, 1.0)
            near |= np.hypot(py - (y1 + t * dy), px - (x1 + t * dx)) <= EPS
    return near


def pip_pairs(pid: np.ndarray, lat: np.ndarray, lon: np.ndarray,
              polys) -> tuple[np.ndarray, np.ndarray]:
    """All (point_id, poly_id) containment pairs, brute force per polygon
    (boundary-inclusive, see the module docstring)."""
    out_p, out_g = [], []
    for poly in polys:
        ring = np.asarray(poly[1], dtype=np.float64)
        m = ((lat >= ring[:, 0].min()) & (lat <= ring[:, 0].max())
             & (lon >= ring[:, 1].min()) & (lon <= ring[:, 1].max()))
        idx = np.flatnonzero(m)
        rings = _rings(poly)
        py, px = lat[idx], lon[idx]
        hit = idx[_parity(py, px, rings) | _near_edge(py, px, rings)]
        out_p.append(pid[hit])
        out_g.append(np.full(hit.size, poly[0], dtype=np.int64))
    return np.concatenate(out_p), np.concatenate(out_g)


# ------------------------------------------------------------- distance joins

def haversine_m(lat1, lon1, lat2, lon2) -> np.ndarray:
    la1, lo1, la2, lo2 = (np.radians(x) for x in (lat1, lon1, lat2, lon2))
    a = (np.sin((la2 - la1) / 2) ** 2
         + np.cos(la1) * np.cos(la2) * np.sin((lo2 - lo1) / 2) ** 2)
    a = np.clip(a, 0.0, 1.0)
    return 2.0 * EARTH_RADIUS_M * np.arctan2(np.sqrt(a), np.sqrt(1 - a))


class LatIndex:
    """Points sorted by latitude: any point outside the band
    |lat - q| <= w is farther than w degrees of meridian arc."""

    def __init__(self, pid, lat, lon):
        o = np.argsort(lat, kind="stable")
        self.pid, self.lat, self.lon = pid[o], lat[o], lon[o]

    def band(self, qlat: float, w_deg: float) -> slice:
        lo = np.searchsorted(self.lat, qlat - w_deg, side="left")
        hi = np.searchsorted(self.lat, qlat + w_deg, side="right")
        return slice(lo, hi)

    def within(self, qlat, qlon, radius_m):
        s = self.band(qlat, radius_m / M_PER_DEG * 1.0001 + 1e-9)
        d = haversine_m(qlat, qlon, self.lat[s], self.lon[s])
        keep = d <= radius_m
        return self.pid[s][keep]

    def knn(self, qlat, qlon, k: int):
        w = 0.5
        while True:
            s = self.band(qlat, w)
            d = haversine_m(qlat, qlon, self.lat[s], self.lon[s])
            ids = self.pid[s]
            if d.size >= k:
                o = np.lexsort((ids, d))[:k]
                if d[o[-1]] < w * M_PER_DEG or w >= 180:
                    return ids[o]
            if w >= 180:
                return ids[np.lexsort((ids, d))[:k]]
            w *= 2


def knn_rows(qid, qlat, qlon, idx: LatIndex, k: int) -> list:
    q, n, r = [], [], []
    for i in range(qid.size):
        nb = idx.knn(qlat[i], qlon[i], k)
        q.append(np.full(nb.size, qid[i]))
        n.append(nb)
        r.append(np.arange(1, nb.size + 1))
    return [np.concatenate(q), np.concatenate(n), np.concatenate(r)]


def within_rows(qid, qlat, qlon, idx: LatIndex, radius_m: float) -> list:
    q, n = [], []
    for i in range(qid.size):
        nb = idx.within(qlat[i], qlon[i], radius_m)
        q.append(np.full(nb.size, qid[i]))
        n.append(nb)
    return [np.concatenate(q), np.concatenate(n)]


# ---------------------------------------------------------------------- tiles

def tile_rows(lat: np.ndarray, lon: np.ndarray, zmax: int) -> int:
    """Rows of a leaf tile table at zmax plus its pyramid down to z=0:
    the number of distinct occupied tiles summed over levels."""
    n = float(2 ** zmax)
    x = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64).clip(0, 2 ** zmax - 1)
    la = np.radians(np.clip(lat, -85.05112878, 85.05112878))
    merc = np.log(np.tan(la) + 1.0 / np.cos(la))
    y = np.floor((1.0 - merc / np.pi) / 2.0 * n).astype(np.int64).clip(0, 2 ** zmax - 1)
    total = 0
    for s in range(zmax + 1):
        total += np.unique((x >> s) * (1 << 32) + (y >> s)).size
    return int(total)
