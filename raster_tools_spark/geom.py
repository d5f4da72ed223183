"""Vectorized planar geometry predicates (pure numpy; no shapely/GDAL).

Provides the exact-refinement half of the two-phase spatial join
(SURVEY.md J1/J2) and polygon->pixel-mask rasterization with GDAL
``RasterizeLayer`` center-inside semantics (zonal.py:80-87,
groups.py:115-135 in the reference burn a mask and select pixels whose
*centers* fall inside the geometry).

Containment convention (documented, deterministic): even-odd ray cast,
half-open so that for an axis-aligned rectangle a point is inside iff
``xmin <= x < xmax AND ymin <= y < ymax``.  Synthetic data places points
off polygon boundaries so the convention never decides a test case, but
it guarantees bit-identical results across partitionings (north rule).
"""

from __future__ import annotations

from typing import List, Sequence

import numpy as np

from . import wkb as _wkb
from .grid import GeoTransform, CELL_SIZE


def _rings_of(wkb_bytes: bytes) -> List[np.ndarray]:
    """All rings of a polygon/multipolygon as a flat list (even-odd
    parity over the union of rings)."""
    gtype, payload = _wkb.parse(wkb_bytes)
    if gtype == _wkb.POLYGON:
        return payload
    if gtype == _wkb.MULTIPOLYGON:
        return [ring for poly in payload for ring in poly]
    raise ValueError("containment requires polygon or multipolygon")


def _edges_of_rings(rings: Sequence[np.ndarray]):
    """Stack ring edges into (x1, y1, x2, y2) arrays."""
    xs1, ys1, xs2, ys2 = [], [], [], []
    for ring in rings:
        xs1.append(ring[:-1, 0])
        ys1.append(ring[:-1, 1])
        xs2.append(ring[1:, 0])
        ys2.append(ring[1:, 1])
    return (
        np.concatenate(xs1),
        np.concatenate(ys1),
        np.concatenate(xs2),
        np.concatenate(ys2),
    )


def points_in_rings(px, py, rings, chunk=262144):
    """Even-odd PIP for arrays of points against a ring set.

    Returns a boolean array aligned with ``px``/``py``.  Vectorized over
    points x edges, chunked to bound memory.
    """
    return _points_in_edges(px, py, _edges_of_rings(rings), chunk)


def _points_in_edges(px, py, edges, chunk=262144):
    """``points_in_rings`` over stacked ``(x1, y1, x2, y2)`` edges."""
    px = np.asarray(px, dtype=np.float64).ravel()
    py = np.asarray(py, dtype=np.float64).ravel()
    x1, y1, x2, y2 = edges
    n_edges = x1.size
    if n_edges == 0:
        return np.zeros(px.shape, dtype=bool)

    out = np.zeros(px.size, dtype=bool)
    step = max(chunk // max(n_edges, 1), 1)
    with np.errstate(divide="ignore", invalid="ignore"):
        for s in range(0, px.size, step):
            e = min(s + step, px.size)
            pyc = py[s:e, None]
            pxc = px[s:e, None]
            straddle = (y1[None, :] > pyc) != (y2[None, :] > pyc)
            xint = x1 + (pyc - y1) * (x2 - x1) / (y2 - y1)
            cross = straddle & (pxc < xint)
            out[s:e] = (cross.sum(axis=1) & 1).astype(bool)
    return out


def points_in_wkb(px, py, wkb_bytes: bytes):
    """PIP of point arrays against a WKB polygon/multipolygon."""
    return points_in_rings(px, py, _rings_of(wkb_bytes))


def rasterize_mask(wkb_bytes: bytes, gt: GeoTransform, height: int, width: int):
    """Burn a polygon onto a ``height x width`` pixel grid.

    True where the *pixel center* is inside -- the reference's
    ``gdal.RasterizeLayer(..., burn_values=[1])`` default semantics
    (zonal.py:80-87).  ``gt`` anchors pixel (0, 0)'s outer corner.
    """
    rings = _rings_of(wkb_bytes)
    return rasterize_mask_rings(rings, gt, height, width)


def rasterize_mask_rings(
    rings, gt: GeoTransform, height: int, width: int
) -> np.ndarray:
    """Full ``height x width`` pixel-center mask of a ring set: the
    window that ``rasterize_window`` reports, burned into a tile-sized
    array."""
    mask = np.zeros((height, width), dtype=bool)
    i0, i1, j0, j1, win = rasterize_window(rings, gt, height, width)
    if win is not False:
        mask[i0:i1, j0:j1] = win
    return mask


_WINDOW_EPS = 1e-6  # pixels


def rasterize_window(rings, gt: GeoTransform, height: int, width: int):
    """Clipped + short-circuit rasterization (the 100-TB-minded path).

    Returns ``(i0, i1, j0, j1, win)``: every set pixel lies in the
    window ``[i0:i1, j0:j1]``, and ``win`` is ``True`` (the window is a
    filled rectangle), ``False`` (no pixel is set) or the window's
    boolean mask (a ring edge crosses it).

    1. only pixels whose centers lie in the polygon envelope are
       candidates -- the rest of the tile is skipped without testing;
    2. if no ring EDGE passes through the window's interior, every
       pixel center of the window lies in one connected piece of the
       plane minus the boundary, so one center test decides the whole
       window (a tile inside a large polygon, or inside one of its
       holes, costs one point test);
    3. otherwise scanline-fill only the clipped window.

    The result equals the scanline fill of the window bit for bit:
    centers sit half a pixel inside the window, so an edge that only
    touches the window's border cannot separate two of them.
    """
    p, a, b, q, c, d = gt
    env = _rings_env(rings)
    # the window holds the centers inside the half-open envelope
    # (xmin <= x < xmax, ymin <= y < ymax); _WINDOW_EPS pixels of slack
    # keep a center that rounding puts on the envelope border.  Col j's
    # center is p + a*(j+0.5); assume north-up (b == c == 0), which
    # holds for every grid in this engine
    j0 = max(int(np.ceil((env[0] - p) / a - 0.5 - _WINDOW_EPS)), 0)
    j1 = min(int(np.floor((env[1] - p) / a - 0.5 + _WINDOW_EPS)) + 1, width)
    # rows: y = q + d*(i+0.5), d < 0
    i0 = max(int(np.ceil((env[3] - q) / d - 0.5 - _WINDOW_EPS)), 0)
    i1 = min(int(np.floor((env[2] - q) / d - 0.5 + _WINDOW_EPS)) + 1, height)
    if j0 >= j1 or i0 >= i1:
        return 0, 0, 0, 0, False

    edges = _edges_of_rings(rings)
    window = (p + a * j0, p + a * j1, q + d * i1, q + d * i0)
    if not _edges_cross_window(edges, window):
        cx = p + a * (j0 + 0.5)
        cy = q + d * (i0 + 0.5)
        inside = bool(_points_in_edges([cx], [cy], edges)[0])
        return i0, i1, j0, j1, inside
    return i0, i1, j0, j1, _scanline_fill(edges, p, a, q, d, i0, i1, j0, j1)


def _edges_cross_window(edges, window) -> bool:
    """Does any edge segment meet the OPEN rectangle ``window``
    (x1, x2, y1, y2)?  Separating-axis test per edge: the segment misses
    the open rectangle iff its bbox misses it along x or y, or all four
    corners lie on one closed side of the edge's line.  Touching the
    border does not count as crossing."""
    x1, y1, x2, y2 = edges
    wx1, wx2, wy1, wy2 = window
    hit = (
        (np.maximum(x1, x2) > wx1) & (np.minimum(x1, x2) < wx2)
        & (np.maximum(y1, y2) > wy1) & (np.minimum(y1, y2) < wy2)
    )
    if not hit.any():
        return False
    x1, y1, x2, y2 = x1[hit], y1[hit], x2[hit], y2[hit]
    dx = x2 - x1
    dy = y2 - y1
    pos = np.zeros(x1.shape, dtype=bool)
    neg = np.zeros(x1.shape, dtype=bool)
    for cx, cy in ((wx1, wy1), (wx2, wy1), (wx1, wy2), (wx2, wy2)):
        side = dx * (cy - y1) - dy * (cx - x1)
        pos |= side > 0
        neg |= side < 0
    return bool((pos & neg).any())


def _scanline_fill(edges, p, a, q, d, i0, i1, j0, j1) -> np.ndarray:
    """Even-odd scanline fill of stacked ring ``edges`` over row centers
    of the window ``[i0:i1, j0:j1]``, returned as its boolean mask --
    O(rows x edges), not O(pixels x edges), with results bit-identical
    to the per-point ray cast (same strict ``cx < xint`` crossing rule):

    per row, sorted edge intersections t1 <= t2 <= ... bound the inside
    intervals [t1, t2), [t3, t4), ... (cx == t_odd is inside because a
    crossing at exactly cx is not counted to the right)."""
    sub = np.zeros((i1 - i0, j1 - j0), dtype=bool)
    x1e, y1e, x2e, y2e = edges
    ys = q + d * (np.arange(i0, i1, dtype=np.float64) + 0.5)
    with np.errstate(divide="ignore", invalid="ignore"):
        straddle = (y1e[None, :] > ys[:, None]) != (
            y2e[None, :] > ys[:, None]
        )
        xint = x1e + (ys[:, None] - y1e) * (x2e - x1e) / (y2e - y1e)
    M = np.where(straddle, xint, np.inf)
    M.sort(axis=1)
    counts = straddle.sum(axis=1)
    maxm = int(counts.max()) if counts.size else 0
    if maxm < 2:
        return sub
    # vectorized interval fill: the same even-odd pairs ((0,1), (2,3),
    # ...; an odd trailing crossing is skipped exactly as the scalar
    # loop did), the same ceil((t - p)/a - 0.5) pixel arithmetic, then
    # one difference-array accumulation instead of a Python loop over
    # rows x intervals
    lo = M[:, 0:maxm - 1:2]
    hi = M[:, 1:maxm:2]
    valid = np.arange(0, maxm - 1, 2)[None, :] < (counts[:, None] - 1)
    with np.errstate(invalid="ignore"):
        jsf = np.ceil((lo - p) / a - 0.5)
        jef = np.ceil((hi - p) / a - 0.5)
    jsf = np.where(valid, jsf, 0.0)
    jef = np.where(valid, jef, 0.0)
    # clamp BEFORE the int cast: ceil yields exact integral floats, so
    # clamping to the integer bounds commutes with the cast while
    # keeping huge intersections (near-horizontal edges) in range
    js = np.minimum(np.maximum(jsf, j0), j1).astype(np.int64)
    je = np.minimum(np.maximum(jef, j0), j1).astype(np.int64)
    valid &= je > js
    if not valid.any():
        return sub
    if maxm == 2:
        # one interval per row (every convex ring): a broadcast range
        # test needs no scatter or cumsum
        cols = np.arange(j0, j1)
        return (
            valid[:, :1]
            & (cols[None, :] >= js[:, :1])
            & (cols[None, :] < je[:, :1])
        )
    rows, cols = np.nonzero(valid)
    width1 = j1 - j0 + 1
    diff = np.zeros((i1 - i0) * width1, dtype=np.int32)
    np.add.at(diff, rows * width1 + (js[rows, cols] - j0), 1)
    np.add.at(diff, rows * width1 + (je[rows, cols] - j0), -1)
    return diff.reshape(i1 - i0, width1).cumsum(axis=1)[:, :-1] > 0


def _ring_env(ring: np.ndarray):
    return (
        ring[:, 0].min(), ring[:, 0].max(),
        ring[:, 1].min(), ring[:, 1].max(),
    )


def _rings_env(rings):
    envs = [_ring_env(r) for r in rings]
    return (
        min(e[0] for e in envs),
        max(e[1] for e in envs),
        min(e[2] for e in envs),
        max(e[3] for e in envs),
    )


def sq_distance_to_rings(px, py, rings, chunk=262144) -> np.ndarray:
    """SQUARED Euclidean distance from each point to the polygon
    BOUNDARY (the ring edges), vectorized points x edges.

    Squared form on purpose: every input here is dyadic (pixel centers,
    integer-ish vertices), so dx*dx + dy*dy stays exactly reproducible
    by an oracle engine, while sqrt would be fine too -- the square
    simply skips it.  Distance to the SOLID polygon is 0 for inside
    points -- combine with points_in_rings.
    """
    px = np.asarray(px, dtype=np.float64).ravel()
    py = np.asarray(py, dtype=np.float64).ravel()
    x1, y1, x2, y2 = _edges_of_rings(rings)
    ex = x2 - x1
    ey = y2 - y1
    ee = ex * ex + ey * ey
    out = np.full(px.size, np.inf)
    step = max(chunk // max(x1.size, 1), 1)
    with np.errstate(divide="ignore", invalid="ignore"):
        for s in range(0, px.size, step):
            e = min(s + step, px.size)
            dx = px[s:e, None] - x1[None, :]
            dy = py[s:e, None] - y1[None, :]
            t = np.where(ee > 0, (dx * ex + dy * ey) / ee, 0.0)
            t = np.clip(t, 0.0, 1.0)
            qx = dx - t * ex
            qy = dy - t * ey
            out[s:e] = (qx * qx + qy * qy).min(axis=1)
    return out


def buffer_ring_mask(
    rings, gt: GeoTransform, height: int, width: int, dist: float
) -> np.ndarray:
    """Pixel-center mask of the BUFFER RING: centers within ``dist`` of
    the polygon but not inside it -- the exact-Euclidean re-expression
    of the reference's ``geometry.Buffer(1).Difference(geometry)`` +
    RasterizeLayer (bag2tif.py:92-120; GEOS approximates the buffer
    arcs with segments, this mask is the exact disc sweep)."""
    p, a, b, q, c, d = gt
    env = _rings_env(rings)
    j0 = max(int(np.floor((env[0] - dist - p) / a - 0.5)), 0)
    j1 = min(int(np.ceil((env[1] + dist - p) / a - 0.5)) + 1, width)
    i0 = max(int(np.floor((env[3] + dist - q) / d - 0.5)), 0)
    i1 = min(int(np.ceil((env[2] - dist - q) / d - 0.5)) + 1, height)
    mask = np.zeros((height, width), dtype=bool)
    if j0 >= j1 or i0 >= i1:
        return mask
    jj, ii = np.meshgrid(
        np.arange(j0, j1), np.arange(i0, i1), indexing="xy"
    )
    cx = p + a * (jj.ravel() + 0.5)
    cy = q + d * (ii.ravel() + 0.5)
    near = sq_distance_to_rings(cx, cy, rings) <= dist * dist
    inside = points_in_rings(cx, cy, rings)
    mask[ii.ravel()[near & ~inside], jj.ravel()[near & ~inside]] = True
    return mask


def ring_area(ring: np.ndarray) -> float:
    """Signed shoelace area of one ring."""
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def area(wkb_bytes: bytes) -> float:
    """Even-odd area of polygon/multipolygon: interior rings subtract
    regardless of their winding orientation."""
    gtype, payload = _wkb.parse(wkb_bytes)
    polys = [payload] if gtype == _wkb.POLYGON else payload
    total = 0.0
    for rings in polys:
        total += abs(ring_area(rings[0]))
        for hole in rings[1:]:
            total -= abs(ring_area(hole))
    return total


def envelope(wkb_bytes: bytes):
    """(x1, x2, y1, y2) of any supported WKB geometry."""
    return _wkb.envelope(wkb_bytes)
