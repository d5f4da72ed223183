"""Exact-equivalence properties of the zonal fast paths: the edge-level
uniform-window test in rasterization, the JVM histogram percentile, and
the histogram-only u8 partials."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from raster_tools_spark import codecs, geom, wkb
from raster_tools_spark.grid import CELL_SIZE, WORLD_TOP, GeoTransform
from raster_tools_spark.operators import zonal as Z


# ---- rasterize_window: edge-level fast path == always-scanline -------------

def _ring(xs, ys):
    r = np.c_[xs, ys].astype(np.float64)
    return np.vstack([r, r[:1]])


def _box(x1, y1, x2, y2):
    return _ring([x1, x2, x2, x1], [y1, y1, y2, y2])


def _star(rng, cx, cy, rmax, nv):
    ang = np.sort(rng.random(nv) * 2 * np.pi)
    rad = rng.random(nv) * rmax + 0.5
    return _ring(cx + rad * np.cos(ang), cy + rad * np.sin(ang))


def _scanline_everywhere(rings, gt, h, w):
    p, a, _, q, _, d = gt
    return geom._scanline_fill(
        geom._edges_of_rings(rings), p, a, q, d, 0, h, 0, w
    )


def _assert_same_mask(rings, gt, h, w):
    want = _scanline_everywhere(rings, gt, h, w)
    got = geom.rasterize_mask_rings(rings, gt, h, w)
    assert np.array_equal(got, want)
    i0, i1, j0, j1, win = geom.rasterize_window(rings, gt, h, w)
    outside = np.ones((h, w), dtype=bool)
    outside[i0:i1, j0:j1] = False
    assert not want[outside].any()
    if win is True:
        assert want[i0:i1, j0:j1].all()
    elif win is False:
        assert not want.any()
    return win


def test_window_random_polygons_and_multipolygons():
    rng = np.random.default_rng(11)
    h, w = 24, 20
    unit = GeoTransform((0.0, 1.0, 0.0, float(h), 0.0, -1.0))
    # the same pixel grid at world scale: 0.5 m pixels near WORLD_TOP
    x0 = 123456.0
    world = GeoTransform((x0, CELL_SIZE, 0.0, WORLD_TOP, 0.0, -CELL_SIZE))
    for trial in range(400):
        rings = []
        for _ in range(1 + trial % 3):       # 1-3 parts (even-odd union)
            cx, cy = rng.random(2) * [w * 1.6, h * 1.6] - [w * 0.3, h * 0.3]
            rings.append(_star(rng, cx, cy, rng.random() * 30 + 1,
                               int(rng.integers(3, 12))))
        if trial % 4 == 0:      # on pixel borders and centers
            rings = [np.round(r * 2) / 2 for r in rings]
        _assert_same_mask(rings, unit, h, w)
        world_rings = [
            np.c_[x0 + r[:, 0] * CELL_SIZE,
                  WORLD_TOP - (h - r[:, 1]) * CELL_SIZE]
            for r in rings
        ]
        _assert_same_mask(world_rings, world, h, w)


def test_window_holes_and_tile_placements():
    """Tiles fully inside, fully outside, inside a hole, and with an edge
    exactly on the tile border or a pixel-center line."""
    h, w = 16, 16
    gt = GeoTransform((0.0, 1.0, 0.0, 16.0, 0.0, -1.0))
    outer = _box(-50, -50, 60, 60)
    kinds = {}
    cases = {
        "inside": [outer],
        "outside": [_box(30, 30, 40, 40)],
        "in_hole": [outer, _box(-5, -5, 25, 25)],
        "hole_crossing": [outer, _box(3, 4, 9.5, 11)],
        "hole_on_border": [outer, _box(0, 0, 16, 16)],
        "touch_left": [_box(-10, 2, 0, 14)],
        "edge_on_border": [_box(0, 2, 30, 14)],
        "edge_on_centers": [_box(-10, 2.5, 30, 7.5)],
        "multi_with_holes": [
            _box(-20, -20, 8, 40), _box(-5, 3, 4, 9),
            _box(8, -20, 40, 40), _box(10, -5, 30, 30),
        ],
    }
    for name, rings in cases.items():
        kinds[name] = _assert_same_mask(rings, gt, h, w)
    assert kinds["inside"] is True
    assert kinds["outside"] is False
    assert kinds["in_hole"] is False
    assert kinds["hole_on_border"] is False
    assert kinds["touch_left"] is False
    assert isinstance(kinds["hole_crossing"], np.ndarray)
    # a shared edge at x=8 crosses the window; the union still fills it
    assert isinstance(kinds["multi_with_holes"], np.ndarray)


def test_window_rectangle_is_filled_not_scanned():
    """A polygon edge-aligned with pixel borders inside the tile reports
    its window as a filled rectangle -- the partial-rectangle case."""
    gt = GeoTransform((0.0, 1.0, 0.0, 16.0, 0.0, -1.0))
    i0, i1, j0, j1, win = geom.rasterize_window(
        [_box(3, 5, 9, 12)], gt, 16, 16
    )
    assert win is True and (i0, i1, j0, j1) == (4, 11, 3, 9)


# ---- JVM percentile helper == percentile_from_hist -------------------------

def _hists():
    rng = np.random.default_rng(5)
    out = []
    for _ in range(40):
        data = rng.integers(0, 256, size=int(rng.integers(1, 3000)))
        out.append(np.bincount(data, minlength=256))
    one = np.zeros(256, np.int64)
    one[17] = 1
    two = np.zeros(256, np.int64)
    two[[3, 250]] = 1
    out += [one, two]
    for b in (0, 255):
        h = np.zeros(256, np.int64)
        h[b] = 1234
        out.append(h)
    sparse = np.zeros(256, np.int64)
    sparse[[0, 64, 65, 200, 255]] = [5, 1, 7, 2, 9]
    out.append(sparse)
    out.append(np.zeros(256, np.int64))      # empty: NaN
    return out


def test_hist_percentile_matches_numpy_helper(spark):
    from pyspark.sql import functions as F

    hists = _hists()
    qs = (0.0, 25.0, 50.0, 75.0, 90.0, 100.0)
    df = spark.createDataFrame(
        pd.DataFrame({"k": range(len(hists)),
                      "hist": [h.tolist() for h in hists]}),
        schema="k long, hist array<long>",
    ).withColumn("n", F.expr(Z._hist_total("hist")))
    got = df.selectExpr(
        "k", *[f"{Z.hist_percentile('hist', 'n', q)} AS q{i}"
               for i, q in enumerate(qs)]
    ).toPandas().sort_values("k")
    for row in got.itertuples():
        for i, q in enumerate(qs):
            want = Z.percentile_from_hist(hists[row.k], q)
            have = getattr(row, f"q{i}")
            if math.isnan(want):
                assert math.isnan(have)
            else:
                assert have == want, (row.k, q, have, want)


# ---- histogram partials == gather partials ---------------------------------

def _same_partial(a, b):
    *sa, ha = a
    *sb, hb = b
    assert len(sa) == len(sb)
    for x, y in zip(sa, sb):
        assert (x == y) or (math.isnan(x) and math.isnan(y)), (sa, sb)
    assert np.array_equal(ha, hb)


@pytest.mark.parametrize("nodata", [255, 0, -1.0, 2.5, 7.0])
def test_hist_partial_equals_gather(nodata):
    rng = np.random.default_rng(2)
    cases = [
        rng.integers(0, 256, 5000, dtype=np.int64).astype(np.uint8),
        np.full(40, 255, np.uint8),
        np.full(40, 0, np.uint8),
        np.array([2, 3, 7, 7, 255, 0], np.uint8),
        np.array([], np.uint8),
    ]
    for vals in cases:
        _same_partial(
            Z._hist_partial(np.bincount(vals, minlength=256), nodata),
            Z._gather_partial(vals, nodata, None),
        )


def _candidates(nodata):
    """Two 16x16 u8 images x polygons covering a whole tile, a pixel
    rectangle, a crossing triangle, a ring with a hole and nothing."""
    rng = np.random.default_rng(9)
    c = CELL_SIZE
    rows = []
    for img_i in range(2):
        px = rng.integers(0, 256, (16, 16), dtype=np.int64).astype(np.uint8)
        px[::5, ::3] = 255
        px[1::7, ::2] = 0
        b = codecs.png_encode(px)
        x0 = img_i * 16 * c
        y0 = WORLD_TOP - 16 * c
        polys = [
            wkb.box_wkb(x0 - 40 * c, y0 - 40 * c, x0 + 40 * c, y0 + 40 * c),
            wkb.box_wkb(x0 + 2 * c, y0 + 3 * c, x0 + 9 * c, y0 + 11 * c),
            wkb.polygon_wkb(_ring([x0, x0 + 15 * c, x0],
                                  [y0, y0, y0 + 13 * c])),
            wkb.polygon_wkb(
                _box(x0 - c, y0 - c, x0 + 17 * c, y0 + 17 * c),
                holes=[_box(x0 + 4.3 * c, y0 + 4.3 * c,
                            x0 + 11.6 * c, y0 + 9.2 * c)],
            ),
            wkb.box_wkb(x0 + 90 * c, y0, x0 + 99 * c, y0 + 10 * c),
        ]
        for fid, poly in enumerate(polys):
            rows.append((f"img{img_i}", b, "png", x0, WORLD_TOP, fid,
                         poly, nodata))
    return pd.DataFrame(
        rows,
        columns=["image_id", "bytes", "fmt", "x0", "y_top", "feat_id",
                 "geom_wkb", "nodata"],
    )


@pytest.mark.parametrize("nodata", [255, 0, -1.0, 2.5])
def test_histogram_stream_equals_gather_stream(nodata):
    """``expr="v"`` is the identity band expression: it forces every
    pair down the gather path, whose partials the histogram path must
    reproduce bit for bit."""
    pdf = _candidates(nodata)
    hist = pd.concat(list(Z._partials_stream(iter([pdf]))))
    gather = pd.concat(list(Z._partials_stream(iter([pdf]), expr="v")))
    pd.testing.assert_frame_equal(
        hist.reset_index(drop=True), gather.reset_index(drop=True),
        check_exact=True,
    )
    assert set(hist["feat_id"]) == {0, 1, 2, 3}
