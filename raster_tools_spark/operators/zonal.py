"""Zonal statistics: polygon x raster aggregation (SURVEY.md J4 + A1).

Reference semantics (raster_tools/zonal.py:28-123):

- pixels selected by burning the geometry onto the tile grid and keeping
  pixels whose center is inside (zonal.py:80-87);
- ``size``  = all selected pixels, ``count`` = selected pixels with data
  (value != nodata) -- the distinction at zonal.py:95,108-111;
- stats (min/max/mean/median/std/var/p<n>) computed over data pixels.

Spark-first shape (the reference's per-feature loop becomes one job):

1. bbox prejoin on covering cells (J2) pairs images with polygons;
2. ``mapInPandas`` decodes each paired tile ONCE, rasterizes the polygon
   window, and emits a tiny partial-stats row (count, sum, sumsq, min,
   max, 256-bin histogram) -- the expensive pixel work happens map-side,
   mirroring the reference's blocked partial aggregation
   (ruimtekaart.py:214-233).  On a u8 band every partial comes from one
   ``bincount``: a tile inside the polygon reuses the image's own
   histogram, and only tiles an edge crosses gather through a mask;
3. ``groupBy(feat_id)`` combines partials with plain Spark aggregates
   (``_combine``, no Python stage); exact percentiles come from the
   merged uint8 histogram through JVM higher-order functions (bit-exact
   vs np.percentile, no approx_percentile needed because the value
   domain is u8).

Per-pair partial rows are ~300 bytes vs ~64 KiB of pixels, so the
shuffle moves ~0.5% of the scanned data -- the property that keeps this
plan alive at 100 TB.
"""

from __future__ import annotations

import math
from typing import Iterator, List

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import codecs, geom
from ..grid import (
    CELL_SIZE,
    JOIN_RES,
    GeoTransform,
    covering_cells,
    n_covering,
)

NODATA_DEFAULT = 255  # dtype-max convention (extract.py:94-99, merge.py:59)


def percentile_from_hist(hist: np.ndarray, q: float) -> float:
    """Exact percentile of u8 data from its 256-bin histogram, matching
    np.percentile's default linear interpolation."""
    n = int(hist.sum())
    if n == 0:
        return float("nan")
    pos = q / 100.0 * (n - 1)
    lo = int(math.floor(pos))
    hi = int(math.ceil(pos))
    cum = np.cumsum(hist)
    v_lo = float(np.searchsorted(cum, lo + 1))
    v_hi = float(np.searchsorted(cum, hi + 1))
    return v_lo + (v_hi - v_lo) * (pos - lo)


def _image_cover_udf(res: int):
    """Covering cell ids of an image tile at ``res`` as a pure JVM
    array expression (closed_bottom=False -- pixel centers strictly
    interior).  Bit-for-bit the grid.covering_cells arithmetic
    (floor/ceil on IEEE doubles, same clamps, same pack), but
    whole-stage-codegen instead of an ArrowEvalPython hop: the former
    pandas UDF put a Python round trip on the full image scan of every
    zonal/retile pipeline (measured 2.9 s of flagship zonal's 5.8 s in
    the pre-decode candidate stage).  Returns a builder so call sites
    keep the ``_image_cover_udf(res)(x0, y_top, w, h)`` shape."""
    from ..grid import WORLD_TOP, cell_edge

    edge = float(cell_edge(res))
    n_axis = 1 << (res + 2)

    def cover(x0, y_top, w, h):
        jx1 = F.floor(x0 / F.lit(edge)).cast("long")
        jx2 = F.ceil((x0 + w * F.lit(CELL_SIZE)) / F.lit(edge)).cast(
            "long"
        )
        jy1 = F.floor((F.lit(WORLD_TOP) - y_top) / F.lit(edge)).cast(
            "long"
        )
        jy2 = F.ceil(
            (F.lit(WORLD_TOP) - (y_top - h * F.lit(CELL_SIZE)))
            / F.lit(edge)
        ).cast("long")
        jx2 = F.greatest(jx2, jx1 + 1)
        jy2 = F.greatest(jy2, jy1 + 1)
        jx1 = F.greatest(jx1, F.lit(0).cast("long"))
        jx2 = F.least(jx2, F.lit(n_axis).cast("long"))
        jy1 = F.greatest(jy1, F.lit(0).cast("long"))
        jy2 = F.least(jy2, F.lit(n_axis).cast("long"))
        packed = F.flatten(
            F.transform(
                F.sequence(jy1, jy2 - 1),
                lambda iy: F.transform(
                    F.sequence(jx1, jx2 - 1),
                    lambda ix: F.shiftleft(F.lit(res).cast("long"), 56)
                    .bitwiseOR(F.shiftleft(ix, 28))
                    .bitwiseOR(iy),
                ),
            )
        )
        # fully out-of-world tiles clamp to an empty range; sequence()
        # would count DOWN there, so guard with an empty array
        return F.when(
            (jx2 > jx1) & (jy2 > jy1), packed
        ).otherwise(F.array().cast("array<bigint>"))

    return cover


_PARTIAL_SCHEMA = (
    "feat_id long, size long, cnt long, s double, ss double, "
    "mn double, mx double, hist array<long>"
)

_U8_VALUES = np.arange(256, dtype=np.int64)
_U8_SQUARES = _U8_VALUES * _U8_VALUES


def _hist_partial(sel: np.ndarray, nodata):
    """Partial stats of a u8 pixel selection from its 256-bin histogram
    ``sel``: (size, cnt, s, ss, mn, mx, data histogram).  Every sum is
    an integer below 2^53, so each equals the gather path's float sum
    exactly."""
    hist = sel.astype(np.int64)  # a copy: the caller's array stays intact
    nd = float(nodata)
    if nd.is_integer() and 0 <= nd <= 255:  # the bin vals != nodata drops
        hist[int(nd)] = 0
    cnt = int(hist.sum())
    mn = mx = float("nan")
    if cnt:
        nz = np.flatnonzero(hist)
        mn, mx = float(nz[0]), float(nz[-1])
    return (int(sel.sum()), cnt, float(hist @ _U8_VALUES),
            float(hist @ _U8_SQUARES), mn, mx, hist)


def _gather_partial(vals: np.ndarray, nodata, expr: str | None):
    """Partial stats of a gathered pixel selection (any dtype, optional
    band expression): (size, cnt, s, ss, mn, mx, data histogram or
    None)."""
    data = vals[vals != nodata]
    if data.dtype == np.uint8:
        hist = np.bincount(data, minlength=256).astype(np.int64)
    else:
        # non-u8 band (f4 DEM etc.): exact-histogram percentiles are a
        # u8-domain feature; mean/std/min/max remain exact,
        # median/p75/frac become NaN downstream
        hist = None
    if expr is not None and data.size:
        stat_data = eval_band_expr(expr, data)
    else:
        stat_data = data.astype(np.float64)
    mn = mx = float("nan")
    if data.size:
        mn, mx = float(stat_data.min()), float(stat_data.max())
    return (int(vals.shape[0]), int(data.size),
            float(stat_data.sum(dtype=np.float64)),
            float((stat_data.astype(np.float64) ** 2).sum()),
            mn, mx, hist)


def _partials_stream(batches, expr: str | None = None):
    """Streaming partials over candidate pairs sorted by image_id:
    decode each image once (rows of an image are adjacent after
    sortWithinPartitions), parse each polygon's rings once per task.

    Single-band u8 tiles without ``expr`` take the histogram path: the
    rasterized window is a filled rectangle, empty, or crossed by an
    edge, and one ``bincount`` of the selected pixels (for a rectangle
    covering the whole tile, the image's own histogram, computed once)
    gives size, count, sum, sum of squares, min and max exactly -- all
    integers below 2^53.  Other payloads and band expressions gather
    the masked pixels.

    Partials are PRE-AGGREGATED per feat_id within the task before
    anything crosses back over Arrow: ``_combine`` is a pure
    commutative merge (sums, min/max, histogram adds), so collapsing
    the per-pair rows to one row per (task, feat) is result-identical
    while shrinking the Python->JVM return and the partials shuffle
    from O(pairs) rows x 256-long histograms to O(features) rows
    (guide 2.3: aggregate before you shuffle).  The accumulator is
    flushed if it ever exceeds ``_MAX_ACC_FEATS`` distinct features,
    so task memory stays bounded on enormous polygon layers.

    ``expr``: optional whitelisted band expression applied to the
    masked data vector before stats (A8 semantics, rgb_zonal.py:95-98);
    histogram/percentiles are raw-value only (u8 domain)."""
    cur_img = None
    px = None
    gt = None
    img_hist = None
    seen: set = set()
    ring_cache: dict = {}
    # feat_id -> [size, cnt, s, ss, mn, mx, hist]
    acc: dict = {}

    def _flush():
        rows = [
            (fid, a[0], a[1], a[2], a[3],
             a[4] if a[1] else float("nan"),
             a[5] if a[1] else float("nan"),
             a[6])
            for fid, a in acc.items()
        ]
        acc.clear()
        return pd.DataFrame(
            rows,
            columns=["feat_id", "size", "cnt", "s", "ss", "mn", "mx", "hist"],
        )

    for pdf in batches:
        if len(pdf) == 0:
            continue
        for t in pdf.itertuples():
            if t.image_id != cur_img:
                cur_img = t.image_id
                px = codecs.decode(bytes(t.bytes), t.fmt)
                gt = GeoTransform(
                    (t.x0, CELL_SIZE, 0.0, t.y_top, 0.0, -CELL_SIZE)
                )
                img_hist = None
                seen = set()
            if t.feat_id in seen:  # pair dup via shared corner cells
                continue
            seen.add(t.feat_id)
            rings = ring_cache.get(t.feat_id)
            if rings is None:
                rings = geom._rings_of(bytes(t.geom_wkb))
                ring_cache[t.feat_id] = rings
            h, w = px.shape[:2]
            i0, i1, j0, j1, win = geom.rasterize_window(rings, gt, h, w)
            if win is False:
                continue
            u8 = px.dtype == np.uint8 and px.ndim == 2 and expr is None
            if u8 and win is True and (i0, i1, j0, j1) == (0, h, 0, w):
                if img_hist is None:
                    img_hist = np.bincount(px.ravel(), minlength=256)
                part = _hist_partial(img_hist, t.nodata)
            else:
                vals = px[i0:i1, j0:j1]
                if win is True:
                    vals = vals.reshape(-1, *px.shape[2:])
                else:
                    vals = vals[win]
                if u8:
                    part = _hist_partial(
                        np.bincount(vals, minlength=256), t.nodata
                    )
                else:
                    part = _gather_partial(vals, t.nodata, expr)
            size, cnt, s, ss, mn, mx, hist = part
            if size == 0:
                continue
            a = acc.get(t.feat_id)
            if a is None:
                a = [0, 0, 0.0, 0.0, math.inf, -math.inf,
                     np.zeros(256, dtype=np.int64)]
                acc[t.feat_id] = a
            a[0] += size
            a[1] += cnt
            a[2] += s
            a[3] += ss
            if cnt:
                a[4] = min(a[4], mn)
                a[5] = max(a[5], mx)
            if hist is not None:
                a[6] += hist
            if len(acc) >= _MAX_ACC_FEATS:
                yield _flush()
        # batch boundary: keep accumulating (decode state carries over)
    if acc:
        yield _flush()


_MAX_ACC_FEATS = 65536


_EXPR_WHITELIST = {"v", "np", "clip", "sqrt", "log1p", "abs", "minimum",
                   "maximum", "where"}


def eval_band_expr(expr: str, values: np.ndarray) -> np.ndarray:
    """Whitelisted band expression over the masked pixel vector ``v``
    -- the safe re-expression of rgb_zonal's literal eval
    (rgb_zonal.py:95-98).  Only numpy ufuncs from the whitelist and the
    variable ``v`` are visible."""
    import ast

    tree = ast.parse(expr, mode="eval")
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and node.id not in _EXPR_WHITELIST:
            raise ValueError(f"name {node.id!r} not allowed in band expr")
        if isinstance(node, (ast.Attribute, ast.Call)):
            fn = node
            if isinstance(node, ast.Call):
                fn = node.func
            if isinstance(fn, ast.Attribute):
                if not (
                    isinstance(fn.value, ast.Name)
                    and fn.value.id == "np"
                    and fn.attr in _EXPR_WHITELIST
                ):
                    raise ValueError("only np.<whitelisted> calls allowed")
    ns = {"v": values.astype(np.float64), "np": np,
          "clip": np.clip, "sqrt": np.sqrt, "log1p": np.log1p,
          "abs": np.abs, "minimum": np.minimum, "maximum": np.maximum,
          "where": np.where}
    return np.asarray(eval(compile(tree, "<band_expr>", "eval"), {"__builtins__": {}}, ns))


# The combine expressions are SQL text: one F.expr is one py4j call,
# while building the same lambdas from Column objects takes ~100 calls,
# about 0.5 s of driver time per job.
_NAN = "CAST('NaN' AS DOUBLE)"


def _merged_hist(hist: str) -> str:
    """Aggregate expression: the element-wise sum of a group's 256-bin
    histograms."""
    return (
        f"aggregate(collect_list({hist}), array_repeat(0L, 256), "
        "(acc, h) -> zip_with(acc, h, (x, y) -> x + y))"
    )


def _hist_total(hist: str) -> str:
    return f"aggregate({hist}, 0L, (acc, x) -> acc + x)"


def hist_percentile(hist: str, n: str, q: float) -> str:
    """``percentile_from_hist`` as a Spark SQL expression over a 256-bin
    histogram column ``hist`` whose total is the column ``n``.

    Both interpolation ranks are found in ONE pass over the bins: the
    value of rank k is the first bin whose running count reaches k + 1
    (np.searchsorted on the cumulative sum).  The interpolation is the
    same IEEE double arithmetic in the same order, so the result is
    bit-identical; NaN when ``n`` is 0."""
    pos = f"({q / 100.0!r}D * ({n} - 1))"
    return f"""IF({n} > 0, aggregate(
        {hist},
        named_struct('c', 0L, 'i', 0, 'lo', -1, 'hi', -1),
        (acc, x) -> named_struct(
            'c', acc.c + x,
            'i', acc.i + 1,
            'lo', IF(acc.lo < 0 AND acc.c + x > FLOOR({pos}), acc.i, acc.lo),
            'hi', IF(acc.hi < 0 AND acc.c + x > CEIL({pos}), acc.i, acc.hi)),
        acc -> CAST(acc.lo AS DOUBLE)
            + CAST(acc.hi - acc.lo AS DOUBLE) * ({pos} - FLOOR({pos}))),
        {_NAN})"""


def _combine(partials: DataFrame, range_frac=None) -> DataFrame:
    """Merge the partial-stats rows of each feature into its A1 stats
    with one JVM aggregation (no Python stage).

    - size, cnt, s, ss are summed; min/max run only over partials with
      data (Spark orders NaN above every number, so an empty partial's
      NaN would otherwise win ``max``; pandas skipped NaN values too);
    - mean = s / cnt and the population std sqrt(max(ss/cnt - mean^2, 0))
      (np.std's default);
    - median, p75 and ``frac_in_range`` (the inclusive u8 value range
      ``range_frac``, green_factor.py:176-193 semantics) come from the
      merged histogram, and only when it holds every data pixel (a u8
      band); otherwise NaN.

    Every sum of a u8 feature is of integers below 2^53, so the result
    is bit-identical whatever order Spark sums in."""
    merged = partials.groupBy("feat_id").agg(
        F.sum("size").alias("size"),
        F.sum("cnt").alias("cnt"),
        F.sum("s").alias("s"),
        F.sum("ss").alias("ss"),
        F.expr("min(IF(cnt > 0 AND NOT isnan(mn), mn, NULL))").alias("mn"),
        F.expr("max(IF(cnt > 0 AND NOT isnan(mx), mx, NULL))").alias("mx"),
        F.expr(_merged_hist("hist")).alias("hist"),
    )
    u8 = f"cnt > 0 AND {_hist_total('hist')} = cnt"
    frac = _NAN
    if range_frac is not None:
        lo, hi = (int(v) for v in range_frac)
        in_range = _hist_total(
            f"filter(hist, (x, i) -> i >= {lo} AND i <= {hi})"
        )
        frac = f"IF({u8}, CAST({in_range} AS DOUBLE) / cnt, {_NAN})"
    return merged.selectExpr(
        "feat_id", "size", "cnt",
        f"IF(cnt > 0, s / cnt, {_NAN}) AS mean",
        f"IF(cnt > 0, sqrt(greatest(ss / cnt - (s / cnt) * (s / cnt), 0D)),"
        f" {_NAN}) AS std",
        # null only when no partial has data
        f"coalesce(mn, {_NAN}) AS mn",
        f"coalesce(mx, {_NAN}) AS mx",
        f"IF({u8}, {hist_percentile('hist', 'cnt', 50.0)}, {_NAN}) AS median",
        f"IF({u8}, {hist_percentile('hist', 'cnt', 75.0)}, {_NAN}) AS p75",
        f"{frac} AS frac_in_range",
    )


_RGB_EXPR_WHITELIST = {"r", "g", "b", "np", "mean", "median", "sum",
                       "clip", "sqrt", "abs", "minimum", "maximum",
                       "where", "log1p", "std", "percentile"}


def eval_rgb_expr(expr: str, r, g, b) -> float:
    """AST-whitelisted per-feature calculation over the masked band
    vectors r/g/b (int64) -- the safe re-expression of rgb_zonal's
    ``eval(calculation)`` (rgb_zonal.py:95-98)."""
    import ast

    tree = ast.parse(expr, mode="eval")
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and node.id not in _RGB_EXPR_WHITELIST:
            raise ValueError(f"name {node.id!r} not allowed")
        if isinstance(node, (ast.Attribute, ast.Call)):
            fn = node.func if isinstance(node, ast.Call) else node
            if isinstance(fn, ast.Attribute):
                if not (
                    isinstance(fn.value, ast.Name)
                    and fn.value.id == "np"
                    and fn.attr in _RGB_EXPR_WHITELIST
                ):
                    raise ValueError("only np.<whitelisted> calls allowed")
    ns = {"r": r, "g": g, "b": b, "np": np}
    return float(
        eval(compile(tree, "<rgb_expr>", "eval"), {"__builtins__": {}}, ns)
    )


_RGB_PARTIAL_SCHEMA = (
    "feat_id long, image_id string, r array<long>, g array<long>, "
    "b array<long>"
)
_RGB_FINAL_SCHEMA = "feat_id long, n_px long, result double"


def rgb_zonal(
    images_cells: DataFrame,
    polygons: DataFrame,
    calculation: str,
    join_res: int = JOIN_RES,
    max_area: float = 1000.0,
) -> DataFrame:
    """Multi-band zonal calculation (SURVEY.md S2/A8,
    rgb_zonal.py:57-98): per polygon, evaluate an AST-whitelisted
    expression over the masked (r, g, b) int64 vectors of every
    overlapping RGB tile.  Polygons with area > ``max_area`` are
    skipped (rgb_zonal.py:74-76), as are polygons with no masked
    pixels; partials carry the masked band vectors (features are small
    by the guard) and are concatenated in image_id order so the result
    is partitioning-independent."""
    from .. import geom as _geom

    @F.pandas_udf("double")
    def area_udf(wkb_s: pd.Series) -> pd.Series:
        return wkb_s.map(lambda bb: _geom.area(bytes(bb)))

    polys = polygons.withColumn(
        "_area", area_udf(F.col("geom_wkb"))
    ).filter(F.col("_area") <= max_area).drop("_area")

    img = images_cells.withColumn(
        "icell",
        # explode_outer + null filter below: plain explode infers a
        # size()/isnotnull generate filter that would re-evaluate the
        # whole cover expression per conjunct in the scan stage
        F.explode_outer(
            _image_cover_udf(join_res)(
                F.col("x0"), F.col("y_top"), F.col("w"), F.col("h")
            )
        ),
    ).select(
        "image_id", "bytes", "fmt", "x0", "y_top", "icell"
    ).filter(F.col("icell").isNotNull())

    from .pip import _covering_udf

    pcells = polys.withColumn(
        "pcell", F.explode(_covering_udf(join_res)(F.col("geom_wkb")))
    ).select("feat_id", "geom_wkb", "pcell")
    cand = img.join(
        F.broadcast(pcells), img["icell"] == pcells["pcell"]
    ).select(
        "image_id", "bytes", "fmt", "x0", "y_top", "feat_id", "geom_wkb"
    )

    def partials(batches):
        cur_img = None
        px = None
        gt = None
        seen: set = set()
        for pdf in batches:
            rows = []
            for t in pdf.itertuples():
                if t.image_id != cur_img:
                    cur_img = t.image_id
                    px = codecs.decode(bytes(t.bytes), t.fmt)
                    gt = GeoTransform(
                        (t.x0, CELL_SIZE, 0.0, t.y_top, 0.0, -CELL_SIZE)
                    )
                    seen = set()
                if t.feat_id in seen:
                    continue
                seen.add(t.feat_id)
                mask = geom.rasterize_mask(
                    bytes(t.geom_wkb), gt, px.shape[0], px.shape[1]
                )
                if not mask.any():
                    continue
                sel = px[mask].astype(np.int64)  # (n, 3)
                rows.append(
                    (
                        t.feat_id,
                        t.image_id,
                        sel[:, 0].tolist(),
                        sel[:, 1].tolist(),
                        sel[:, 2].tolist(),
                    )
                )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=["feat_id", "image_id", "r", "g", "b"],
                )

    def finalize(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("image_id")
        r = np.concatenate([np.asarray(v) for v in pdf["r"]])
        g = np.concatenate([np.asarray(v) for v in pdf["g"]])
        b = np.concatenate([np.asarray(v) for v in pdf["b"]])
        if r.size == 0 or not (r.any() or g.any() or b.any()):
            # reference skips empty / all-zero reads
            return pd.DataFrame(columns=["feat_id", "n_px", "result"])
        return pd.DataFrame(
            {
                "feat_id": [int(pdf["feat_id"].iloc[0])],
                "n_px": [int(r.size)],
                "result": [eval_rgb_expr(calculation, r, g, b)],
            }
        )

    parts = cand.mapInPandas(partials, schema=_RGB_PARTIAL_SCHEMA)
    return parts.groupBy("feat_id").applyInPandas(
        finalize, schema=_RGB_FINAL_SCHEMA
    )


_FLOOR_PARTIAL_SCHEMA = "feat_id long, hist array<long>"


def floor_level(
    images_cells: DataFrame,
    polygons: DataFrame,
    dist: float = 1.0,
    join_res: int = JOIN_RES,
    nodata: int = NODATA_DEFAULT,
    max_extent: float = 1000.0,
) -> DataFrame:
    """Buffer-ring floor level (SURVEY.md A6, bag2tif.py:83-127): per
    polygon, the 75th percentile of data pixels whose centers fall in
    the ``dist``-meter buffer RING around the geometry.  Geometries
    wider than ``max_extent`` are skipped (bag2tif.py:95-97), as are
    polygons with no data pixel in the ring (reference returns None).

    Same decode-once streaming-partials plan as zonal_stats; the only
    shuffle carries 256-bin histograms, which merge and yield their p75
    in the JVM with the same helpers as ``_combine``.
    """
    from .. import geom as _geom
    from ..grid import covering_cells as _cover

    def cover_udf(res, pad):
        @F.pandas_udf(T.ArrayType(T.LongType()))
        def cover(wkb_s: pd.Series) -> pd.Series:
            out = []
            for b in wkb_s:
                env = _geom.envelope(bytes(b))
                if max(env[1] - env[0], env[3] - env[2]) > max_extent:
                    out.append([])  # reference skips huge geometries
                else:
                    out.append(_cover(env, res, pad=pad))
            return pd.Series(out)

        return cover

    img = images_cells.withColumn(
        "icell",
        # explode_outer + null filter below: plain explode infers a
        # size()/isnotnull generate filter that would re-evaluate the
        # whole cover expression per conjunct in the scan stage
        F.explode_outer(
            _image_cover_udf(join_res)(
                F.col("x0"), F.col("y_top"), F.col("w"), F.col("h")
            )
        ),
    ).select(
        "image_id", "bytes", "fmt", "x0", "y_top", "icell"
    ).filter(F.col("icell").isNotNull())
    pcells = polygons.withColumn(
        "pcell", F.explode(cover_udf(join_res, dist)(F.col("geom_wkb")))
    ).select("feat_id", "geom_wkb", "pcell")
    cand = img.join(
        F.broadcast(pcells), img["icell"] == pcells["pcell"]
    ).select(
        "image_id", "bytes", "fmt", "x0", "y_top", "feat_id", "geom_wkb"
    )

    def partials(batches):
        cur_img = None
        px = None
        gt = None
        seen: set = set()
        ring_cache: dict = {}
        for pdf in batches:
            rows = []
            for t in pdf.itertuples():
                if t.image_id != cur_img:
                    cur_img = t.image_id
                    px = codecs.decode(bytes(t.bytes), t.fmt)
                    gt = GeoTransform(
                        (t.x0, CELL_SIZE, 0.0, t.y_top, 0.0, -CELL_SIZE)
                    )
                    seen = set()
                if t.feat_id in seen:
                    continue
                seen.add(t.feat_id)
                rings = ring_cache.get(t.feat_id)
                if rings is None:
                    rings = geom._rings_of(bytes(t.geom_wkb))
                    ring_cache[t.feat_id] = rings
                mask = _geom.buffer_ring_mask(
                    rings, gt, px.shape[0], px.shape[1], dist
                )
                vals = px[mask]
                data = vals[vals != nodata]
                if data.size == 0:
                    continue
                rows.append(
                    (
                        t.feat_id,
                        np.bincount(data, minlength=256)
                        .astype(np.int64).tolist(),
                    )
                )
            if rows:
                yield pd.DataFrame(rows, columns=["feat_id", "hist"])

    parts = cand.mapInPandas(partials, schema=_FLOOR_PARTIAL_SCHEMA)
    merged = parts.groupBy("feat_id").agg(
        F.expr(_merged_hist("hist")).alias("hist")
    ).selectExpr("feat_id", "hist", f"{_hist_total('hist')} AS ring_px")
    return merged.selectExpr(
        "feat_id", "ring_px",
        f"{hist_percentile('hist', 'ring_px', 75.0)} AS floor_75",
    )


def zonal_stats(
    images_cells: DataFrame,
    polygons: DataFrame,
    join_res: int = JOIN_RES,
    nodata: int = NODATA_DEFAULT,
    broadcast_polygons: bool = True,
    expr: str | None = None,
    range_frac=None,
) -> DataFrame:
    """Per-polygon pixel statistics over all overlapping image tiles.

    ``images_cells``: output of tile.assign_cells (needs x0, y_top, w, h,
    bytes, fmt).  Returns one row per feat_id with A1 stats.

    VALUE DOMAINS when ``expr`` is set: mean/std/mn/mx are computed over
    the EXPR-TRANSFORMED pixel values, while median/p75/frac_in_range
    always come from the RAW u8-value histogram (exact u8 percentiles
    are only possible in the raw domain).  One output row therefore
    mixes two domains under a band expression -- consumers needing
    expr-space percentiles must apply the expression upstream of the
    tile encode instead.

    ``broadcast_polygons=True`` (the default; polygon layers are the
    small side in the reference's workloads) broadcast-hash-joins the
    exploded polygon cells, so the IMAGE SIDE IS NEVER SHUFFLED OR
    SORTED: candidate pairs stream out of the scan with all pairs of an
    image contiguous (the explode+BHJ preserves row adjacency), and the
    only shuffle in the whole job is the tiny partial-stats groupBy.
    Set False for huge polygon layers -> shuffle equi-join + explicit
    repartition by image.
    """
    img = images_cells.withColumn(
        "icell",
        # explode_outer + null filter below: plain explode infers a
        # size()/isnotnull generate filter that would re-evaluate the
        # whole cover expression per conjunct in the scan stage
        F.explode_outer(
            _image_cover_udf(join_res)(
                F.col("x0"), F.col("y_top"), F.col("w"), F.col("h")
            )
        ),
    ).select(
        "image_id", "bytes", "fmt", "x0", "y_top", "w", "h", "icell"
    ).filter(F.col("icell").isNotNull())

    # one Python pass for envelope + covering cells (the pip operator's
    # consolidated meta UDF; hot_cover unbounded -- zonal has no
    # broadcast hot phase, every polygon enumerates its cells)
    from .pip import _poly_meta_udf

    # checkpoint the meta BEFORE field extraction: the broadcast build
    # and every extracted field otherwise re-run the pandas UDF (same
    # fix as pip_join's polygon meta)
    pcells = polygons.withColumn(
        "_pm", _poly_meta_udf(join_res, 1 << 30)(F.col("geom_wkb"))
    ).localCheckpoint(eager=False).select(
        "feat_id", "geom_wkb",
        F.explode("_pm.cells").alias("pcell"),
        F.col("_pm.ex1").alias("_ex1"), F.col("_pm.ex2").alias("_ex2"),
        F.col("_pm.ey1").alias("_ey1"), F.col("_pm.ey2").alias("_ey2"),
    )

    # candidate pairs; pair dedup happens inside the streaming UDF --
    # an image/polygon pair can arise from up to 4 shared corner cells.
    # The JVM-side predicate drops pairs BEFORE they pay a decode +
    # rasterize in the pandas stage.  It tests the PIXEL-CENTER
    # lattice against the envelope, not raw tile bounds: mask pixels
    # are center-inside, and centers sit CELL_SIZE/2 inside the tile
    # edge, so a tile merely TOUCHING the bbox (the closed-bottom
    # cover row, edge-adjacent tiles) can never contribute a pixel and
    # is dropped exactly, while any tile with a center inside the bbox
    # passes (closed comparisons keep boundary-center ties).
    half = CELL_SIZE * 0.5
    overlap = (
        (F.col("x0") + half <= F.col("_ex2"))
        & (F.col("x0") + F.col("w") * CELL_SIZE - half >= F.col("_ex1"))
        & (F.col("y_top") - F.col("h") * CELL_SIZE + half
           <= F.col("_ey2"))
        & (F.col("y_top") - half >= F.col("_ey1"))
    )
    if broadcast_polygons:
        cand = img.join(
            F.broadcast(pcells),
            (img["icell"] == pcells["pcell"]) & overlap,
        )
    else:
        cand = img.join(
            pcells, (img["icell"] == pcells["pcell"]) & overlap
        )
    cand = cand.select(
        "image_id", "bytes", "fmt", "x0", "y_top", "w", "h",
        "feat_id", "geom_wkb",
    ).withColumn("nodata", F.lit(nodata))

    if not broadcast_polygons:
        # shuffle path: co-locate and order pairs per image so the
        # streaming UDF still decodes each tile exactly once
        n_parts = images_cells.sparkSession.sparkContext.defaultParallelism
        cand = cand.repartition(n_parts, "image_id").sortWithinPartitions(
            "image_id"
        )
    partials = cand.mapInPandas(
        lambda it: _partials_stream(it, expr=expr), schema=_PARTIAL_SCHEMA
    )
    return _combine(partials, range_frac=range_frac)
