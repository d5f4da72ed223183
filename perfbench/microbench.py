"""Driver-side kernel rates on the workload's own inputs (traced runs).

Each rate is the median of ``REPS`` timed passes over the same data, so
a single slow pass does not set it.
"""

from __future__ import annotations

import statistics
import time

import pyarrow.dataset as ds

from inputs import parquet_files
from raster_tools_spark import codecs, geom, grid
from raster_tools_spark.grid import CELL_SIZE, JOIN_RES, GeoTransform

REPS = 3
CODEC_SAMPLE = 48  # images of each format
MASK_SAMPLE = 32   # tiles rasterized against every overlapping polygon


def _median_rate(work: float, fn) -> float:
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return work / statistics.median(times)


def codec_rates(images_path: str) -> dict:
    """Decoded pixel MB/s per format, and PNG encode pixel MB/s."""
    dset = ds.dataset(parquet_files(images_path), format="parquet")
    out = {}
    png_planes = []
    for fmt in ("png", "jpeg"):
        tbl = dset.head(CODEC_SAMPLE, columns=["bytes"],
                        filter=ds.field("fmt") == fmt)
        blobs = tbl.column("bytes").to_pylist()
        planes = [codecs.decode(b, fmt) for b in blobs]
        mb = sum(p.nbytes for p in planes) / 1e6
        out[f"codecs.decode_mb_per_s.{fmt}"] = _median_rate(
            mb, lambda: [codecs.decode(b, fmt) for b in blobs]
        )
        if fmt == "png":
            png_planes = planes
    mb = sum(p.nbytes for p in png_planes) / 1e6
    out["codecs.encode_mb_per_s.png"] = _median_rate(
        mb, lambda: [codecs.png_encode(p) for p in png_planes]
    )
    return out


def geom_rates(cx, cy, polygons_pdf) -> dict:
    """points_in_wkb over every (point, polygon), rasterize_mask over
    every (tile, overlapping polygon), covering_cells of every polygon
    envelope at the join resolution."""
    wkbs = [bytes(b) for b in polygons_pdf["geom_wkb"]]
    out = {
        "geom.points_in_wkb_mpts_per_s": _median_rate(
            len(cx) * len(wkbs) / 1e6,
            lambda: [geom.points_in_wkb(cx, cy, b) for b in wkbs],
        )
    }

    envs = [geom.envelope(b) for b in wkbs]
    rings = [geom._rings_of(b) for b in wkbs]
    tile_m = 256 * CELL_SIZE
    jobs = []
    for x, y in list(zip(cx, cy))[:MASK_SAMPLE]:
        x0, y_top = x - tile_m / 2, y + tile_m / 2
        gt = GeoTransform((x0, CELL_SIZE, 0.0, y_top, 0.0, -CELL_SIZE))
        for (ex1, ex2, ey1, ey2), r in zip(envs, rings):
            if ex1 < x0 + tile_m and ex2 > x0 and ey1 < y_top \
                    and ey2 > y_top - tile_m:
                jobs.append((r, gt))
    out["geom.rasterize_mask_mpx_per_s"] = _median_rate(
        len(jobs) * 256 * 256 / 1e6,
        lambda: [geom.rasterize_mask_rings(r, gt, 256, 256)
                 for r, gt in jobs],
    )

    n_cells = sum(len(grid.covering_cells(e, JOIN_RES)) for e in envs)
    out["grid.covering_cells_per_s"] = _median_rate(
        n_cells, lambda: [grid.covering_cells(e, JOIN_RES) for e in envs]
    )
    return out
