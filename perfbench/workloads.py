"""The workloads, and the layer chains they are made of, written against
the public engine API.

A *chain* is a list of steps ``(layer, fn)`` in pipeline order.  Every
step but the last returns a DataFrame: a prefix of the pipeline, which
a traced run sends to a noop sink.  The last step runs the pipeline's
action and returns ``(DataFrame or None, output)``; ``DIGESTS`` reduces
the output, outside the timed step, to a string that every run of the
step must reproduce.  A
layer's staged self time is its step's time minus the previous step's.
Each prefix projects the columns its consumer reads, so the optimizer
prunes the same work it prunes in the full pipeline.

``CHAINS`` is keyed by the last layer of each chain.  A workload is one
chain, whose last step is the job the closed loop repeats.  A traced
run measures its workload's chain in the loop and every other chain
once afterwards, so every layer is measured on every traced run.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inputs import parquet_files
from raster_tools_spark import geom, synth
from raster_tools_spark.functions import image_enhance
from raster_tools_spark.operators import pip, retile, tile, zonal

N_POLYGONS = 200
TILES_AXIS = 64
# The polygon layer is the same for every seed; --seed draws the image
# batch.  With a per-seed layer, the sizes of its 4 hot polygons moved
# the zonal candidate pairs by 12% (IQR/median over 20 seeds); with this
# fixed layer they move by 1.5%.
POLYGON_SEED = synth.DEFAULT_SEED


@dataclass
class Inputs:
    n_images: int
    tiles_axis: int
    images: DataFrame      # cached parquet scan of the image table
    input_bytes: int       # on-disk size of that parquet
    polygons: DataFrame    # cached polygon layer
    polygons_pdf: object   # the same layer as pandas, for driver checks
    out_dir: str           # scratch directory for written outputs


def _md5_json(obj) -> str:
    return hashlib.md5(json.dumps(obj, sort_keys=True).encode()).hexdigest()


def _cells(inp: Inputs) -> DataFrame:
    return tile.assign_cells(inp.images, tiles_axis=inp.tiles_axis)


# the columns zonal and retile read from assign_cells' output
_PIXEL_COLS = ("image_id", "bytes", "fmt", "x0", "y_top", "w", "h")


def _scan_pixels(inp: Inputs) -> DataFrame:
    return inp.images.select("image_id", "bytes", "fmt", "phash", "w", "h")


def _assign_pixels(inp: Inputs) -> DataFrame:
    return _cells(inp).select(*_PIXEL_COLS)


# ---- point in polygon ------------------------------------------------------

def _pip_job(inp: Inputs):
    """assign_cells -> pip_join -> count per feature: the BASELINE
    flagship; grid math, the two-phase join and the Python refine, and
    no pixel decode."""
    df = pip.pip_join(_cells(inp), inp.polygons).groupBy("feat_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    return df, sorted((int(r.feat_id), int(r.n)) for r in df.collect())


# ---- zonal statistics ------------------------------------------------------

def _fmt(v) -> str:
    return "nan" if v is None or v != v else f"{float(v):.6g}"


def _zonal_job(inp: Inputs):
    """assign_cells -> zonal_stats: decodes every overlapping tile,
    rasterizes the polygon masks and streams partial stats."""
    df = zonal.zonal_stats(_cells(inp), inp.polygons)
    rows = sorted(
        (int(r.feat_id), int(r.size), int(r.cnt), _fmt(r.mean), _fmt(r.std),
         _fmt(r.mn), _fmt(r.mx), _fmt(r.median), _fmt(r.p75))
        for r in df.collect()
    )
    return df, rows


# ---- image kernel ----------------------------------------------------------

def _blur_job(inp: Inputs):
    """box_blur_stats over every image: a narrow decode-and-kernel map
    with no grid, join or shuffle."""
    df = image_enhance.box_blur_stats(inp.images).agg(
        F.sum("blur_sum").alias("s"), F.count(F.lit(1)).alias("n")
    )
    r = df.collect()[0]
    return df, (int(r.s), int(r.n))


# ---- retile and write ------------------------------------------------------

def _retiled(inp: Inputs) -> DataFrame:
    return retile.retile(_assign_pixels(inp))


def _retile_write_job(inp: Inputs):
    """The write path: encoding, the shuffle of whole payloads and the
    file write.  Output: the directory written."""
    out = os.path.join(inp.out_dir, "retile_out")
    shutil.rmtree(out, ignore_errors=True)  # every write starts clean
    _retiled(inp).write.mode("overwrite").parquet(out)
    return None, out


def _retile_digest(path: str) -> str:
    """Tile count and md5 of the tile bytes in cell_id order."""
    table = pq.ParquetDataset(parquet_files(path)).read(
        columns=["cell_id", "bytes"]
    )
    order = np.argsort(table.column("cell_id").to_numpy(), kind="stable")
    tiles = table.column("bytes").to_pylist()
    h = hashlib.md5()
    for k in order:
        h.update(tiles[k])
    return f"{len(tiles)}:{h.hexdigest()}"


CHAINS = {
    "pip.pip_join": [
        ("scan", lambda i: i.images.select("image_id", "phash", "w", "h")),
        ("tile.assign_cells",
         lambda i: _cells(i).select("image_id", "cx", "cy", "qk_r9")),
        ("pip.pip_join", _pip_job),
    ],
    "zonal.zonal_stats": [
        ("scan", _scan_pixels),
        ("tile.assign_cells", _assign_pixels),
        ("zonal.zonal_stats", _zonal_job),
    ],
    "image_enhance.box_blur_stats": [
        ("scan", lambda i: i.images.select("image_id", "bytes", "fmt")),
        ("image_enhance.box_blur_stats", _blur_job),
    ],
    "retile.write": [
        ("scan", _scan_pixels),
        ("tile.assign_cells", _assign_pixels),
        ("retile.retile", _retiled),
        ("retile.write", _retile_write_job),
    ],
}

DIGESTS = {
    "pip.pip_join": _md5_json,
    "zonal.zonal_stats": _md5_json,
    "image_enhance.box_blur_stats": lambda out: f"{out[0]}:{out[1]}",
    "retile.write": _retile_digest,
}

# workload -> the chain its closed loop repeats.  Blur and retile are
# measured only in traced runs: see README.md, "Workloads and chains".
WORKLOADS = {
    "tiles_pip": "pip.pip_join",
    "zonal_pixels": "zonal.zonal_stats",
}
# workload -> input images, from a sweep of job time against images on a
# 4-CPU host (README.md, "Input size"): about the largest sizes at which
# a full benchmark round fits its time budget on a slowed host.
IMAGES = {
    "tiles_pip": 4000,
    "zonal_pixels": 1500,
}
# the input size of the chains a traced run does not loop over: small,
# so that a traced run, which runs each of them twice, ends in time
OTHER_CHAIN_IMAGES = 1000


# ---------------------------------------------------------------------------
# Independent PIP check: brute force, no grid and no join pruning
# ---------------------------------------------------------------------------

def sample_centers(seed: int, n: int, tiles_axis: int, k: int):
    """(image ids, cx, cy) of ``k`` evenly spaced images, computed on the
    driver from the generator alone (no assign_cells)."""
    idx = np.unique(np.linspace(0, n - 1, k).astype(np.int64))
    rows = [synth.images_pdf(int(i), int(i) + 1, seed=seed,
                             tiles_axis=tiles_axis, with_pixels=False)
            for i in idx]
    ph = np.array([r["phash"].iloc[0] for r in rows], dtype=np.int64)
    w = np.array([r["w"].iloc[0] for r in rows], dtype=np.float64)
    h = np.array([r["h"].iloc[0] for r in rows], dtype=np.float64)
    x0, y_top = synth.anchor_of_phash_windowed(ph, tiles_axis)
    ids = [r["image_id"].iloc[0] for r in rows]
    # assign_cells' documented join point: the tile centre
    return ids, x0 + w * 0.25, y_top - h * 0.25


def brute_force_pairs(ids, cx, cy, polygons_pdf) -> set:
    pairs = set()
    for fid, wkb_b in zip(polygons_pdf["feat_id"], polygons_pdf["geom_wkb"]):
        inside = geom.points_in_wkb(cx, cy, bytes(wkb_b))
        pairs.update((ids[k], int(fid)) for k in np.flatnonzero(inside))
    return pairs


def engine_pairs(inp: Inputs, ids) -> set:
    """The engine's (image, feature) pairs for ``ids``, from the same
    pip_join call the tiles_pip job makes."""
    rows = (
        pip.pip_join(_cells(inp), inp.polygons)
        .filter(F.col("image_id").isin(list(ids)))
        .select("image_id", "feat_id").collect()
    )
    return {(r.image_id, int(r.feat_id)) for r in rows}
