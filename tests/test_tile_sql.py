"""assign_cells, cell_col and parent_cell_col are SQL text; these tests
pin them bit-for-bit to the Column-built expressions they replaced
(kept below as the reference), on random, extreme and negative phashes,
windowed and full tile axes (the mask clamp at 4096), every qk_r* level
and the parent rollup."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from raster_tools_spark.grid import (
    TILE_SIZE, WORLD_TOP, _ANCHOR_MULT, cell_edge)
from raster_tools_spark.operators import tile

_M31 = (1 << 31) - 1
_M62 = (1 << 62) - 1


# ---- the Column-built reference --------------------------------------------

def _ref_anchor(phash, tiles_axis):
    mask = (tiles_axis if tiles_axis < 4096 else 4096) - 1
    c = F.lit(int(_ANCHOR_MULT))
    p = phash.cast("long")
    t = (F.shiftright(p, 31).bitwiseAND(F.lit(_M31)) * c).bitwiseAND(
        F.lit(_M31)
    )
    u = (p.bitwiseAND(F.lit(_M31)) * c).bitwiseAND(F.lit(_M62))
    mixed = (u + F.shiftleft(t, 31)).bitwiseAND(F.lit(_M62))
    tx = F.shiftright(mixed, 20).bitwiseAND(F.lit(mask))
    ty = F.shiftright(mixed, 2).bitwiseAND(F.lit(mask))
    x0 = tx.cast("double") * F.lit(float(TILE_SIZE))
    y_top = F.lit(float(WORLD_TOP)) - ty.cast("double") * F.lit(
        float(TILE_SIZE)
    )
    return x0, y_top


def _ref_cell(x, y, res):
    edge = float(cell_edge(res))
    ix = F.floor(x / F.lit(edge)).cast("long")
    iy = F.floor((F.lit(WORLD_TOP) - y) / F.lit(edge)).cast("long")
    return (
        F.shiftleft(F.lit(res).cast("long"), 56)
        .bitwiseOR(F.shiftleft(ix, 28))
        .bitwiseOR(iy)
    )


def _ref_parent(cell):
    res = F.shiftright(cell, 56)
    ix = F.shiftright(cell, 28).bitwiseAND(F.lit((1 << 28) - 1))
    iy = cell.bitwiseAND(F.lit((1 << 28) - 1))
    return (
        F.shiftleft(res - 1, 56)
        .bitwiseOR(F.shiftleft(F.shiftright(ix, 1), 28))
        .bitwiseOR(F.shiftright(iy, 1))
    )


def _ref_assign(images, tiles_axis, res_levels):
    x0c, ytc = _ref_anchor(F.col("phash"), tiles_axis)
    df = (
        images.withColumn("x0", x0c)
        .withColumn("y_top", ytc)
        .withColumn("cx", F.col("x0") + F.col("w").cast("double") * 0.25)
        .withColumn("cy", F.col("y_top") - F.col("h").cast("double") * 0.25)
    )
    for res in res_levels:
        df = df.withColumn(
            f"qk_r{res}", _ref_cell(F.col("cx"), F.col("cy"), res))
    return df.withColumn(
        "hilbert", tile._hilbert_udf(F.col("cx"), F.col("cy")))


# ---- helpers ---------------------------------------------------------------

def _bits(pdf):
    """Every column as int64 bit patterns: double equality would take
    -0.0 for 0.0."""
    return {c: pdf[c].to_numpy().view(np.int64) if pdf[c].dtype.kind == "f"
            else pdf[c].to_numpy() for c in pdf.columns}


def _assert_bit_identical(got, want):
    assert list(got.columns) == list(want.columns)
    g, w = _bits(got), _bits(want)
    for c in got.columns:
        assert g[c].dtype == w[c].dtype, c
        assert np.array_equal(g[c], w[c]), c


def _phashes():
    rng = np.random.RandomState(23)
    return np.concatenate([
        rng.randint(-(2 ** 63), 2 ** 63 - 1, size=3000, dtype=np.int64),
        np.array([0, 1, -1, 2 ** 62, 2 ** 63 - 1, -(2 ** 63),
                  (1 << 62) - 1, (1 << 31) - 1, -(1 << 31), 1 << 31,
                  -(1 << 62), (1 << 20) - 1],
                 dtype=np.int64),
    ])


@pytest.fixture(scope="module")
def images(spark):
    ph = _phashes()
    rng = np.random.RandomState(5)
    w = rng.randint(0, 5000, size=ph.size)
    h = rng.randint(0, 5000, size=ph.size)
    w[:3], h[:3] = (0, 1, 4096), (4096, 0, 1)
    rows = [(i, int(p), int(a), int(b))
            for i, (p, a, b) in enumerate(zip(ph, w, h))]
    return spark.createDataFrame(
        rows, schema="id long, phash long, w int, h int").cache()


# ---- tests -----------------------------------------------------------------

RES_LEVELS = (7, 8, 9, 10, 11)
OUT = ["id", "x0", "y_top", "cx", "cy",
       *(f"qk_r{r}" for r in RES_LEVELS), "hilbert"]


@pytest.mark.parametrize("axis", [64, 4096, 8192])
def test_assign_cells_matches_column_reference(images, axis):
    got = (tile.assign_cells(images, tiles_axis=axis)
           .select(*OUT).toPandas().sort_values("id", ignore_index=True))
    want = (_ref_assign(images, axis, RES_LEVELS)
            .select(*OUT).toPandas().sort_values("id", ignore_index=True))
    assert len(got) == images.count()
    _assert_bit_identical(got, want)


def test_assign_cells_replaces_existing_columns(images):
    stale = images.withColumn("x0", F.lit(-1.0)).withColumn("qk_r9", F.lit(7))
    got = tile.assign_cells(stale, tiles_axis=64).select(*OUT).toPandas()
    want = tile.assign_cells(images, tiles_axis=64).select(*OUT).toPandas()
    _assert_bit_identical(got.sort_values("id", ignore_index=True),
                          want.sort_values("id", ignore_index=True))


def test_cell_and_parent_match_column_reference(spark):
    """Doubles across and beyond the world (negative, past WORLD_TOP),
    the DECIMAL coordinates some queries build, resolutions 0..17, one
    rollup per level and the 3-level rollup retile composes."""
    rng = np.random.RandomState(11)
    n = 2000
    xs = np.concatenate([rng.uniform(-2e3, WORLD_TOP + 2e3, n),
                         [0.0, -0.0, WORLD_TOP, -1e-9, 63.999999, 64.0]])
    ys = np.concatenate([rng.uniform(-2e3, WORLD_TOP + 2e3, n),
                         [WORLD_TOP, 0.0, -0.0, WORLD_TOP + 1e-9, 64.0, 1.0]])
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(xs, ys))],
        schema="id long, x double, y double",
    ).selectExpr("*", "((id * 48271) % 4096) + 0.5 AS dx",
                 f"{WORLD_TOP:.1f} - (((id * 69621) % 4096) + 0.5) AS dy")
    got_cols, want_cols = ["id"], ["id"]
    for xn, yn in (("x", "y"), ("dx", "dy")):
        for res in range(0, 18):
            name = f"{xn}_{res}"
            cell = tile.cell_sql(xn, yn, res)
            ref = _ref_cell(F.col(xn), F.col(yn), res)
            got_cols += [tile.cell_col(xn, yn, res).alias(name),
                         tile.parent_cell_col(cell).alias(f"p_{name}")]
            want_cols += [ref.alias(name), _ref_parent(ref).alias(f"p_{name}")]
        got3, want3 = tile.cell_sql(xn, yn, 11), _ref_cell(
            F.col(xn), F.col(yn), 11)
        for _ in range(3):
            got3, want3 = tile.parent_cell_sql(got3), _ref_parent(want3)
        got_cols.append(F.expr(got3).alias(f"p3_{xn}"))
        want_cols.append(want3.alias(f"p3_{xn}"))
    got = df.select(*got_cols).toPandas().sort_values("id", ignore_index=True)
    want = df.select(*want_cols).toPandas().sort_values(
        "id", ignore_index=True)
    _assert_bit_identical(got, want)
