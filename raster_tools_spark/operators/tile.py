"""Tile assignment: anchor every image on the grid and key it with
quadtree cells at resolutions 7..11 plus a Hilbert order key.

The retile-semantics core (SURVEY.md section 3.1): the reference
re-anchors its geo transform per index feature
(raster_tools/retile.py:47 -> utils.py:82-92) and window-reads by
inverse-affine grid math (utils.py:114-144).  The anchor is a
deterministic function of ``phash`` (FIXTURES.md section 1); the
wrapping int64 Knuth multiply that ANSI-mode Spark SQL rejects is
decomposed into overflow-free halves (see ``_anchor_sql``), so the
anchor AND the cell keys derived from it -- at every resolution,
parent rollups included -- are JVM-side expressions that stay inside
whole-stage codegen.  They are built as SQL text (``cell_sql``,
``parent_cell_sql``; ``cell_col``/``parent_cell_col`` wrap them as
Columns), which the JVM parses in one call where the same tree built
from Column objects costs one py4j call per operator.  The ``hilbert``
key is still an Arrow pandas UDF: a Python hop on the scan whenever a
consumer reads that column (column pruning drops it otherwise).

Scale notes: no shuffle here at all; this is a narrow map over the scan.
``hilbert`` is the range-partitioning key that keeps spatially adjacent
tiles in the same partition (SURVEY.md section 4, skew row).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..grid import TILE_SIZE, WORLD_TOP, _ANCHOR_MULT, cell_edge, RES_TILE

_M31 = (1 << 31) - 1
_M62 = (1 << 62) - 1
_M28 = (1 << 28) - 1


def _dbl(v: float) -> str:
    """Exact Spark SQL double literal (a bare ``0.25`` parses as DECIMAL)."""
    return f"{float(v)!r}D"


def _anchor_sql(phash: str, tiles_axis: int) -> tuple[str, str]:
    """JVM-side ``phash -> (x0, y_top)`` anchor as SQL text -- bit-exact
    mirror of grid.anchor_of_phash / synth.anchor_of_phash_windowed.

    numpy computes ``mixed = wrap64(p * C) & (2^62 - 1)``; ANSI-mode
    Spark throws on long overflow instead of wrapping, so the multiply
    is decomposed at bit 31.  For ANY int64 p (bits 62/63 contribute
    multiples of 2^62 and vanish under the mask):

        t = (((p >> 31) & m31) * C) & m31    -- (p_hi * C) mod 2^31
        u = ((p & m31) * C) & m62            -- (p_lo * C) mod 2^62
        mixed = (u + (t << 31)) & m62

    Every intermediate stays below 2^63 - 1: the two products are at
    most (2^31 - 1) * C < 2^62.4, and u + (t << 31) is at most
    2^63 - 2^31 - 1, so no ANSI overflow is reachable.  tx/ty then
    scale by the dyadic TILE_SIZE -- long->double cast and double
    multiply are the same IEEE operations numpy performs, so the
    result is bit-identical to numpy (equivalence property test in
    test_r06_optim.py sweeps random/extreme/negative phashes).  Being a
    plain expression, the anchor fuses into whole-stage codegen: no
    Python hop on the image scan.
    """
    mask = (tiles_axis if tiles_axis < 4096 else 4096) - 1
    c = int(_ANCHOR_MULT)
    p = f"CAST({phash} AS BIGINT)"
    t = f"(((shiftright({p}, 31) & {_M31}L) * {c}L) & {_M31}L)"
    u = f"((({p} & {_M31}L) * {c}L) & {_M62}L)"
    mixed = f"(({u} + shiftleft({t}, 31)) & {_M62}L)"
    tx = f"(shiftright({mixed}, 20) & {mask}L)"
    ty = f"(shiftright({mixed}, 2) & {mask}L)"
    x0 = f"(CAST({tx} AS DOUBLE) * {_dbl(TILE_SIZE)})"
    y_top = f"({_dbl(WORLD_TOP)} - CAST({ty} AS DOUBLE) * {_dbl(TILE_SIZE)})"
    return x0, y_top


def cell_sql(x: str, y: str, res: int) -> str:
    """Packed quadtree cell id of SQL expressions ``x, y`` as SQL text
    (codegen'd).

    Mirrors grid.cell_of_xy bit-for-bit: floor into the res grid, pack
    (res << 56) | (ix << 28) | iy.
    """
    edge = _dbl(cell_edge(res))
    ix = f"CAST(floor(({x}) / {edge}) AS BIGINT)"
    iy = f"CAST(floor(({_dbl(WORLD_TOP)} - ({y})) / {edge}) AS BIGINT)"
    return f"(shiftleft({res}L, 56) | shiftleft({ix}, 28) | {iy})"


def parent_cell_sql(cell: str) -> str:
    """Quadtree rollup res r -> r-1 of the SQL expression ``cell`` as
    SQL text (utils.py:38-51 quad fold)."""
    c = f"({cell})"
    ix = f"(shiftright({c}, 28) & {_M28})"
    return (
        f"(shiftleft(shiftright({c}, 56) - 1, 56)"
        f" | shiftleft(shiftright({ix}, 1), 28)"
        f" | shiftright({c} & {_M28}, 1))"
    )


def cell_col(x: str, y: str, res: int) -> Column:
    """``cell_sql`` as a Column; ``x, y`` are SQL expressions (column
    names, typically)."""
    return F.expr(cell_sql(x, y, res))


def parent_cell_col(cell: str) -> Column:
    """``parent_cell_sql`` as a Column."""
    return F.expr(parent_cell_sql(cell))


def assign_cells(
    images: DataFrame,
    tiles_axis: int = 4096,
    res_levels=(7, 8, 9, 10, 11),
) -> DataFrame:
    """images(+phash, w, h) -> + x0, y_top, cx, cy, qk_r7..qk_r11, hilbert.

    ``cx, cy`` is the tile center (the PIP-join point); ``qk_r{n}`` keys
    the center's cell at each resolution.  Assignment is a pure function
    of the row -> bit-identical at any parallelism (north rule).
    Existing columns of those names are replaced.

    The columns are one ``selectExpr`` of SQL text: the same expressions
    built as Column objects took ~0.15-0.35 s of py4j calls per job.
    Each column inlines the expressions it depends on (a lateral alias
    would resolve to an input column of the same name); whole-stage
    codegen evaluates the shared subexpressions once.
    """
    x0, y_top = _anchor_sql("phash", tiles_axis)
    cx = f"({x0} + CAST(w AS DOUBLE) * 0.25D)"
    cy = f"({y_top} - CAST(h AS DOUBLE) * 0.25D)"
    new = {"x0": x0, "y_top": y_top, "cx": cx, "cy": cy}
    for res in res_levels:
        new[f"qk_r{res}"] = cell_sql(cx, cy, res)
    df = images.drop(*new, "hilbert").selectExpr(
        "*", *(f"{sql} AS {name}" for name, sql in new.items())
    )
    # Hilbert distance of the canonical-tile cell: locality-preserving
    # long key for repartitionByRange.  Computed in a vectorized pandas
    # UDF -- an unrolled Catalyst expression for the 10-level bit
    # twiddle grows exponentially in tree size, so the Arrow batch path
    # is both the simpler and the faster plan here.
    return df.withColumn("hilbert", _hilbert_udf(F.col("cx"), F.col("cy")))


@F.pandas_udf(T.LongType())
def _hilbert_udf(cx: pd.Series, cy: pd.Series) -> pd.Series:
    from ..grid import hilbert_xy2d

    edge = float(cell_edge(RES_TILE))
    ix = np.floor(cx.to_numpy() / edge).astype(np.int64)
    iy = np.floor((WORLD_TOP - cy.to_numpy()) / edge).astype(np.int64)
    return pd.Series(hilbert_xy2d(RES_TILE, ix, iy))


def quad_rollup(
    df: DataFrame,
    cell_col_name: str,
    value_col: str,
    levels: int = 1,
    agg: str = "mean",
) -> DataFrame:
    """Iterated parent-cell aggregation -- the reference's quad-tree
    downsample (utils.py:38-51, driver aggregate.py:91,107-112) as a
    hierarchy of partial-aggregating groupBys.

    ``agg`` in {mean, min, max, sum}; mean-of-means matches the
    reference's masked 2x2 mean when weights are carried, so we carry
    (sum, count) through the levels and finalize mean = sum/count.
    """
    # decimal-backed sum: exact and order-independent, so results are
    # bit-identical regardless of partitioning (north rule) and match
    # any oracle engine
    out = df.select(
        F.col(cell_col_name).alias("cell"),
        F.col(value_col).cast("double").alias("v"),
    ).groupBy("cell").agg(
        F.sum(F.col("v").cast("decimal(30,6)")).alias("s"),
        F.count("v").alias("n"),
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
    )
    for _ in range(levels):
        out = (
            out.withColumn("cell", parent_cell_col("cell"))
            .groupBy("cell")
            .agg(
                F.sum("s").alias("s"),
                F.sum("n").alias("n"),
                F.min("mn").alias("mn"),
                F.max("mx").alias("mx"),
            )
        )
    if agg == "mean":
        val = F.col("s").cast("double") / F.col("n")
    elif agg == "sum":
        val = F.col("s").cast("double")
    elif agg == "min":
        val = F.col("mn")
    elif agg == "max":
        val = F.col("mx")
    else:
        raise ValueError(agg)
    return out.select("cell", val.alias("value"), F.col("n").alias("n_px"))
