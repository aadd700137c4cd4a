"""Raster <-> vector operators over the int64 tile grid (north_rule:
"raster<->vector" alongside the H3/S2-style index).

A "raster" here is the engine's native gridded table: one row per tile
cell at a fixed resolution with value columns — the layout the tile
join, rollup (operators/joins.rollup_cells) and partition-pruned
storage already use. The two directions:

- rasterize: polygon layer -> (cell, <keys>, coverage) with EXACT
  per-cell coverage fractions. Interior cells (cell_full from the
  classified cover) are coverage 1.0 with no geometry work; only the
  polygon-perimeter cells run the planar intersection-area kernel —
  cost scales with boundary length, not raster size, the same
  perimeter-bound property as the tile join.
- vectorize: gridded table -> polygons, as cell rectangles dissolved by
  a class column (grouped tree union). Cell rectangle geometry is pure
  JVM arithmetic from the cell id; only the final union folds in
  Python per group.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mundipy_spark.functions import st
from mundipy_spark.kernels import tiling
from mundipy_spark.operators import joins


# cell_bounds_exprs lives with the other cell helpers in operators.joins
cell_bounds_exprs = joins.cell_bounds_exprs


def cell_bounds_sql(cell: str, res: int) -> tuple[str, str, str, str]:
    nx, ny = tiling.nx_at(res), tiling.ny_at(res)
    x = f"(({cell} >> {tiling._X_SHIFT}) & {tiling._XY_MASK})"
    y = f"({cell} & {tiling._XY_MASK})"
    minx = f"(-180.0 + {x} * (360.0 / {nx}))"
    miny = f"(-90.0 + {y} * (180.0 / {ny}))"
    return minx, miny, f"({minx} + 360.0 / {nx})", f"({miny} + 180.0 / {ny})"


def cell_rect_expr(cell: Column, res: int) -> Column:
    """Cell rectangle as WKB — WKT built JVM-side, one existing decode
    UDF; no new Python surface."""
    minx, miny, maxx, maxy = cell_bounds_exprs(cell, res)
    wkt = F.format_string(
        "POLYGON((%s %s, %s %s, %s %s, %s %s, %s %s))",
        minx.cast("string"), miny.cast("string"),
        maxx.cast("string"), miny.cast("string"),
        maxx.cast("string"), maxy.cast("string"),
        minx.cast("string"), maxy.cast("string"),
        minx.cast("string"), miny.cast("string"),
    )
    return st.st_geomfromtext(wkt)


def rasterize(
    polys: DataFrame,
    res: int,
    geom_col: str = "geometry",
    keep: list[str] | None = None,
    min_coverage: float = 0.0,
) -> DataFrame:
    """(cell, <keep cols>, coverage) per covering cell: 1.0 on interior
    cells for free, exact planar area fraction on boundary cells.

    The area kernel (and the cell-rectangle decode feeding it) runs
    once per cell row: its nondeterministic copy (joins.single_eval)
    keeps Catalyst from pushing the `coverage > min_coverage` filter
    below the projection, which would run both UDFs twice. The rows are
    already spread over tile_index's defaultParallelism partitions."""
    idx = joins.tile_index(polys, geom_col=geom_col, res=res, keep=keep,
                           null_interior_geom=True)
    minx, miny, maxx, maxy = cell_bounds_exprs(F.col("cell"), res)
    nx, ny = tiling.nx_at(res), tiling.ny_at(res)
    cell_area = (360.0 / nx) * (180.0 / ny)
    rect = cell_rect_expr(F.col("cell"), res)
    cov = F.when(F.col("cell_full"), F.lit(1.0)).otherwise(
        joins.single_eval(st.st_intersection_area_planar)(F.col(geom_col), rect)
        / F.lit(cell_area)
    )
    keep_cols = keep if keep is not None else [
        c for c in polys.columns if c != geom_col
    ]
    out = idx.select("cell", *keep_cols, cov.alias("coverage"))
    return out.filter(F.col("coverage") > min_coverage)


def vectorize(
    grid: DataFrame,
    res: int,
    cell_col: str = "cell",
    class_col: str = "value",
    geom_col: str = "geometry",
) -> DataFrame:
    """One (class, geometry) row per class: the union of the class's
    cell rectangles (MultiPolygon for disjoint regions)."""
    from mundipy_spark.operators.dissolve import dissolve

    rects = grid.select(
        F.col(class_col), cell_rect_expr(F.col(cell_col), res).alias(geom_col)
    )
    return dissolve(rects, by=class_col, geom_col=geom_col)
