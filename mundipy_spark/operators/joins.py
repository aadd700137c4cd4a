"""Spatial joins compiled to tile-cell equi-joins.

The reference expresses joins as per-feature probes of an R-tree/GiST
indexed layer (intersects: mundipy/dataset.py:143-162; within:
dataset.py:164-177; nearest: dataset.py:179-206). At Spark scale the
same filter-then-refine shape becomes one equi-join on the tile cell:

    polygons --st_cells--> explode cover --+
                                           +--> equi-join on cell, whose
    points  --cell_expr (pure JVM)---------+    condition is the refine:
                                                cell_full OR (bbox AND pip)

On a refine="jvm" index (the default for sparse layers) the pip term is
a Catalyst expression over the per-cell segment subset, so the refine
runs inside the join condition, in codegen, and `how='left'` is the
same join as LEFT OUTER. On an Arrow index (dense or invalid layers)
the pip term is a Python UDF, which runs after an inner join, or per
cell array after a left join (Spark rejects a Python UDF in an outer-
join condition). The Arrow join broadcasts each distinct polygon WKB
once, in a SparkContext.broadcast table keyed by xxhash64(WKB); the
index rows and the UDF's candidate rows carry only that 64-bit id.

Plan properties (the 100 TB story):
- the point/probe side is never shuffled when the polygon index is
  broadcast (OSM admin layers tile to ~10^6-10^7 cell rows — comfortably
  broadcastable; pass broadcast_index=False to fall back to a shuffled
  equi-join, where AQE skew-join plus optional salting handles hot urban
  cells);
- a point lands in exactly ONE cell at a fixed resolution, so the
  equi-join emits each (point, polygon-cover-row) candidate at most once
  — no dedup shuffle is needed before refinement;
- refinement cost is bounded by candidates, not |points| x |polygons|,
  and the bbox prefilter runs JVM-side: the Arrow PIP UDF receives
  (lon, lat, polygon id) per candidate and tests only the boundary-cell
  near-hits; each worker decodes a polygon once per join.

Joins that end in a Python kernel followed by a filter on its result
(overlap_weighted_join, within_distance_geom_join, raster.rasterize)
call a nondeterministic copy of the kernel (`single_eval`). Otherwise
Catalyst pushes the filter below the projection and copies the UDF
into it, so the kernel runs twice per candidate. Their candidate
dedup is a `repartition(defaultParallelism, <dedup keys>)`, which AQE
does not coalesce; the dedup's own small shuffle would be merged into
one partition, and the kernel would run on one core.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mundipy_spark.functions import st
from mundipy_spark.kernels import tiling

DEFAULT_RES = 8  # ~0.7 deg cells; every join runs at it unless passed res=


def single_eval(udf):
    """A nondeterministic copy of a registered st.* pandas UDF, so a
    filter on its result stays above the one projection that computes
    it (Catalyst does not push filters through nondeterministic
    projections). A fresh instance from the same function keeps the
    plan name; `udf.asNondeterministic()` would mutate the shared UDF
    and turn the registered SQL function nondeterministic for every
    caller."""
    return F.pandas_udf(udf.func, udf.returnType).asNondeterministic()


# ---------------------------------------------------------------------------
# cell helpers (JVM-side)
# ---------------------------------------------------------------------------


def cell_xy_expr(cell: Column) -> tuple[Column, Column, Column]:
    res = F.shiftright(cell, tiling._RES_SHIFT)
    x = F.shiftright(cell, tiling._X_SHIFT).bitwiseAND(F.lit(tiling._XY_MASK))
    y = cell.bitwiseAND(F.lit(tiling._XY_MASK))
    return res, x, y


def parent_cell_expr(cell: Column, steps: int = 1) -> Column:
    """Quadtree parent cell id, pure JVM bit arithmetic (floor
    composition makes parent(cell_r(p)) == cell_{r-steps}(p) exactly)."""
    res, x, y = cell_xy_expr(cell)
    return (
        F.shiftleft(res - steps, tiling._RES_SHIFT)
        .bitwiseOR(F.shiftleft(F.shiftright(x, steps), tiling._X_SHIFT))
        .bitwiseOR(F.shiftright(y, steps))
    )


def cell_bounds_exprs(cell, res: int):
    """(minx, miny, maxx, maxy) of a cell id — pure column arithmetic."""
    nx, ny = tiling.nx_at(res), tiling.ny_at(res)
    _, x, y = cell_xy_expr(cell)
    minx = -180.0 + x.cast("double") * (360.0 / nx)
    miny = -90.0 + y.cast("double") * (180.0 / ny)
    return minx, miny, minx + 360.0 / nx, miny + 180.0 / ny


def rollup_cells(
    df: DataFrame, cell_col: str = "cell", steps: int = 1, aggs: list | None = None
) -> DataFrame:
    """Hypertable-style rollup: re-aggregate a per-cell table to the
    parent resolution. Partial aggregation makes the shuffle carry one
    row per FINE cell, and successive rollups chain (r8 -> r6 -> r4)
    without touching the raw data again."""
    aggs = aggs or [F.sum("n").alias("n")]
    return (
        df.withColumn(cell_col, parent_cell_expr(F.col(cell_col), steps))
        .groupBy(cell_col)
        .agg(*aggs)
    )


def neighbors_expr(cell: Column, res: int, k: int = 1) -> Column:
    """array<long> of the (2k+1)^2 neighborhood of a cell, pure JVM
    arithmetic: longitude wraps, latitude clamps (drops out-of-range)."""
    nx, ny = tiling.nx_at(res), tiling.ny_at(res)
    _, x, y = cell_xy_expr(cell)
    cells = []
    for dx in range(-k, k + 1):
        for dy in range(-k, k + 1):
            xn = (x + dx + nx) % nx
            yn = y + dy
            c = (
                F.shiftleft(F.lit(res).cast("long"), tiling._RES_SHIFT)
                .bitwiseOR(F.shiftleft(xn, tiling._X_SHIFT))
                .bitwiseOR(yn)
            )
            cells.append(F.when((yn >= 0) & (yn < ny), c))
    return F.array_compact(F.array(*cells))


def neighbors_radius_expr(cell: Column, res: int, radius_m: float, lat: Column) -> Column:
    """Latitude-aware neighborhood: enough ±x columns that any point
    within radius_m of a point in `cell` shares a cell with this list.

    Cell HEIGHT in meters is latitude-independent, so res is chosen with
    height >= radius (dy in ±1 suffices); cell WIDTH shrinks by cos(lat),
    so dxmax grows toward the poles — computed per row, fully JVM-side,
    capped at the half-grid (a polar cap where everything is within
    radius)."""
    nx, ny = tiling.nx_at(res), tiling.ny_at(res)
    width_deg = tiling.cell_deg(res)
    _, x, y = cell_xy_expr(cell)
    # effective latitude: |lat| plus one cell of slack for the dy move
    eff = F.least(F.abs(lat) + F.lit(width_deg), F.lit(89.9))
    cosl = F.greatest(F.cos(F.radians(eff)), F.lit(1e-6))
    dxmax = F.least(
        F.ceil(F.lit(radius_m) / (F.lit(width_deg * 111_320.0) * cosl)).cast("long") + 1,
        F.lit(nx // 2),
    )
    dxs = F.sequence(-dxmax, dxmax)

    # NB: F.transform passes (element, index) to a 2-arg lambda — bind yn
    # through a closure factory so the lambda stays single-argument.
    def row_cells(yn):
        def one(dx):
            return (
                F.shiftleft(F.lit(res).cast("long"), tiling._RES_SHIFT)
                .bitwiseOR(F.shiftleft((x + dx + 2 * nx) % nx, tiling._X_SHIFT))
                .bitwiseOR(yn)
            )

        return one

    out = []
    for dy in (-1, 0, 1):
        yn = y + dy
        out.append(
            F.when(
                (yn >= 0) & (yn < ny),
                F.transform(dxs, row_cells(yn)),
            ).otherwise(F.array().cast("array<long>"))
        )
    return F.array_distinct(F.flatten(F.array(*out)))


# ---------------------------------------------------------------------------
# polygon tile index
# ---------------------------------------------------------------------------


def tile_index(
    polys: DataFrame,
    geom_col: str = "geometry",
    res: int = DEFAULT_RES,
    keep: list[str] | None = None,
    null_interior_geom: bool = True,
    refine: str = "arrow",
) -> DataFrame:
    """Explode a polygon layer into its covering cells, carrying bbox
    columns for the JVM-side prefilter. One output row per (polygon,
    cell). This is the broadcast side of every tile join; persist it
    when reused across queries (the Spark analogue of the reference's
    layer lru_cache, mundipy/dataset.py:113-115).

    null_interior_geom drops the WKB payload on interior (cell_full)
    rows — those candidates are accepted from the cell id alone, so the
    bytes would only bloat the broadcast (most covering cells of a big
    polygon are interior). Pass False when downstream needs the
    geometry on every row (e.g. overlap-area computation).

    The Arrow tile join swaps the geometry column for its xxhash64 id
    just before the broadcast (tile_join_points), so the WKB kept here
    reaches the probe only through the join's polygon table; the
    overlap and within-distance joins read the geometry column itself.

    refine="jvm" additionally precomputes, per BOUNDARY cell, the local
    segment subset + parity bit (`st.st_cell_refine`) and DROPS the WKB
    column entirely: tile_join_points then refines with a pure Catalyst
    expression — zero Python on the probe path, and the broadcast ships
    a few doubles per boundary cell instead of whole-polygon WKB (the
    shape that matters when the probe side is 10^12 rows). Valid only
    for disjoint-interior polygon layers; an invalid overlapping-
    interior multipolygon is flagged with an nring=-1 sentinel by
    st_cell_refine (exact check, kernels.tiling.
    multiparts_interiors_overlap) — the default join path then falls
    back to "arrow" automatically, and using such an index explicitly
    raises. Default "arrow" keeps the geometry column and the
    Arrow-kernel refinement, correct for any layer."""
    if refine not in ("arrow", "jvm"):
        raise ValueError(f"unsupported refine={refine!r}")
    cols = keep if keep is not None else [c for c in polys.columns if c != geom_col]
    # spread the (Python-UDF) cover computation across cores: polygon
    # layers often arrive in one or two partitions and the index build
    # would otherwise serialize
    npart = polys.sparkSession.sparkContext.defaultParallelism
    b = polys.repartition(npart).withColumn("_b", st.st_bounds(F.col(geom_col)))
    idx = (
        b.select(
            *cols,
            F.col(geom_col).alias(geom_col),
            F.col("_b.minx").alias("minx"),
            F.col("_b.miny").alias("miny"),
            F.col("_b.maxx").alias("maxx"),
            F.col("_b.maxy").alias("maxy"),
            F.explode(st.st_cells_classified(F.col(geom_col), F.lit(res))).alias("_c"),
        )
        .withColumn("cell", F.col("_c.cell"))
        .withColumn("cell_full", F.col("_c.full"))
        .drop("_c")
        .withColumn(
            geom_col,
            F.when(~F.col("cell_full"), F.col(geom_col))
            if null_interior_geom
            else F.col(geom_col),
        )
    )
    if refine == "jvm":
        ref = F.when(
            ~F.col("cell_full"), st.st_cell_refine(F.col(geom_col), F.col("cell"))
        )
        idx = (
            idx.withColumn("_ref", ref)
            .withColumn("nring", F.col("_ref.nring"))
            .withColumn("bpar", F.col("_ref.bpar"))
            .withColumn("segs", F.col("_ref.segs"))
            .drop("_ref", geom_col)
        )
    return idx


def add_point_cell(
    df: DataFrame, lon: str = "lon", lat: str = "lat", res: int = DEFAULT_RES,
    out: str = "cell",
) -> DataFrame:
    return df.withColumn(out, st.cell_expr(F.col(lon), F.col(lat), res))


# above this many segments per boundary cell, the unrolled JVM refine
# stops paying for itself. The join condition is generated inline into
# one method of the probe stage, ~2 KB of SQL per term with nothing
# shared between terms, so the method outgrows the JIT's huge-method
# limit and then the JVM's 64 KB limit (janino refuses it and the stage
# runs interpreted). On a 4-core host with pip_detailed's layer
# (prebuilt indexes, 50k points; Arrow index 2.0 s): 8 terms 1.0 s,
# 10 terms 11.0 s (compiled, too large for the JIT), 12-16 terms
# 4.2-4.8 s (over 64 KB). That puts the break-even near 8 terms, below
# this cap. Denser layers get the Arrow index; a prebuilt dense jvm
# index falls back to the HOF-aggregate form (correct at any k,
# CodegenFallback-slow)
UNROLL_CAP = 16

# memo keyed by the index DataFrame's logical plan and input files: the
# unroll width is a property of the (usually persisted, reused across
# queries) index, so the tiny driver-side agg runs once per layer, not
# once per join. The plan hash alone does not change when a file layer
# is rewritten at the same path; its part-file names do.
_MAXK_CACHE: dict[tuple[int, tuple[str, ...]], tuple[int, bool]] = {}


def _input_files(df: DataFrame) -> tuple[str, ...]:
    """Sorted files under the analyzed plan of `df`. (DataFrame.inputFiles
    reads the cache-substituted plan, which lists no files once an equal
    plan is cached — as the persisted index of an earlier join is.)"""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    files: set[str] = set()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRelation":
            rel = leaf.relation()
            if rel.getClass().getSimpleName() == "HadoopFsRelation":
                files.update(rel.location().inputFiles())
    return tuple(sorted(files))


def _index_probe(index: DataFrame) -> tuple[int, bool]:
    """(maxk, unsafe) of a refine="jvm" index: maxk is the max segments
    per boundary cell (the unroll width for st.pip_refine_expr), unsafe
    is True when any layer geometry carries st_cell_refine's nring=-1
    sentinel (invalid overlapping-interior multipolygon — the refine
    expression would return wrong containment; callers must use the
    Arrow path). ONE small driver-side agg over the (broadcast-sized)
    index, memoized per plan; amortized exactly like the build itself."""
    key = (index._jdf.queryExecution().logical().semanticHash(), _input_files(index))
    hit = _MAXK_CACHE.get(key)
    if hit is None:
        row = index.agg(
            F.max(F.size("segs")), F.min(F.coalesce("nring", F.lit(0)))
        ).collect()[0]
        hit = (int(row[0] or 0) // 4, int(row[1] or 0) < 0)
        if len(_MAXK_CACHE) > 1024:
            _MAXK_CACHE.clear()
        _MAXK_CACHE[key] = hit
    return hit


def _index_maxk(index: DataFrame) -> int:
    """Unroll width of a refine="jvm" index, refusing unsafe layers."""
    maxk, unsafe = _index_probe(index)
    if unsafe:
        raise ValueError(
            "tile join: this refine='jvm' index contains an invalid "
            "multipolygon with overlapping member interiors; rebuild it "
            "with tile_index(refine='arrow') (the default join path "
            "does this automatically)"
        )
    return maxk


# ---------------------------------------------------------------------------
# point-in-polygon / intersects join
# ---------------------------------------------------------------------------


# index columns that only serve the join itself, never its output
_INDEX_INTERNAL = (
    "cell", "_salt", "cell_full", "minx", "miny", "maxx", "maxy",
    "nring", "bpar", "segs", "_gid",
)


def _kept_cols(index: DataFrame, geom_col: str) -> list[str]:
    """The polygon columns a tile join over `index` outputs."""
    return [c for c in index.columns if c != geom_col and c not in _INDEX_INTERNAL]


def _q(side: str, col: str) -> str:
    """SQL reference to `col` of a join side aliased `side`."""
    return f"`{side}`.`{col.replace('`', '``')}`"


def tile_join_points(
    points: DataFrame,
    polys: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    geom_col: str = "geometry",
    res: int = DEFAULT_RES,
    how: str = "inner",
    broadcast_index: bool = True,
    salt: int = 0,
    poly_cols: list[str] | None = None,
    index: DataFrame | None = None,
) -> DataFrame:
    """Points-vs-polygons intersects join (the reference's canonical
    point-in-polygon tagging workload, tests/test_example.py:10-27).

    how='inner' keeps matching pairs; how='left' keeps all points with
    polygon columns null when unmatched (the 'none' default semantics of
    the reference's tagging loop). Output: the point columns, then the
    index's kept polygon columns; a point column that shares a name
    with a kept polygon column raises ValueError (pick the polygon
    columns with poly_cols=).

    On a refine="jvm" index (the default for sparse layers) both `how`
    values are ONE equi-join on the cell whose condition carries the
    whole refine, `cell_full OR (bbox AND pip)`; the LEFT OUTER form of
    that join is already the tagging semantics. An Arrow index refines
    in a Python UDF, which Spark rejects in an outer-join condition, so
    its left join goes through `_tile_join_points_left`. On the Arrow
    path the join first collects the layer's (xxhash64 id, WKB) pairs
    in one small job — from `polys` when it builds the index, from the
    boundary rows of a prebuilt `index` — deduplicates them on the
    driver into one SparkContext.broadcast table (st.polygon_table),
    and broadcasts the index with the id in place of the geometry: the
    refine UDF receives (lon, lat, id) per candidate and each worker
    decodes a polygon once per join.

    salt>0 replicates the index rows salt ways and scatters probes by a
    hash — only meaningful when broadcast_index=False (a broadcast join
    has no shuffle to skew).

    index: a prebuilt (and ideally .persist()ed) tile_index(polys, res)
    — at scale the index is built ONCE and amortized over the whole
    probe scan (the Spark analogue of the reference's layer lru_cache,
    mundipy/dataset.py:113-115); pass it here to keep repeated joins
    from re-running the cover UDFs.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"unsupported how={how!r}")
    prebuilt = index is not None
    join_keys = ["cell", "_salt"] if salt > 0 and not broadcast_index else ["cell"]
    if index is not None:
        kept = _kept_cols(index, geom_col)
    elif poly_cols is not None:
        kept = poly_cols
    else:
        kept = [c for c in polys.columns if c != geom_col]
    clash = [c for c in points.columns if c in kept and c not in join_keys]
    if clash:
        raise ValueError(
            f"tile join: point columns {clash} are also polygon columns; "
            "rename them or choose the polygon columns with poly_cols="
        )
    if index is None:
        # default to the JVM refine index: exact PIP without Python on
        # the probe path. Two cases rebuild as an Arrow index instead:
        # layers denser than UNROLL_CAP segments per boundary cell
        # (detailed coastlines vs a fine res — per-batch numpy
        # refinement wins at that density), and layers carrying an
        # invalid overlapping-interior multipolygon (st_cell_refine's
        # nring=-1 sentinel: XOR parity would be wrong there). The
        # index is persisted BEFORE the probe so the expensive build
        # (cover + refine UDFs) runs once — the probe agg materializes
        # it into cache and the join reuses it; without this the build
        # executed twice (once for the agg, once inside the join).
        # Broadcast-sized by contract, so the cache footprint is small;
        # callers who loop many one-shot joins should prebuild +
        # persist + unpersist the index themselves (see docstring).
        index = tile_index(
            polys, geom_col=geom_col, res=res, keep=poly_cols, refine="jvm"
        ).persist()
        maxk, unsafe = _index_probe(index)
        if unsafe or maxk > UNROLL_CAP:
            index.unpersist()
            index = tile_index(
                polys, geom_col=geom_col, res=res, keep=poly_cols, refine="arrow"
            )
    pts = add_point_cell(points, lon, lat, res)
    if "segs" not in index.columns:
        g = F.col(geom_col)
        layer = index.where(~F.col("cell_full")) if prebuilt else polys
        pairs = layer.select(F.xxhash64(g), g).collect()
        table = points.sparkSession.sparkContext.broadcast(st.polygon_table(pairs))
        index = index.withColumn("_gid", F.xxhash64(g)).drop(geom_col)
    if "_salt" in join_keys:
        index = index.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
        pts = pts.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(lon), F.col(lat)), F.lit(salt))
        )
    out_cols = [c for c in points.columns if c not in join_keys]

    if "segs" in index.columns:
        return _tile_join_points_jvm(
            pts, index, lon, lat, geom_col, join_keys, broadcast_index, how, out_cols
        )
    if how == "left":
        return _tile_join_points_left(
            pts, index, table, lon, lat, geom_col, join_keys, broadcast_index, out_cols
        )

    rhs = F.broadcast(index) if broadcast_index else index
    cand = pts.join(rhs, on=join_keys, how="inner")
    # Interior-cell candidates are PROVEN matches (the whole cell lies
    # inside the polygon) — only boundary-cell rows need the bbox
    # prefilter + exact PIP. The UDF is extracted below the filter and
    # sees every candidate, as (lon, lat, id, near); it decodes and
    # tests only the `near` rows (boundary-cell bbox hits). Both id and
    # near are non-null columns, so the id reaches pandas as int64.
    bbox_ok = (
        (F.col(lon) >= F.col("minx"))
        & (F.col(lon) <= F.col("maxx"))
        & (F.col(lat) >= F.col("miny"))
        & (F.col(lat) <= F.col("maxy"))
    )
    near = F.coalesce(~F.col("cell_full") & bbox_ok, F.lit(False))
    refine = st.point_in_geom_by_id(table)(F.col(lon), F.col(lat), F.col("_gid"), near)
    return cand.filter(F.col("cell_full") | refine).drop(
        "minx", "miny", "maxx", "maxy", "cell", "cell_full", "_gid", "_salt"
    )


def _tile_join_points_jvm(
    pts: DataFrame,
    index: DataFrame,
    lon: str,
    lat: str,
    geom_col: str,
    join_keys: list[str],
    broadcast_index: bool,
    how: str,
    out_cols: list[str],
) -> DataFrame:
    """Inner or left tile join over a refine="jvm" index as ONE equi-join
    on the cell keys whose condition is the whole refine:

      cell_full OR (bbox AND coalesce(pip, false))

    Interior-cell rows are accepted from the cell id alone; boundary
    rows pass the bbox prefilter before the segment terms run. A LEFT
    OUTER join with this condition emits one row per accepted polygon
    and one null-tagged row for a point with none (or with a null cell,
    e.g. an un-geocoded page), and the broadcast hash relation keeps
    every cover row of a cell, so nothing is regrouped per join. The
    condition is SQL text parsed once, with every column qualified by
    its side's alias (the point side `_pt`, the index `_ix`)."""
    maxk = _index_maxk(index)
    p, i = partial(_q, "_pt"), partial(_q, "_ix")
    ops = (p(lon), p(lat), i("segs"), i("nring"), i("bpar"))
    if maxk <= UNROLL_CAP:
        ref = st.pip_refine_sql(*ops, maxk=maxk)
    else:
        ref = st.pip_refine_agg_sql(*ops)
    keys = " AND ".join(f"({p(k)} = {i(k)})" for k in join_keys)
    bbox = (
        f"((({p(lon)} >= {i('minx')}) AND ({p(lon)} <= {i('maxx')})) "
        f"AND ({p(lat)} >= {i('miny')})) AND ({p(lat)} <= {i('maxy')})"
    )
    cond = F.expr(
        f"{keys} AND ({i('cell_full')} OR (({bbox}) AND coalesce({ref}, false)))"
    )
    rhs = F.broadcast(index) if broadcast_index else index
    j = pts.alias("_pt").join(rhs.alias("_ix"), cond, how)
    return j.select(
        *[F.col(p(c)) for c in out_cols],
        *[F.col(i(c)) for c in _kept_cols(index, geom_col)],
    )


def _tile_join_points_left(
    pts: DataFrame,
    index: DataFrame,
    table,
    lon: str,
    lat: str,
    geom_col: str,
    join_keys: list[str],
    broadcast_index: bool,
    out_cols: list[str],
) -> DataFrame:
    """LEFT point-in-polygon tagging over an Arrow index, in ONE scan of
    the probe side. (A refine="jvm" index needs none of this: its left
    join is `_tile_join_points_jvm`'s conditional outer join. Here the
    refine is a Python UDF, which Spark rejects in an outer-join
    condition.)

    The index is pre-aggregated to one row per cell carrying its
    candidate polygons as an array of structs, so the probe side left-
    joins on the compact cell key only (never on payload columns like
    the page text, and never re-joined against itself), stays on its
    scan partitioning under a broadcast join, and each probe row decides
    its matches inline:

      candidates --[JVM: cell_full | bbox]--> near
      near_full  auto-accept; near_boundary -> array PIP (Arrow UDF)
      no accepted candidate -> single null-tagged row (left semantics)

    The candidates carry the polygon id `_gid` in place of the geometry;
    the Arrow UDF receives each row's array of boundary ids and looks
    the polygons up in the broadcast polygon `table`.

    Points whose cell key is null (un-geocoded probes) pass through with
    null polygon columns."""
    cand_cols = [c for c in index.columns if c not in join_keys]
    idx_by_cell = index.groupBy(*join_keys).agg(
        F.collect_list(F.struct(*[F.col(c) for c in cand_cols])).alias("_cands")
    )
    rhs = F.broadcast(idx_by_cell) if broadcast_index else idx_by_cell
    j = pts.join(rhs, on=join_keys, how="left")

    elem_type = None
    for f in idx_by_cell.schema.fields:
        if f.name == "_cands":
            elem_type = f.dataType.elementType
    cands = F.coalesce(F.col("_cands"), F.array().cast(T.ArrayType(elem_type)))

    def bbox_ok(c):
        return (
            (F.col(lon) >= c["minx"])
            & (F.col(lon) <= c["maxx"])
            & (F.col(lat) >= c["miny"])
            & (F.col(lat) <= c["maxy"])
        )

    near = F.filter(cands, lambda c: c["cell_full"] | bbox_ok(c))
    full = F.filter(near, lambda c: c["cell_full"])
    bnd = F.filter(near, lambda c: ~c["cell_full"])
    mask = st.points_in_geoms_by_id(table)(
        F.col(lon), F.col(lat), F.transform(bnd, lambda c: c["_gid"])
    )
    acc_bnd = F.transform(
        F.filter(
            F.zip_with(bnd, mask, lambda c, m: F.struct(c.alias("c"), m.alias("m"))),
            lambda z: F.coalesce(z["m"], F.lit(False)),
        ),
        lambda z: z["c"],
    )
    accepted = F.concat(full, acc_bnd)
    null_cand = F.lit(None).cast(elem_type)
    padded = F.when(F.size(accepted) > 0, accepted).otherwise(F.array(null_cand))

    out = j.withColumn("_c", F.explode(padded))
    return out.select(
        *[F.col(c) for c in out_cols],
        *[F.col("_c")[c].alias(c) for c in _kept_cols(index, geom_col)],
    )


# ---------------------------------------------------------------------------
# within-radius join (point-point distance join)
# ---------------------------------------------------------------------------


def radius_res(radius_m: float) -> int:
    """Finest resolution whose cell HEIGHT (latitude-independent meters)
    is >= radius; the longitude direction is handled per-row by
    neighbors_radius_expr."""
    for res in range(tiling.MAX_RES, -1, -1):
        if tiling.cell_deg(res) * 111_320.0 >= radius_m:
            return res
    return 0


def within_radius_join(
    left: DataFrame,
    right: DataFrame,
    radius_m: float,
    left_lon: str = "lon",
    left_lat: str = "lat",
    right_lon: str = "lon",
    right_lat: str = "lat",
    res: int | None = None,
    broadcast_right: bool = False,
) -> DataFrame:
    """All (left, right) pairs within radius_m great-circle meters —
    reference `Dataset.within` (mundipy/dataset.py:164-177), but as a
    symmetric distance join instead of probe loops.

    Entirely JVM-side: cell assignment, ring-1 neighbor explode on the
    right, equi-join, haversine refinement — zero Python in the hot path.
    Shuffles both sides on cell unless broadcast_right.
    """
    if res is None:
        res = radius_res(radius_m)
    lcol = add_point_cell(left, left_lon, left_lat, res, out="_lcell")
    r = right
    if right_lon == left_lon:  # disambiguate columns on self-ish joins
        r = right.select(
            *[F.col(c).alias(f"r_{c}") for c in right.columns]
        )
        right_lon, right_lat = f"r_{right_lon}", f"r_{right_lat}"
    rcol = r.withColumn(
        "_lcell",
        F.explode(
            neighbors_radius_expr(
                st.cell_expr(F.col(right_lon), F.col(right_lat), res),
                res,
                radius_m,
                F.col(right_lat),
            )
        ),
    )
    rhs = F.broadcast(rcol) if broadcast_right else rcol
    dist = st.haversine_expr(
        F.col(left_lon), F.col(left_lat), F.col(right_lon), F.col(right_lat)
    )
    return (
        lcol.join(rhs, on="_lcell", how="inner")
        .withColumn("dist_m", dist)
        .filter(F.col("dist_m") <= radius_m)
        .drop("_lcell")
    )


def within_distance_geom_join(
    points: DataFrame,
    polys: DataFrame,
    radius_m: float,
    lon: str = "lon",
    lat: str = "lat",
    geom_col: str = "geometry",
    broadcast_index: bool = True,
    res: int | None = None,
    point_id: str | None = None,
) -> DataFrame:
    """All (point, polygon) pairs with point-to-geometry distance
    <= radius_m — the set-scale form of the reference's
    Dataset.within(radius, probe) against ARBITRARY geometry layers
    (mundipy/dataset.py:164-177), not just point layers.

    Shape: polygon cover cells at a resolution whose cell height covers
    the radius, expanded by the latitude-aware radius neighborhood
    (same guarantee as the point-point join: any point within R of a
    covered point shares a cell with the expanded cover); probe side is
    one JVM cell assignment; refine is the grouped Arrow distance
    kernel over candidates only, evaluated once per candidate and
    spread over defaultParallelism partitions (the module docstring
    says why: filter pushdown would run it twice, AQE coalescing on one
    core). Output carries dist_m.

    point_id: compact probe key for the multi-cell candidate dedup.
    When omitted, a 64-bit content hash over the probe columns becomes
    the dedup key, so payload columns are hashed once map-side and never
    become shuffle-comparison keys themselves."""
    if res is None:
        res = radius_res(radius_m)
    idx = tile_index(polys, geom_col=geom_col, res=res, null_interior_geom=False)
    _, cminy, _, cmaxy = cell_bounds_exprs(F.col("cell"), res)
    center_lat = (cminy + cmaxy) / 2.0
    idx = (
        idx.withColumn(
            "cell",
            F.explode(
                neighbors_radius_expr(F.col("cell"), res, radius_m, center_lat)
            ),
        )
        .withColumn("_gid", F.xxhash64(F.col(geom_col)))
        .dropDuplicates(["cell", "_gid"])
    )
    pts = add_point_cell(points, lon, lat, res)
    drop_pid = False
    if point_id is None:
        # derive a compact probe key: one xxhash64 over all probe
        # columns, computed map-side BEFORE the dedup shuffle — distinct
        # probe rows keep distinct keys while payload columns stay out
        # of the comparison path
        point_id, drop_pid = "_pid", True
        pts = pts.withColumn("_pid", F.xxhash64(*[F.col(c) for c in points.columns]))
    rhs = F.broadcast(idx) if broadcast_index else idx
    npart = points.sparkSession.sparkContext.defaultParallelism
    cand = (
        pts.join(rhs, "cell", "inner")
        .repartition(npart, point_id, "_gid")
        .dropDuplicates([point_id, "_gid"])
    )
    d = single_eval(st.st_point_geom_dist_m)(F.col(lon), F.col(lat), F.col(geom_col))
    out = (
        cand.withColumn("dist_m", d)
        .filter(F.col("dist_m") <= radius_m)
        .drop("cell", "cell_full", "minx", "miny", "maxx", "maxy", geom_col, "_gid")
    )
    return out.drop("_pid") if drop_pid else out


# ---------------------------------------------------------------------------
# kNN join (expanding-ring, reference Dataset.nearest semantics)
# ---------------------------------------------------------------------------


def _knn_join_dense(
    probes: DataFrame,
    t: DataFrame,
    k: int,
    probe_lon: str,
    probe_lat: str,
    tie_break: list[str] | None,
) -> DataFrame:
    """kNN against a SMALL target set as a map-only plan: the targets
    become a literal array column; each probe row scores all of them
    with JVM haversine, array_sorts, and keeps the first k. Zero
    shuffles, zero Python — at 10^12 probes this is the plan you want
    (nearest-city tagging is embarrassingly parallel), vs the general
    cell-ring path which pays a window shuffle per resolution level."""
    fields = t.columns
    rows = t.collect()
    tie = [c for c in (tie_break or []) if c in fields]
    rest = [c for c in fields if c not in tie]

    def lit_struct(row):
        return F.struct(*[F.lit(row[f]).alias(f) for f in fields])

    arr = F.array(*[lit_struct(r) for r in rows])

    def scored(tcol):
        dist = st.haversine_expr(
            F.col(probe_lon), F.col(probe_lat), tcol["t_lon"], tcol["t_lat"]
        )
        # field order IS the sort order: dist, then tie-break columns
        return F.struct(
            dist.alias("dist_m"),
            *[tcol[c].alias(c) for c in tie],
            *[tcol[c].alias(c) for c in rest],
        )

    top = F.slice(F.array_sort(F.transform(arr, scored)), 1, k)
    out = probes.withColumn("_nn", F.explode(top))
    return out.select(
        *probes.columns,
        *[F.col(f"_nn.{c}").alias(c) for c in fields],
        F.col("_nn.dist_m").alias("dist_m"),
    )


def knn_join(
    probes: DataFrame,
    targets: DataFrame,
    k: int = 1,
    probe_id: str = "doc_id",
    probe_lon: str = "lon",
    probe_lat: str = "lat",
    target_lon: str = "lon",
    target_lat: str = "lat",
    start_res: int = 7,
    min_res: int = 1,
    broadcast_targets: bool = True,
    tie_break: list[str] | None = None,
    dense_threshold: int = 256,
) -> DataFrame:
    """k-nearest-neighbor join by expanding cells, mirroring the
    reference's expanding-bbox nearest (mundipy/dataset.py:179-206:
    buffers 1e3..1e8 then full scan; returns none on empty layer).

    Strategy: at each resolution (start_res, start_res-2, ...) targets
    explode to their ring-1 neighborhood and equi-join the unmatched
    probes; probes that collected >= k candidates resolve by a window
    top-k on haversine; the rest escalate to the coarser level. A final
    residual broadcast cross-join catches probes in empty regions (the
    reference's full-scan fallback, dataset.py:201-206).

    Ring-boundary correctness (the subtlety the reference's coarse bbox
    shares — SURVEY §7.5.4): ring-1 candidates are only complete out to
    one cell extent in EACH axis, and the longitudinal extent in meters
    shrinks by cos(lat). A match is therefore ACCEPTED only when its
    distance <= cell_deg * 111320 * min(1, cos(|lat|+cell_deg)) — the
    per-row radius ring-1 provably covers; anything farther re-competes
    at the next (coarser) level, and the residual broadcast fallback is
    exhaustive.

    tie_break: target column names ordering equidistant matches
    deterministically (dist_m, then these, ascending).
    """
    t = targets.select(
        F.col(target_lon).alias("t_lon"), F.col(target_lat).alias("t_lat"),
        *[F.col(c).alias(f"t_{c}") for c in targets.columns if c not in (target_lon, target_lat)],
    )
    if dense_threshold > 0 and t.limit(dense_threshold + 1).count() <= dense_threshold:
        return _knn_join_dense(probes, t, k, probe_lon, probe_lat, tie_break)
    unmatched = probes
    results = None
    res = start_res
    while res >= min_res:
        exploded = t.withColumn(
            "_cell",
            F.explode(
                neighbors_expr(st.cell_expr(F.col("t_lon"), F.col("t_lat"), res), res, k=1)
            ),
        )
        rhs = F.broadcast(exploded) if broadcast_targets else exploded
        p = add_point_cell(unmatched, probe_lon, probe_lat, res, out="_cell")
        cand = p.join(rhs, on="_cell", how="left")
        dist = st.haversine_expr(
            F.col(probe_lon), F.col(probe_lat), F.col("t_lon"), F.col("t_lat")
        )
        # per-row guarantee radius: ring-1 is complete out to one cell
        # extent in each axis; the lon axis shrinks by cos(lat)
        wdeg = tiling.cell_deg(res)
        eff_lat = F.least(F.abs(F.col(probe_lat)) + F.lit(wdeg), F.lit(89.9))
        guarantee_m = (
            F.lit(wdeg * 111_320.0 * 0.999)
            * F.least(F.lit(1.0), F.cos(F.radians(eff_lat)))
        )
        cand = cand.withColumn("dist_m", dist)
        order = [F.col("dist_m").asc_nulls_last()] + [
            F.col(c).asc() for c in (tie_break or [])
        ]
        w = W.partitionBy(probe_id).orderBy(*order)
        ranked = cand.withColumn("_rn", F.row_number().over(w))
        got = ranked.filter(
            (F.col("_rn") <= k) & F.col("dist_m").isNotNull() & (F.col("dist_m") <= guarantee_m)
        )
        # a probe is settled only if its k-th candidate is inside the
        # guarantee radius
        settled_ids = (
            got.groupBy(probe_id).count().filter(F.col("count") >= k).select(probe_id)
        )
        settled = got.join(settled_ids, probe_id, "inner").drop("_rn", "_cell")
        results = settled if results is None else results.unionByName(settled)
        unmatched = unmatched.join(settled_ids, probe_id, "left_anti")
        res -= 2
    # residual full cross-join (small by construction)
    w = W.partitionBy(probe_id).orderBy(
        F.col("dist_m").asc(), *[F.col(c).asc() for c in (tie_break or [])]
    )
    residual = (
        unmatched.join(F.broadcast(t), how="cross")
        .withColumn(
            "dist_m",
            st.haversine_expr(
                F.col(probe_lon), F.col(probe_lat), F.col("t_lon"), F.col("t_lat")
            ),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
    return results.unionByName(residual) if results is not None else residual


# ---------------------------------------------------------------------------
# overlap-weighted aggregation join (catchment-style, reference J5)
# ---------------------------------------------------------------------------


def overlap_weighted_join(
    zones: DataFrame,
    regions: DataFrame,
    weight_col: str,
    zone_geom: str = "geometry",
    region_geom: str = "geometry",
    zone_id: str = "zone_id",
    res: int = DEFAULT_RES,
    planar: bool = True,
) -> DataFrame:
    """For each zone, sum region weights scaled by the overlapped
    fraction of each region: sum(w * |zone∩region| / |region|)
    (reference docs/tutorials/catchment-area.mdx:152-160).

    planar=True computes both areas in coordinate space — a RATIO needs
    numerator and denominator in one space, and mixing the pairwise
    local-PCS of the intersection with the region's own PCS would skew
    it; planar=False keeps the old meters-based behavior.

    The intersection-area kernel runs once per candidate pair, spread
    over defaultParallelism partitions (the module docstring says why:
    filter pushdown would run it twice, AQE coalescing on one core)."""
    ia_fn = single_eval(
        st.st_intersection_area_planar if planar else st.st_intersection_area
    )
    ra_fn = st.st_area_planar if planar else st.st_area
    zidx = tile_index(
        zones, geom_col=zone_geom, res=res, null_interior_geom=False
    ).withColumnRenamed(zone_geom, "_zgeom")
    # region area + compact id computed BEFORE the tile explode: once
    # per region, not once per (zone, region) candidate pair — the area
    # kernel is Python work, and pairs outnumber regions by the average
    # overlap fan-out. (The compact _rid keys the dedup shuffle; keying
    # on the full WKB payload would hash-compare megabyte keys at scale.)
    regs = regions.select(
        F.col(region_geom),
        F.col(weight_col).alias("_w"),
        ra_fn(F.col(region_geom)).alias("_ra"),
        F.xxhash64(F.col(region_geom)).alias("_rid"),
    )
    ridx = tile_index(
        regs, geom_col=region_geom, res=res, null_interior_geom=False
    ).select(
        F.col("cell"), F.col(region_geom).alias("_rgeom"), "_rid", "_w", "_ra"
    )
    npart = zones.sparkSession.sparkContext.defaultParallelism
    cand = (
        zidx.join(ridx, "cell")
        .repartition(npart, zone_id, "_rid")
        .dropDuplicates([zone_id, "_rid"])
        .withColumn("_ia", ia_fn(F.col("_zgeom"), F.col("_rgeom")))
        .filter(F.col("_ia") > 0)
    )
    return cand.groupBy(zone_id).agg(
        F.sum(F.col("_w") * F.col("_ia") / F.col("_ra")).alias("weighted_" + weight_col)
    )
