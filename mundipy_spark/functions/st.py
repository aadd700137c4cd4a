"""Spatial functions: JVM column expressions + Arrow pandas UDFs.

Design rule (the scale rule): anything on the *probe side* of a
web-scale join — cell assignment, bbox tests, point distance — must be
expressible as built-in column arithmetic so it stays inside
whole-stage codegen on a 1000-executor cluster. Pandas UDFs are reserved
for true geometry kernels (PIP refinement, buffers, overlays) and always
operate on Arrow batches, never per row (north-star requirement).

Reference parity: this module is the Spark rendering of the reference's
scalar dispatch table (mundipy/geometry.py:20-162) — measures carry the
TRANSFORM_INPUT local-PCS sandwich; constructive ops return geometry
while other columns (mundipy's "properties", geometry.py:264) ride along
in the DataFrame.
"""

from __future__ import annotations

import math
import weakref

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mundipy_spark.kernels import (
    constructive,
    measure,
    overlay,
    predicates,
    proj,
    tiling,
    wkb,
)

# ---------------------------------------------------------------------------
# JVM-side expressions (whole-stage codegen; also SQL-oracle-expressible)
# ---------------------------------------------------------------------------


def cell_expr(lon: Column, lat: Column, res: int) -> Column:
    """Tile cell id as pure column arithmetic — the probe-side tiling of
    the web-scale join never leaves the JVM. Matches
    kernels.tiling.point_cell bit-for-bit (tested)."""
    nx, ny = tiling.nx_at(res), tiling.ny_at(res)
    x = F.least(
        F.greatest(F.floor((lon + 180.0) / 360.0 * nx), F.lit(0)), F.lit(nx - 1)
    ).cast("long")
    y = F.least(
        F.greatest(F.floor((lat + 90.0) / 180.0 * ny), F.lit(0)), F.lit(ny - 1)
    ).cast("long")
    return (
        F.shiftleft(F.lit(res).cast("long"), tiling._RES_SHIFT)
        .bitwiseOR(F.shiftleft(x, tiling._X_SHIFT))
        .bitwiseOR(y)
    )


def cell_sql(lon_expr: str, lat_expr: str, res: int) -> str:
    """The same cell id as an ANSI-SQL string (DuckDB oracle parity)."""
    nx, ny = tiling.nx_at(res), tiling.ny_at(res)
    x = f"least(greatest(CAST(floor(({lon_expr} + 180.0) / 360.0 * {nx}) AS BIGINT), 0), {nx - 1})"
    y = f"least(greatest(CAST(floor(({lat_expr} + 90.0) / 180.0 * {ny}) AS BIGINT), 0), {ny - 1})"
    return f"((CAST({res} AS BIGINT) << {tiling._RES_SHIFT}) | ({x} << {tiling._X_SHIFT}) | {y})"


def haversine_expr(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle meters, fully JVM-side — kNN candidate scoring stays
    in codegen."""
    rl1, rl2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2.0
    dlon = F.radians(lon2 - lon1) / 2.0
    h = F.sin(dlat) ** 2 + F.cos(rl1) * F.cos(rl2) * F.sin(dlon) ** 2
    return 2.0 * proj.SPHERE_R * F.asin(F.sqrt(F.least(h, F.lit(1.0))))


def haversine_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    r = proj.SPHERE_R
    return (
        f"2.0 * {r} * asin(sqrt(least("
        f"pow(sin(radians(({lat2}) - ({lat1})) / 2), 2) + "
        f"cos(radians({lat1})) * cos(radians({lat2})) * "
        f"pow(sin(radians(({lon2}) - ({lon1})) / 2), 2), 1.0)))"
    )


def merc_forward_exprs(lon: Column, lat: Column) -> tuple[Column, Column]:
    """EPSG:3857 forward as pure JVM arithmetic (x = R*rad(lon),
    y = R*ln(tan(pi/4 + rad(lat)/2))). Latitude clamps to the Web
    Mercator domain (+-85.06, same as the numpy kernel) — also keeps
    Spark's log(0)->NULL and DuckDB's ln(0)->-inf from diverging at the
    poles."""
    r = proj.WGS84_A
    lat_c = F.greatest(F.least(lat, F.lit(85.06)), F.lit(-85.06))
    x = F.lit(r) * F.radians(lon)
    y = F.lit(r) * F.log(F.tan(F.lit(math.pi / 4.0) + F.radians(lat_c) / 2.0))
    return x, y


def merc_inverse_exprs(x: Column, y: Column) -> tuple[Column, Column]:
    """EPSG:3857 inverse as pure JVM arithmetic — projected POINT layers
    normalize to WGS84 with zero Python (the CRS-ingest scale path; WKB
    geometry layers go through st_to_wgs84 instead)."""
    r = proj.WGS84_A
    lon = F.degrees(x / F.lit(r))
    lat = F.degrees(F.lit(2.0) * F.atan(F.exp(y / F.lit(r))) - F.lit(math.pi / 2.0))
    return lon, lat


def merc_forward_sql(lon: str, lat: str) -> tuple[str, str]:
    r = proj.WGS84_A
    lat_c = f"greatest(least({lat}, 85.06), -85.06)"
    return (
        f"({r} * radians({lon}))",
        f"({r} * ln(tan(pi() / 4.0 + radians({lat_c}) / 2.0)))",
    )


def merc_inverse_sql(x: str, y: str) -> tuple[str, str]:
    r = proj.WGS84_A
    return (
        f"degrees(({x}) / {r})",
        f"degrees(2.0 * atan(exp(({y}) / {r})) - pi() / 2.0)",
    )


def st_to_wgs84(g: Column, crs: str, units: str = "meters") -> Column:
    """Normalize a WKB geometry column from `crs` to WGS84 (the
    reference's ingest normalization, mundipy/dataset.py:85-88). Arrow
    batch UDF over the layer — runs once at ingest; pass-through (no
    UDF in the plan) for EPSG:4326."""
    if crs.upper() == "EPSG:4326" and units == "meters":
        return g
    proj.crs_transforms(crs, units)  # validate on the driver, fail fast

    @F.pandas_udf(T.BinaryType())
    def _udf(gs: pd.Series) -> pd.Series:
        _, inv = proj.crs_transforms(crs, units)
        out = []
        for b in gs:
            if not isinstance(b, (bytes, bytearray, memoryview)):
                out.append(None)
                continue
            geom = wkb.loads(bytes(b))
            out.append(wkb.dumps(proj.transform_geom(geom, inv)))
        return pd.Series(out)

    return _udf(g)


def bbox_intersects_expr(
    minx: Column, miny: Column, maxx: Column, maxy: Column,
    qminx: Column, qminy: Column, qmaxx: Column, qmaxy: Column,
) -> Column:
    """The reference's inside_bbox range scan (mundipy/dataset.py:117-122)
    as plain Catalyst range predicates (parquet min/max prunable)."""
    return (maxx >= qminx) & (minx <= qmaxx) & (maxy >= qminy) & (miny <= qmaxy)


# ---------------------------------------------------------------------------
# decode helpers for UDF bodies
# ---------------------------------------------------------------------------


def _geoms(col: pd.Series):
    return [wkb.loads(b) if b is not None else None for b in col]


def _xy(col: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Fast path when the whole batch is plain points; generic otherwise."""
    vals = list(col)
    try:
        return wkb.decode_points(vals)
    except (ValueError, TypeError):
        xs = np.empty(len(vals))
        ys = np.empty(len(vals))
        for i, b in enumerate(vals):
            g = wkb.loads(b)
            if g is None or g[0] != "Point":
                c = constructive.centroid_planar(g) if g else (np.nan, np.nan)
                xs[i], ys[i] = c[0], c[1]
            else:
                xs[i], ys[i] = g[1][0], g[1][1]
        return xs, ys


# ---------------------------------------------------------------------------
# pandas UDFs (Arrow-batched geometry kernels)
# ---------------------------------------------------------------------------


@F.pandas_udf(T.BinaryType())
def st_point(lon: pd.Series, lat: pd.Series) -> pd.Series:
    return pd.Series(wkb.encode_points(lon.to_numpy(np.float64), lat.to_numpy(np.float64)))


@F.pandas_udf(T.DoubleType())
def st_x(g: pd.Series) -> pd.Series:
    return pd.Series(_xy(g)[0])


@F.pandas_udf(T.DoubleType())
def st_y(g: pd.Series) -> pd.Series:
    return pd.Series(_xy(g)[1])


@F.pandas_udf(T.BinaryType())
def st_geomfromtext(s: pd.Series) -> pd.Series:
    return s.map(lambda v: wkb.dumps(wkb.from_wkt(v)) if v is not None else None)


@F.pandas_udf(T.StringType())
def st_astext(g: pd.Series) -> pd.Series:
    return g.map(lambda b: wkb.to_wkt(wkb.loads(b)) if b is not None else None)


@F.pandas_udf(T.BinaryType())
def st_geomfromgeojson(s: pd.Series) -> pd.Series:
    return s.map(lambda v: wkb.dumps(wkb.from_geojson(v)) if v is not None else None)


@F.pandas_udf(T.StringType())
def st_asgeojson(g: pd.Series) -> pd.Series:
    import json

    return g.map(lambda b: json.dumps(wkb.to_geojson(wkb.loads(b))) if b is not None else None)


@F.pandas_udf(T.StringType())
def st_geometrytype(g: pd.Series) -> pd.Series:
    return g.map(lambda b: wkb.loads(b)[0] if b is not None else None)


_BOUNDS_SCHEMA = T.StructType(
    [
        T.StructField("minx", T.DoubleType()),
        T.StructField("miny", T.DoubleType()),
        T.StructField("maxx", T.DoubleType()),
        T.StructField("maxy", T.DoubleType()),
    ]
)


@F.pandas_udf(_BOUNDS_SCHEMA)
def st_bounds(g: pd.Series) -> pd.DataFrame:
    rows = [
        wkb.bounds(wkb.loads(b)) if b is not None else (None, None, None, None) for b in g
    ]
    return pd.DataFrame(rows, columns=["minx", "miny", "maxx", "maxy"])


@F.pandas_udf(T.DoubleType())
def st_area(g: pd.Series) -> pd.Series:
    """Area in m² (TRANSFORM_INPUT semantics, reference geometry.py:77)."""
    return g.map(lambda b: measure.geom_area_m2(wkb.loads(b)) if b is not None else None)


@F.pandas_udf(T.DoubleType())
def st_area_planar(g: pd.Series) -> pd.Series:
    """Planar (coordinate-unit²) area — the no-transform twin of st_area
    for oracle parity and tile-space math."""
    return g.map(
        lambda b: measure.geom_area_planar(wkb.loads(bytes(b)))
        if isinstance(b, (bytes, bytearray, memoryview))
        else None
    )


@F.pandas_udf(T.DoubleType())
def st_length(g: pd.Series) -> pd.Series:
    return g.map(lambda b: measure.geom_length_m(wkb.loads(b)) if b is not None else None)


@F.pandas_udf(T.DoubleType())
def st_distance(a: pd.Series, b: pd.Series) -> pd.Series:
    out = []
    for ba, bb in zip(a, b):
        if ba is None or bb is None:
            out.append(None)
            continue
        out.append(measure.geom_distance_m(wkb.loads(ba), wkb.loads(bb)))
    return pd.Series(out, dtype="float64")


@F.pandas_udf(T.DoubleType())
def st_hausdorff_distance(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [
            measure.hausdorff_distance_m(wkb.loads(x), wkb.loads(y))
            if x is not None and y is not None
            else None
            for x, y in zip(a, b)
        ],
        dtype="float64",
    )


@F.pandas_udf(T.BinaryType())
def st_centroid(g: pd.Series) -> pd.Series:
    return g.map(
        lambda b: wkb.dumps(constructive.centroid(wkb.loads(b))) if b is not None else None
    )


@F.pandas_udf(T.BinaryType())
def st_envelope(g: pd.Series) -> pd.Series:
    return g.map(
        lambda b: wkb.dumps(constructive.envelope(wkb.loads(b))) if b is not None else None
    )


@F.pandas_udf(T.BinaryType())
def st_convexhull(g: pd.Series) -> pd.Series:
    return g.map(
        lambda b: wkb.dumps(constructive.convex_hull(wkb.loads(b))) if b is not None else None
    )


def _num(v):
    """Numeric UDF argument -> float, or None for SQL null (which Arrow
    delivers as None or NaN depending on the column dtype). SQL
    semantics: null argument in, null result out — without this a null
    distance silently became False/NaN-coordinate garbage."""
    if v is None:
        return None
    f = float(v)
    return None if f != f else f


@F.pandas_udf(T.BinaryType())
def st_buffer(g: pd.Series, dist_m: pd.Series) -> pd.Series:
    out = []
    for b, d in zip(g, dist_m):
        d = _num(d)
        if b is None or d is None:
            out.append(None)
            continue
        out.append(wkb.dumps(constructive.buffer_m(wkb.loads(b), d)))
    return pd.Series(out)


@F.pandas_udf(T.BinaryType())
def st_simplify(g: pd.Series, tol: pd.Series) -> pd.Series:
    out = []
    for b, t in zip(g, tol):
        t = _num(t)
        if b is None or t is None:
            out.append(None)
            continue
        out.append(wkb.dumps(constructive.simplify(wkb.loads(b), t)))
    return pd.Series(out)


@F.pandas_udf(T.BinaryType())
def st_makevalid(g: pd.Series) -> pd.Series:
    return g.map(
        lambda b: wkb.dumps(constructive.make_valid(wkb.loads(b))) if b is not None else None
    )


@F.pandas_udf(T.BooleanType())
def st_isvalid(g: pd.Series) -> pd.Series:
    return g.map(lambda b: constructive.is_valid(wkb.loads(b)) if b is not None else None)


def _pairwise_predicate(name: str):
    fn = predicates.PREDICATES[name]

    @F.pandas_udf(T.BooleanType())
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        ga_cache: dict[bytes, object] = {}
        for ba, bb in zip(a, b):
            if ba is None or bb is None:
                out.append(None)
                continue
            ka = bytes(ba)
            ga = ga_cache.get(ka)
            if ga is None:  # polygon side repeats a lot in joins
                ga = wkb.loads(ka)
                if len(ga_cache) >= 4096:
                    ga_cache.clear()
                ga_cache[ka] = ga
            out.append(fn(ga, wkb.loads(bb)))
        return pd.Series(out, dtype="boolean")

    _udf.__name__ = f"st_{name}"
    return _udf


st_intersects = _pairwise_predicate("intersects")
st_contains = _pairwise_predicate("contains")
st_within = _pairwise_predicate("within")
st_covers = _pairwise_predicate("covers")
st_covered_by = _pairwise_predicate("covered_by")
st_touches = _pairwise_predicate("touches")
st_crosses = _pairwise_predicate("crosses")
st_overlaps = _pairwise_predicate("overlaps")
st_disjoint = _pairwise_predicate("disjoint")


@F.pandas_udf(T.StringType())
def st_relate(a: pd.Series, b: pd.Series) -> pd.Series:
    """DE-9IM matrix string per pair (reference geometry.py:141)."""
    out = []
    for ba, bb in zip(a, b):
        if ba is None or bb is None:
            out.append(None)
            continue
        out.append(predicates.relate(wkb.loads(bytes(ba)), wkb.loads(bytes(bb))))
    return pd.Series(out, dtype="string")


@F.pandas_udf(T.BooleanType())
def st_dwithin(a: pd.Series, b: pd.Series, dist_m: pd.Series) -> pd.Series:
    """distance(a,b) <= d without materializing the buffer (the reference
    computes within() as intersects(buffer(r)), mundipy/dataset.py:164-177
    — equivalent semantics, cheaper plan)."""
    out = []
    for ba, bb, d in zip(a, b, dist_m):
        d = _num(d)
        if ba is None or bb is None or d is None:
            out.append(None)
            continue
        out.append(measure.geom_distance_m(wkb.loads(ba), wkb.loads(bb)) <= d)
    return pd.Series(out, dtype="boolean")


@F.pandas_udf(T.ArrayType(T.LongType()))
def st_cells(g: pd.Series, res: pd.Series) -> pd.Series:
    """Covering cells of a geometry — the polygon-side exploder of the
    tile join (flatMap-style via F.explode downstream)."""
    out = []
    for b, r in zip(g, res):
        r = _num(r)
        if b is None or r is None:
            out.append(None)
            continue
        out.append(tiling.cover_geometry(wkb.loads(b), int(r)).tolist())
    return pd.Series(out)


_CELLS_CLASSIFIED_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("cell", T.LongType()),
            T.StructField("full", T.BooleanType()),
        ]
    )
)


@F.pandas_udf(_CELLS_CLASSIFIED_SCHEMA)
def st_cells_classified(g: pd.Series, res: pd.Series) -> pd.Series:
    """Covering cells with the interior flag: full=true cells lie wholly
    inside the geometry, so a point in one is a PROVEN match — the tile
    join skips exact refinement for them (S2-style interior covering)."""
    out = []
    for b, r in zip(g, res):
        r = _num(r)
        if b is None or r is None:
            out.append(None)
            continue
        cells, full = tiling.cover_geometry_classified(wkb.loads(b), int(r))
        out.append(list(zip(cells.tolist(), full.tolist())))
    return pd.Series(out)


_CELL_REFINE_TYPE = T.StructType(
    [
        T.StructField("nring", T.IntegerType()),
        T.StructField("bpar", T.BooleanType()),
        T.StructField("segs", T.ArrayType(T.DoubleType())),
    ]
)


@F.pandas_udf(_CELL_REFINE_TYPE)
def st_cell_refine(g: pd.Series, cell: pd.Series) -> pd.DataFrame:
    """Index-BUILD-side kernel of the JVM refine path: per (geometry,
    boundary cell) row, the local segment subset + base parity that lets
    the probe side answer exact PIP with a pure Catalyst expression
    (`pip_refine_expr`) — no Python on the 10^12-row probe stream, and
    the broadcast ships a handful of doubles per boundary cell instead
    of whole-polygon WKB. Distinct geometries decode once per batch.

    Invalid overlapping-interior multipolygons (where the refine path's
    XOR parity diverges from OR-across-polygons — see
    `tiling.multiparts_interiors_overlap`) emit an nring=-1 sentinel
    instead of refine data; the index probe in `operators.joins` reads
    it and falls back to the Arrow path, so the fast path can never
    silently return wrong containment for such layers."""
    out_n = np.zeros(len(g), dtype=np.int64)
    out_b = np.zeros(len(g), dtype=bool)
    out_s: list = [None] * len(g)
    groups: dict[bytes, list[int]] = {}
    for i, b in enumerate(g):
        if isinstance(b, (bytes, bytearray, memoryview)):
            groups.setdefault(bytes(b), []).append(i)
    cells = cell.to_numpy(np.int64)
    for key, idx in groups.items():
        geom = wkb.loads(key)
        if tiling.multiparts_interiors_overlap(geom):
            for i in idx:
                out_n[i] = -1
                out_s[i] = []
            continue
        refs = tiling.cell_refine_segments(geom, cells[np.asarray(idx)])
        for i, (nring, bpar, flat) in zip(idx, refs):
            out_n[i] = nring
            out_b[i] = bpar
            out_s[i] = flat
    return pd.DataFrame(
        {"nring": out_n, "bpar": out_b, "segs": out_s}
    )


def _seg_dist2_sql(lon: str, lat: str, xi: str, yi: str, xj: str, yj: str) -> str:
    """Squared distance from (lon, lat) to segment (xi, yi)-(xj, yj) as
    SQL text, for the 1e-9 on-edge test of both JVM refine expressions.
    It is point_segs_min_dist's clipped projection in closed form: the
    nearer endpoint when the projection falls outside the segment,
    otherwise cross^2 / |seg|^2. The cross product keeps a point ON an
    edge at d2 ~ 1e-30; the expanded |u|^2 - t*(2*dot - t*|seg|^2)
    would cancel to ~1e-16 * |u|^2, above the 1e-18 tolerance for
    midpoints of slanted edges a few tenths of a degree long. Operands
    repeat at every reference, and the generated join-condition method
    must stay small enough to JIT: this form has no clipped-t subtree
    to repeat."""
    dx, dy = f"({xj} - {xi})", f"({yj} - {yi})"
    ux, uy = f"({lon} - {xi})", f"({lat} - {yi})"
    dot = f"(({ux} * {dx}) + ({uy} * {dy}))"
    ln2 = f"(({dx} * {dx}) + ({dy} * {dy}))"
    cr = f"(({ux} * {dy}) - ({uy} * {dx}))"
    vx, vy = f"({lon} - {xj})", f"({lat} - {yj})"
    return (
        f"CASE WHEN ({dot} <= 0.0D) THEN (({ux} * {ux}) + ({uy} * {uy})) "
        f"WHEN ({dot} >= {ln2}) THEN (({vx} * {vx}) + ({vy} * {vy})) "
        f"ELSE (({cr} * {cr}) / {ln2}) END"
    )


def _cross_sql(
    live: str, lon: str, lat: str, xi: str, yi: str, xj: str, yj: str
) -> str:
    """Does the rightward ray from (lon, lat) cross the segment, for a
    segment the `live` guard admits? Same formula as
    predicates.crossings_in_ring: yi==yj edges die on the
    (yi>lat)!=(yj>lat) term, so the division never matters where it is
    undefined; past-the-end lookups are null and the conjunction
    collapses to false."""
    xint = f"(((({xj} - {xi}) * ({lat} - {yi})) / ({yj} - {yi})) + {xi})"
    return f"(({live} AND (({yi} > {lat}) != ({yj} > {lat}))) AND ({lon} < {xint}))"


def pip_refine_sql(
    lon: str, lat: str, segs: str, nring: str, bpar: str, maxk: int
) -> str:
    """Exact point-in-geometry refinement over the per-cell segment
    subset from `st_cell_refine`, as SQL text over column references —
    the JVM twin of the `st_point_in_geom` Arrow kernel (identical
    crossing arithmetic in the same operand order, so the doubles round
    identically; the same clipped-projection distance, see
    `_seg_dist2_sql`). The caller parses it with ONE `F.expr` (the tile
    join parses its whole condition at once): building the same tree
    through the Column API took one py4j round trip per operator,
    thousands per join.

    The per-segment loop is UNROLLED to the layer's max segments-per-
    boundary-cell (`maxk`, a tiny driver-side agg over the index):
    higher-order functions like `aggregate` are CodegenFallback, and one
    on the probe path knocks the whole probe stage out of whole-stage
    codegen (measured 43s vs 7s at 30M pages). Unrolled terms are flat
    double arithmetic over `get` lookups (null-safe past the array end
    -> the term collapses to false), so the entire refinement compiles
    into the join's codegen stage; interior-cell candidates short-
    circuit on cell_full first. Admin layers keep 1-4 segments per
    boundary cell (rect grid max 3); a coastline-detail layer with
    hundreds per cell should use refine="arrow" instead, whose
    per-batch numpy vectorization wins at that density."""
    par = "false"
    edge = "false"
    for i in range(maxk):
        xi, yi = f"get({segs}, {i * 4})", f"get({segs}, {i * 4 + 1})"
        xj, yj = f"get({segs}, {i * 4 + 2})", f"get({segs}, {i * 4 + 3})"
        cross = _cross_sql(f"({i} < {nring})", lon, lat, xi, yi, xj, yj)
        d2 = _seg_dist2_sql(lon, lat, xi, yi, xj, yj)
        par = f"({par} != coalesce({cross}, false))"
        edge = f"({edge} OR coalesce(({d2} <= 1.0E-18D), false))"
    # the edge chain only matters when parity says OUTSIDE (it can only
    # flip outside->inside), so it lives in the CASE's ELSE branch:
    # codegen's subexpression elimination evaluates hoisted common
    # subtrees EAGERLY per row, and the unconditional `par OR edge` form
    # paid the whole distance chain on every candidate (14.2s vs 6.6s at
    # 30M pages); conditional-only expressions are never hoisted
    return (
        f"CASE WHEN ({segs} IS NOT NULL) THEN "
        f"CASE WHEN (coalesce({bpar}, false) != {par}) THEN true ELSE {edge} END END"
    )


def pip_refine_agg_sql(lon: str, lat: str, segs: str, nring: str, bpar: str) -> str:
    """Arbitrary-k fallback of pip_refine_sql: the same crossing-parity
    + on-edge test as an `aggregate` higher-order function, SQL text
    parsed once by the caller. Correct for ANY segments-per-cell count,
    but HOFs are CodegenFallback — use only when a prebuilt
    refine="jvm" index turns out denser than joins.UNROLL_CAP; dense
    layers are better served by refine="arrow" (per-batch numpy).
    Measured on a 4-core host with prebuilt indexes, 50k points against
    200 jagged 256-vertex polygons at res 8 (178 segments in the
    densest cell), median of 5 probes: 8.9 s here vs 1.3 s on the Arrow
    index, ~7x slower. Its lambda variables are `_acc` and `_s`, so
    column operands must not be qualified by those names."""
    k = f"CAST((size({segs}) / 4) AS INT)"

    def sg(j: int) -> str:
        return f"element_at({segs}, CAST((((_s - 1) * 4) + {j + 1}) AS INT))"

    xi, yi, xj, yj = sg(0), sg(1), sg(2), sg(3)
    cross = _cross_sql(f"(_s <= {nring})", lon, lat, xi, yi, xj, yj)
    d2 = _seg_dist2_sql(lon, lat, xi, yi, xj, yj)
    merge = (
        f"(_acc, _s) -> struct((_acc.p != coalesce({cross}, false)) AS p, "
        f"(_acc.e OR coalesce(({d2} <= 1.0E-18D), false)) AS e)"
    )
    agg = f"aggregate(sequence(1, {k}), struct(false AS p, false AS e), {merge})"
    base = f"coalesce({bpar}, false)"
    return (
        f"CASE WHEN (({segs} IS NOT NULL) AND ({k} > 0)) "
        f"THEN ({agg}.e OR ({base} != {agg}.p)) "
        f"ELSE CASE WHEN ({segs} IS NOT NULL) THEN {base} END END"
    )


@F.pandas_udf(T.LongType())
def st_cell_of_geom(g: pd.Series, res: pd.Series) -> pd.Series:
    """Cell of a geometry's representative point (points: the point).
    res is vectorized per unique value, so a per-row resolution column
    (multi-res layers) computes correctly, while the common literal-res
    case stays one kernel call for the whole batch."""
    xs, ys = _xy(g)
    rv = pd.to_numeric(res, errors="coerce").to_numpy(dtype="float64")
    uniq = np.unique(rv[~np.isnan(rv)])
    out = np.zeros(len(res), dtype=np.int64)
    for r in uniq:
        m = rv == r
        out[m] = tiling.point_cell(xs[m], ys[m], int(r))
    return pd.Series(out)


_POINT_INTERSECTS_CACHE_LIMIT = 4096
# decoded-polygon memo shared across Arrow batches (polygon layers are
# broadcast, so the same few thousand WKB blobs recur in every batch)
_PIP_DECODE_CACHE: dict[bytes, tuple] = {}


def _pip_entry(blob: bytes) -> tuple:
    """(segs, has_area, flat_ok, geom) of one polygon WKB.

    flat_ok: the flat path XORs crossings across ALL rings of the
    geometry, which equals points_in_geom's OR-across-polygons only when
    member interiors are disjoint (any valid (Multi)Polygon). An invalid
    overlapping-interior multi routes to the generic per-polygon slow
    path instead (exact check, decode-time only, memoized with the
    decode)."""
    geom = wkb.loads(blob)
    has_area = predicates.has_area(geom)
    flat_ok = has_area and not tiling.multiparts_interiors_overlap(geom)
    return predicates.geom_segments(geom), has_area, flat_ok, geom


def _decode_for_pip(key: bytes):
    ent = _PIP_DECODE_CACHE.get(key)
    if ent is None:
        ent = _pip_entry(key)
        if len(_PIP_DECODE_CACHE) >= _POINT_INTERSECTS_CACHE_LIMIT:
            _PIP_DECODE_CACHE.clear()
        _PIP_DECODE_CACHE[key] = ent
    return ent


def _pip_groups(xs: np.ndarray, ys: np.ndarray, groups) -> np.ndarray:
    """Core PIP over rows grouped by polygon: groups yields (decoded
    entry, row indices). All (point, edge) pairs of the flat-safe groups
    evaluate in one vectorized pass; the rest take the per-polygon slow
    path. Returns a bool array aligned with xs."""
    hit_all = np.zeros(len(xs), dtype=bool)
    flat_groups = []
    for (segs, _, flat_ok, geom), ii in groups:
        if flat_ok and len(segs):
            flat_groups.append((ii, segs))
        else:  # degenerate/non-area or overlapping-interior: slow path
            hit_all[ii] = predicates.points_in_geom(xs[ii], ys[ii], geom)
    if flat_groups:
        hit_all |= predicates.points_in_polys_flat(xs, ys, flat_groups)
    return hit_all


def _pip_flat(xs: np.ndarray, ys: np.ndarray, geoms) -> tuple[np.ndarray, np.ndarray]:
    """PIP over parallel (x, y, wkb) triples: rows group by their WKB,
    distinct polygons decode once (cross-batch memo). Returns (hit,
    missing) bool arrays."""
    missing = np.zeros(len(xs), dtype=bool)
    groups: dict[bytes, list[int]] = {}
    for i, b in enumerate(geoms):
        # nulls can surface as None OR float NaN depending on the Arrow path
        if isinstance(b, (bytes, bytearray, memoryview)):
            groups.setdefault(bytes(b), []).append(i)
        else:
            missing[i] = True
    hit_all = _pip_groups(
        xs,
        ys,
        ((_decode_for_pip(k), np.asarray(ii, dtype=np.int64)) for k, ii in groups.items()),
    )
    return hit_all, missing


@F.pandas_udf(T.BooleanType())
def st_point_in_geom(lon: pd.Series, lat: pd.Series, g: pd.Series) -> pd.Series:
    """Batch PIP of each point against its row's WKB (see _pip_flat —
    per-batch cost has no per-polygon term)."""
    xs = lon.to_numpy(np.float64)
    ys = lat.to_numpy(np.float64)
    hit_all, missing = _pip_flat(xs, ys, g)
    return pd.Series(pd.arrays.BooleanArray(hit_all, missing))


@F.pandas_udf(T.DoubleType())
def st_point_geom_dist_m(lon: pd.Series, lat: pd.Series, g: pd.Series) -> pd.Series:
    """Meters from each point to its row's geometry (0 inside) — the
    refine kernel of the point-vs-polygon within-distance join. Distinct
    geometries decode once per batch (same memo as PIP); inside tests
    batch per geometry; only outside points pay the per-pair projected
    distance."""
    xs = lon.to_numpy(np.float64)
    ys = lat.to_numpy(np.float64)
    out = np.full(len(xs), np.nan)
    groups: dict[bytes, list[int]] = {}
    for i, b in enumerate(g):
        if isinstance(b, (bytes, bytearray, memoryview)):
            groups.setdefault(bytes(b), []).append(i)
    for key, idx in groups.items():
        _, has_area, _, geom = _decode_for_pip(key)
        ii = np.asarray(idx, dtype=np.int64)
        inside = (
            predicates.points_in_geom(xs[ii], ys[ii], geom)
            if has_area
            else np.zeros(len(ii), dtype=bool)
        )
        out[ii[inside]] = 0.0
        for j in ii[~inside]:
            out[j] = measure.geom_distance_m(
                ("Point", np.array([xs[j], ys[j]])), geom
            )
    return pd.Series(out)


# ---------------------------------------------------------------------------
# id-keyed PIP refine of the Arrow tile join: each polygon crosses the
# Python boundary once per join (in a broadcast table), each candidate
# row only as (lon, lat, 64-bit id)
# ---------------------------------------------------------------------------


def polygon_table(rows) -> dict[int, bytes]:
    """{id: WKB} from (id, WKB) pairs, the broadcast side of the id-keyed
    refine kernels. Rows with the same WKB share an id; null WKB rows are
    skipped. Two distinct blobs with one id (an xxhash64 collision)
    raise ValueError: the kernels could not tell them apart."""
    table: dict[int, bytes] = {}
    for gid, blob in rows:
        if blob is None:
            continue
        blob = bytes(blob)
        if table.setdefault(int(gid), blob) != blob:
            raise ValueError(
                f"polygon table: two distinct geometries share the id {gid} "
                "(xxhash64 collision)"
            )
    return table


# decoded polygons of each broadcast polygon table, per worker. Keyed on
# the Broadcast object, which a Python worker keeps (and reuses across
# tasks) until no task of its join needs it; the memo goes with it.
_PIP_TABLE_MEMO: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _pip_by_id(xs: np.ndarray, ys: np.ndarray, ids: np.ndarray, table) -> np.ndarray:
    """PIP of each point against the polygon its int64 id names in the
    broadcast polygon table. Rows group by id; each polygon decodes once
    per worker and table. An id missing from the table raises KeyError."""
    if ids.dtype != np.int64:
        raise TypeError(f"polygon ids must arrive as int64, got {ids.dtype}")
    decoded = _PIP_TABLE_MEMO.get(table)
    if decoded is None:
        decoded = _PIP_TABLE_MEMO[table] = {}
    uniq, inv = np.unique(ids, return_inverse=True)
    order = np.argsort(inv, kind="stable")
    bounds = np.concatenate(([0], np.cumsum(np.bincount(inv, minlength=len(uniq)))))
    groups = []
    for k, gid in enumerate(uniq.tolist()):
        ent = decoded.get(gid)
        if ent is None:
            blob = table.value.get(gid)
            if blob is None:
                raise KeyError(f"polygon id {gid} is not in the join's polygon table")
            ent = decoded[gid] = _pip_entry(blob)
        groups.append((ent, order[bounds[k] : bounds[k + 1]]))
    return _pip_groups(xs, ys, groups)


def point_in_geom_by_id(table):
    """Inner tile-join refine kernel over the broadcast polygon table
    `table` (a SparkContext.broadcast of polygon_table): (lon, lat, id,
    near) -> bool. Only rows with `near` set are tested; the rest are
    False. id and near must be non-null columns (a nullable bigint
    reaches pandas as float64 and would lose the id's low bits)."""

    def st_point_in_geom_by_id(
        lon: pd.Series, lat: pd.Series, gid: pd.Series, near: pd.Series
    ) -> pd.Series:
        m = near.to_numpy(bool)
        hit = np.zeros(len(m), dtype=bool)
        ii = np.flatnonzero(m)
        if len(ii):
            hit[ii] = _pip_by_id(
                lon.to_numpy(np.float64)[ii],
                lat.to_numpy(np.float64)[ii],
                gid.to_numpy()[ii],
                table,
            )
        return pd.Series(hit)

    return F.pandas_udf(st_point_in_geom_by_id, T.BooleanType())


def points_in_geoms_by_id(table):
    """Left tile-join refine kernel over the broadcast polygon table
    `table`: (lon, lat, array<id>) -> parallel array<boolean>. The arrays
    flatten to (point, id) pairs for one _pip_by_id pass, so Python cost
    scales with boundary candidates, not probe rows."""

    def st_points_in_geoms_by_id(
        lon: pd.Series, lat: pd.Series, gids: pd.Series
    ) -> pd.Series:
        arrs = gids.to_list()
        lens = np.fromiter(map(len, arrs), dtype=np.int64, count=len(arrs))
        hit = np.zeros(0, dtype=bool)
        if lens.sum():
            hit = _pip_by_id(
                np.repeat(lon.to_numpy(np.float64), lens),
                np.repeat(lat.to_numpy(np.float64), lens),
                np.concatenate(arrs),
                table,
            )
        return pd.Series([p.tolist() for p in np.split(hit, np.cumsum(lens))[:-1]])

    return F.pandas_udf(st_points_in_geoms_by_id, T.ArrayType(T.BooleanType()))


def _unary_geom(kernel, name: str):
    @F.pandas_udf(T.BinaryType())
    def _udf(g: pd.Series) -> pd.Series:
        out = []
        for b in g:
            if not isinstance(b, (bytes, bytearray, memoryview)):
                out.append(None)
                continue
            r = kernel(wkb.loads(bytes(b)))
            out.append(wkb.dumps(r) if r is not None else None)
        return pd.Series(out)

    _udf.__name__ = name
    return _udf


def _binary_geom(kernel, name: str):
    @F.pandas_udf(T.BinaryType())
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for ba, bb in zip(a, b):
            if not isinstance(ba, (bytes, bytearray, memoryview)) or not isinstance(
                bb, (bytes, bytearray, memoryview)
            ):
                out.append(None)
                continue
            r = kernel(wkb.loads(bytes(ba)), wkb.loads(bytes(bb)))
            out.append(wkb.dumps(r) if r is not None else None)
        return pd.Series(out)

    _udf.__name__ = name
    return _udf


# overlay ops returning geometry (reference geometry.py:103,123,150,154;
# Greiner–Hormann clipping, kernels/overlay.py)
st_intersection = _binary_geom(overlay.intersection, "st_intersection")
st_union = _binary_geom(overlay.union, "st_union")
st_difference = _binary_geom(overlay.difference, "st_difference")
st_symmetric_difference = _binary_geom(
    overlay.symmetric_difference, "st_symmetric_difference"
)

# remaining constructive/accessor surface of the dispatch table
st_boundary = _unary_geom(constructive.boundary, "st_boundary")
st_representative_point = _unary_geom(
    constructive.representative_point, "st_representative_point"
)
st_normalize = _unary_geom(constructive.normalize, "st_normalize")
st_minimum_rotated_rectangle = _unary_geom(
    constructive.minimum_rotated_rectangle, "st_minimum_rotated_rectangle"
)


@F.pandas_udf(T.BinaryType())
def st_interpolate(g: pd.Series, dist: pd.Series) -> pd.Series:
    out = []
    for b, d in zip(g, dist):
        d = _num(d)
        if not isinstance(b, (bytes, bytearray, memoryview)) or d is None:
            out.append(None)
            continue
        out.append(wkb.dumps(constructive.interpolate(wkb.loads(bytes(b)), d)))
    return pd.Series(out)


@F.pandas_udf(T.DoubleType())
def st_line_locate_point(g: pd.Series, px: pd.Series, py: pd.Series) -> pd.Series:
    """shapely `project` (reference geometry.py:139): distance along the
    line of the closest point."""
    out = []
    for b, x, y in zip(g, px, py):
        x, y = _num(x), _num(y)
        if not isinstance(b, (bytes, bytearray, memoryview)) or x is None or y is None:
            out.append(None)
            continue
        out.append(constructive.line_project(wkb.loads(bytes(b)), (x, y)))
    return pd.Series(out, dtype="float64")


@F.pandas_udf(T.DoubleType())
def st_minimum_clearance(g: pd.Series) -> pd.Series:
    return g.map(
        lambda b: constructive.minimum_clearance(wkb.loads(bytes(b)))
        if isinstance(b, (bytes, bytearray, memoryview))
        else None
    )


def _unary_bool(kernel, name: str):
    @F.pandas_udf(T.BooleanType())
    def _udf(g: pd.Series) -> pd.Series:
        return g.map(
            lambda b: bool(kernel(wkb.loads(bytes(b))))
            if isinstance(b, (bytes, bytearray, memoryview))
            else None
        )

    _udf.__name__ = name
    return _udf


st_isempty = _unary_bool(predicates.is_empty, "st_isempty")
st_isclosed = _unary_bool(predicates.is_closed, "st_isclosed")
st_issimple = _unary_bool(predicates.is_simple, "st_issimple")
st_isring = _unary_bool(predicates.is_ring, "st_isring")


@F.pandas_udf(T.BooleanType())
def st_equals(a: pd.Series, b: pd.Series) -> pd.Series:
    out = []
    for ba, bb in zip(a, b):
        if not isinstance(ba, (bytes, bytearray, memoryview)) or not isinstance(
            bb, (bytes, bytearray, memoryview)
        ):
            out.append(None)
            continue
        out.append(predicates.equals(wkb.loads(bytes(ba)), wkb.loads(bytes(bb))))
    return pd.Series(out, dtype="boolean")


@F.pandas_udf(T.BooleanType())
def st_equals_exact(a: pd.Series, b: pd.Series, tol: pd.Series) -> pd.Series:
    out = []
    for ba, bb, t in zip(a, b, tol):
        t = _num(t)
        if (
            not isinstance(ba, (bytes, bytearray, memoryview))
            or not isinstance(bb, (bytes, bytearray, memoryview))
            or t is None
        ):
            out.append(None)
            continue
        out.append(
            predicates.equals_exact(wkb.loads(bytes(ba)), wkb.loads(bytes(bb)), t)
        )
    return pd.Series(out, dtype="boolean")


@F.pandas_udf(T.DoubleType())
def st_intersection_area_planar(a: pd.Series, b: pd.Series) -> pd.Series:
    """|A∩B| in coordinate units² (no projection) — overlap RATIOS are
    what the weighted join needs, and a ratio must put numerator and
    denominator in the same space."""
    out = []
    for ba, bb in zip(a, b):
        if not isinstance(ba, (bytes, bytearray, memoryview)) or not isinstance(
            bb, (bytes, bytearray, memoryview)
        ):
            out.append(None)
            continue
        out.append(
            overlay.intersection_area_planar(wkb.loads(bytes(ba)), wkb.loads(bytes(bb)))
        )
    return pd.Series(out, dtype="float64")


@F.pandas_udf(T.DoubleType())
def st_intersection_area(a: pd.Series, b: pd.Series) -> pd.Series:
    """Exact |A∩B| in m² for arbitrary polygon pairs (signed-triangle
    decomposition) — the kernel of the overlap-weighted join (reference
    docs/tutorials/catchment-area.mdx:152-160)."""
    out = []
    for ba, bb in zip(a, b):
        if ba is None or bb is None:
            out.append(None)
            continue
        ga, gb = wkb.loads(ba), wkb.loads(bb)
        (pa, pb), _, _, _ = measure._projected(ga, gb)
        out.append(overlay.intersection_area_planar(pa, pb))
    return pd.Series(out, dtype="float64")


# ---------------------------------------------------------------------------
# SQL registration
# ---------------------------------------------------------------------------

_SQL_FUNCTIONS = {
    "st_point": st_point,
    "st_x": st_x,
    "st_y": st_y,
    "st_geomfromtext": st_geomfromtext,
    "st_astext": st_astext,
    "st_geomfromgeojson": st_geomfromgeojson,
    "st_asgeojson": st_asgeojson,
    "st_geometrytype": st_geometrytype,
    "st_area": st_area,
    "st_area_planar": st_area_planar,
    "st_length": st_length,
    "st_distance": st_distance,
    "st_hausdorff_distance": st_hausdorff_distance,
    "st_centroid": st_centroid,
    "st_envelope": st_envelope,
    "st_convexhull": st_convexhull,
    "st_buffer": st_buffer,
    "st_simplify": st_simplify,
    "st_makevalid": st_makevalid,
    "st_isvalid": st_isvalid,
    "st_intersects": st_intersects,
    "st_contains": st_contains,
    "st_within": st_within,
    "st_covers": st_covers,
    "st_covered_by": st_covered_by,
    "st_touches": st_touches,
    "st_crosses": st_crosses,
    "st_overlaps": st_overlaps,
    "st_disjoint": st_disjoint,
    "st_relate": st_relate,
    "st_dwithin": st_dwithin,
    "st_cells": st_cells,
    "st_cells_classified": st_cells_classified,
    "st_intersection": st_intersection,
    "st_union": st_union,
    "st_difference": st_difference,
    "st_symmetric_difference": st_symmetric_difference,
    "st_boundary": st_boundary,
    "st_representative_point": st_representative_point,
    "st_normalize": st_normalize,
    "st_minimum_rotated_rectangle": st_minimum_rotated_rectangle,
    "st_interpolate": st_interpolate,
    "st_line_locate_point": st_line_locate_point,
    "st_minimum_clearance": st_minimum_clearance,
    "st_isempty": st_isempty,
    "st_isclosed": st_isclosed,
    "st_issimple": st_issimple,
    "st_isring": st_isring,
    "st_equals": st_equals,
    "st_equals_exact": st_equals_exact,
    "st_point_in_geom": st_point_in_geom,
    "st_intersection_area": st_intersection_area,
    "st_intersection_area_planar": st_intersection_area_planar,
}


def register_sql(spark) -> None:
    """Expose every st_* function to spark.sql()."""
    for name, udf in _SQL_FUNCTIONS.items():
        spark.udf.register(name, udf)
