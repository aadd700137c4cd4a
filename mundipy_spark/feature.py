"""Feature: a geometry + properties record (reference BaseGeometry,
mundipy/geometry.py:169-207) for the executor-local side of Mundi.q.

Inside the engine a "feature" is a DataFrame row; this object exists so
user code written against the reference API (`coffeeshop['name']`,
`shop.intersects(hood)`, `shop.buffer(100)`) runs unchanged inside the
mapInPandas UDF. Geometric methods delegate to the numpy kernels with
the reference's local-PCS TRANSFORM_INPUT semantics, and every
RETURN_GEO op propagates the input's properties onto the output
(geometry.py:264,315 — asserted in reference tests/test_geometry.py:28-34).
"""

from __future__ import annotations

import numpy as np

from mundipy_spark.kernels import constructive, measure, overlay, predicates, proj, wkb


def _as_geom(other):
    if isinstance(other, Feature):
        return other.geom
    if isinstance(other, tuple):
        return other
    if isinstance(other, (bytes, bytearray)):
        return wkb.loads(bytes(other))
    raise TypeError(f"not a geometry: {type(other)}")


class Feature:
    __slots__ = ("geom", "features", "uscale", "zflag")

    def __init__(self, geom, features: dict | None = None, uscale: float = 1.0):
        """uscale: meters -> session measurement units (1.0 = meters,
        ~3.2808 = feet). The reference gets this by choosing a PCS whose
        axis unit matches Mundi(units=...) (mundipy/pcs/__init__.py:26-62);
        here measures compute in meters and scale on the way out."""
        if isinstance(geom, tuple):
            self.geom = geom
            self.zflag = False  # internal tuples are always 2D
        else:
            self.geom = wkb.loads(geom)
            # observe the Z flag before the codec drops the ordinates
            self.zflag = wkb.wkb_has_z(geom)
        self.features = dict(features or {})
        self.uscale = uscale

    # --- property dict surface (geometry.py:203-207) ---
    def __getitem__(self, key):
        return self.features[key]

    def __setitem__(self, key, value):
        self.features[key] = value

    def get(self, key, default=None):
        return self.features.get(key, default)

    # --- accessors ---
    @property
    def geom_type(self) -> str:
        return self.geom[0]

    @property
    def bounds(self):
        return wkb.bounds(self.geom)

    @property
    def wkt(self) -> str:
        return wkb.to_wkt(self.geom)

    @property
    def wkb(self) -> bytes:
        return wkb.dumps(self.geom)

    @property
    def wkb_hex(self) -> str:
        """Uppercase hex WKB (reference geometry.py:159 — shapely's
        `wkb_hex` passthrough, which emits uppercase digits)."""
        return wkb.dumps(self.geom).hex().upper()

    @property
    def has_z(self) -> bool:
        """Whether the SOURCE WKB declared a Z ordinate (reference
        geometry.py:115). The engine itself is strictly 2D — Z values
        are dropped at decode (kernels/wkb.py module docstring), so
        this observes provenance, matching the reference, which
        surfaces the flag but never computes with Z."""
        return self.zflag

    @property
    def coords(self) -> list:
        """Coordinate tuples for simple geometries (reference
        geometry.py:113 — shapely's `coords`). Shapely only defines
        the sequence for Point / LineString / LinearRing; polygons and
        multi-part geometries raise NotImplementedError there, and the
        reference passes that through, so we do too."""
        t, data = self.geom
        if t == "Point":
            return [(float(data[0]), float(data[1]))]
        if t == "LineString":
            return [(float(x), float(y)) for x, y in np.asarray(data)]
        raise NotImplementedError(
            f"coords is not defined for {t} (shapely semantics: only "
            "Point/LineString/LinearRing expose a coordinate sequence)"
        )

    @property
    def xy(self):
        """Separate x / y coordinate arrays as `array.array('d')`
        (reference geometry.py:114+ SHAPELY_METHODS 'xy': shapely
        returns a pair of double arrays for Point/LineString and
        raises for everything else)."""
        import array as _array

        pts = self.coords  # shares the Point/LineString-only contract
        return (
            _array.array("d", [p[0] for p in pts]),
            _array.array("d", [p[1] for p in pts]),
        )

    def svg(self, scale_factor: float = 1.0, color: str | None = None) -> str:
        """Single-geometry SVG fragment (reference geometry.py:161 —
        shapely's `.svg()` passthrough): circle for points, polyline
        for lines, even-odd path for polygons, `<g>` wrapper for
        multi-parts; invalid geometries get the red fill. Layer-level
        rendering (the notebook repr) lives in mundipy_spark/svg.py."""
        return _svg_fragment(self.geom, scale_factor, color, self.is_valid)

    @property
    def __geo_interface__(self) -> dict:
        return {
            "type": "Feature",
            "geometry": wkb.to_geojson(self.geom),
            "properties": dict(self.features),
        }

    # --- measures (session units; TRANSFORM_INPUT sandwich) ---
    @property
    def area(self) -> float:
        return measure.geom_area_m2(self.geom) * self.uscale**2

    @property
    def length(self) -> float:
        return measure.geom_length_m(self.geom) * self.uscale

    def distance(self, other) -> float:
        return measure.geom_distance_m(self.geom, _as_geom(other)) * self.uscale

    # --- predicates ---
    def intersects(self, other) -> bool:
        return predicates.intersects(self.geom, _as_geom(other))

    def contains(self, other) -> bool:
        return predicates.contains(self.geom, _as_geom(other))

    def within(self, other) -> bool:
        return predicates.within(self.geom, _as_geom(other))

    def touches(self, other) -> bool:
        return predicates.touches(self.geom, _as_geom(other))

    def disjoint(self, other) -> bool:
        return predicates.disjoint(self.geom, _as_geom(other))

    def covers(self, other) -> bool:
        return predicates.covers(self.geom, _as_geom(other))

    def covered_by(self, other) -> bool:
        return predicates.covered_by(self.geom, _as_geom(other))

    def crosses(self, other) -> bool:
        return predicates.crosses(self.geom, _as_geom(other))

    def overlaps(self, other) -> bool:
        return predicates.overlaps(self.geom, _as_geom(other))

    def relate(self, other) -> str:
        """DE-9IM matrix string (reference geometry.py:141)."""
        return predicates.relate(self.geom, _as_geom(other))

    def relate_pattern(self, other, pattern: str) -> bool:
        """DE-9IM pattern match (reference geometry.py:142)."""
        return predicates.relate_pattern(self.geom, _as_geom(other), pattern)

    def equals(self, other) -> bool:
        return predicates.equals(self.geom, _as_geom(other))

    def equals_exact(self, other, tolerance: float = 0.0) -> bool:
        return predicates.equals_exact(self.geom, _as_geom(other), tolerance)

    def almost_equals(self, other, decimal: int = 6) -> bool:
        return predicates.almost_equals(self.geom, _as_geom(other), decimal)

    # --- unary predicates (reference geometry.py:111-129: shapely
    # properties surfaced verbatim on every geometry object) ---
    @property
    def is_valid(self) -> bool:
        return constructive.is_valid(self.geom)

    @property
    def is_empty(self) -> bool:
        return predicates.is_empty(self.geom)

    @property
    def is_closed(self) -> bool:
        return predicates.is_closed(self.geom)

    @property
    def is_ring(self) -> bool:
        return predicates.is_ring(self.geom)

    @property
    def is_simple(self) -> bool:
        return predicates.is_simple(self.geom)

    # --- constructive (RETURN_GEO: properties propagate) ---
    def buffer(self, dist: float) -> "Feature":
        """dist in session units (feet when Mundi(units='feet'))."""
        return Feature(
            constructive.buffer_m(self.geom, dist / self.uscale),
            self.features,
            self.uscale,
        )

    @property
    def centroid(self) -> "Feature":
        return Feature(constructive.centroid(self.geom), self.features, self.uscale)

    @property
    def envelope(self) -> "Feature":
        return Feature(constructive.envelope(self.geom), self.features, self.uscale)

    @property
    def convex_hull(self) -> "Feature":
        return Feature(constructive.convex_hull(self.geom), self.features, self.uscale)

    def simplify(self, tol: float) -> "Feature":
        return Feature(constructive.simplify(self.geom, tol), self.features, self.uscale)

    # --- overlays (RETURN_GEO, reference geometry.py:103,123,150,154) ---
    def _overlay(self, other, op: str) -> "Feature | None":
        g = overlay.overlay_op(self.geom, _as_geom(other), op) if op != "intersection" else overlay.intersection(self.geom, _as_geom(other))
        return Feature(g, self.features, self.uscale) if g is not None else None

    def intersection(self, other) -> "Feature | None":
        return self._overlay(other, "intersection")

    def union(self, other) -> "Feature | None":
        return self._overlay(other, "union")

    def difference(self, other) -> "Feature | None":
        return self._overlay(other, "difference")

    def symmetric_difference(self, other) -> "Feature | None":
        return self._overlay(other, "symmetric_difference")

    # --- remaining scalar surface (geometry.py:89,117,133,135,137,139,144) ---
    def hausdorff_distance(self, other) -> float:
        return measure.hausdorff_distance_m(self.geom, _as_geom(other)) * self.uscale

    @property
    def minimum_clearance(self) -> float:
        """Session units (meter sandwich like buffer/distance — the
        reference projects into the chosen PCS for every SHAPELY_METHODS
        TRANSFORM_INPUT op, geometry.py:133)."""
        return measure.minimum_clearance_m(self.geom) * self.uscale

    def interpolate(self, dist: float) -> "Feature":
        """dist in session units along the line (feet under
        Mundi(units='feet')), like the reference's projected shapely."""
        return Feature(
            measure.interpolate_m(self.geom, dist / self.uscale),
            self.features,
            self.uscale,
        )

    def project(self, other) -> float:
        """Distance along this line of the point nearest `other`, in
        session units."""
        return measure.line_project_m(self.geom, _as_geom(other)) * self.uscale

    @property
    def boundary(self) -> "Feature":
        return Feature(constructive.boundary(self.geom), self.features, self.uscale)

    @property
    def representative_point(self) -> "Feature":
        return Feature(constructive.representative_point(self.geom), self.features, self.uscale)

    def normalize(self) -> "Feature":
        return Feature(constructive.normalize(self.geom), self.features, self.uscale)

    @property
    def minimum_rotated_rectangle(self) -> "Feature":
        return Feature(
            constructive.minimum_rotated_rectangle(self.geom), self.features, self.uscale
        )

    def __repr__(self) -> str:
        return f"<Feature {self.geom_type} props={list(self.features)[:4]}>"


def _svg_fragment(geom, scale_factor: float, color: str | None, valid: bool) -> str:
    """Shapely-style per-geometry SVG fragment (the shapes shapely's
    BaseGeometry.svg emits, public API): default fill #66cc99 for valid
    geometries, #ff3333 for invalid; points r=3*sf, lines 2*sf-wide
    polylines, polygons even-odd paths; multi-parts wrap children in
    <g>. Empty geometries render as `<g />` like shapely."""
    t, data = geom
    fill = color if color is not None else ("#66cc99" if valid else "#ff3333")

    def _f(v) -> str:
        s = f"{float(v):.6f}".rstrip("0").rstrip(".")
        return s if s not in ("-0", "") else "0"

    if t == "Point":
        d = np.asarray(data, dtype=np.float64)
        return (
            f'<circle cx="{_f(d[0])}" cy="{_f(d[1])}" r="{_f(3.0 * scale_factor)}" '
            f'stroke="#555555" stroke-width="{_f(1.0 * scale_factor)}" fill="{fill}" opacity="0.6" />'
        )
    if t == "LineString":
        c = np.asarray(data, dtype=np.float64)
        if len(c) == 0:
            return "<g />"
        pts = " ".join(f"{_f(x)},{_f(y)}" for x, y in c)
        return (
            f'<polyline fill="none" stroke="{fill}" '
            f'stroke-width="{_f(2.0 * scale_factor)}" points="{pts}" opacity="0.8" />'
        )
    if t == "Polygon":
        if not data:
            return "<g />"
        rings = []
        for ring in data:
            c = np.asarray(ring, dtype=np.float64)
            rings.append(
                "M " + " L ".join(f"{_f(x)},{_f(y)}" for x, y in c) + " z"
            )
        return (
            f'<path fill-rule="evenodd" fill="{fill}" stroke="#555555" '
            f'stroke-width="{_f(2.0 * scale_factor)}" opacity="0.6" d="{" ".join(rings)}" />'
        )
    if t == "MultiPoint":
        parts = [
            _svg_fragment(("Point", p), scale_factor, color, valid)
            for p in np.asarray(data).reshape(-1, 2)
        ]
    elif t == "MultiLineString":
        parts = [
            _svg_fragment(("LineString", l), scale_factor, color, valid)
            for l in data
        ]
    elif t == "MultiPolygon":
        parts = [
            _svg_fragment(("Polygon", p), scale_factor, color, valid)
            for p in data
        ]
    elif t == "GeometryCollection":
        parts = [_svg_fragment(g, scale_factor, color, valid) for g in data]
    else:
        raise ValueError(f"unknown geometry type: {t}")
    if not parts:
        return "<g />"
    return "<g>" + "".join(parts) + "</g>"


# the kernels' 'on' tolerance: predicates.bbox_disjoint pads by it, and
# points_on_segments / the point-point test of predicates.intersects use it
_ON_EPS = 1e-9

# row kinds of the prepared layer; _SCALAR rows (GeometryCollections,
# empty or non-finite geometries, lines with a one-vertex part) are
# answered by the scalar kernels
_SCALAR, _POINTS, _LINES, _AREAS = 0, 1, 2, 3


def _point_xy(g):
    """(x, y) of a Point probe as wkb.loads gives it, else None: other
    probes take the scalar kernels."""
    if g[0] != "Point":
        return None
    d = np.asarray(g[1], dtype=np.float64)
    return (d[0], d[1]) if d.shape == (2,) else None


def _ranges(off: np.ndarray, rows: np.ndarray):
    """Flat positions of the ranges off[r]:off[r+1] for r in rows, the
    position in `rows` each comes from, and each range's start and
    length in the output."""
    lo = off[rows]
    n = off[rows + 1] - lo
    start = np.cumsum(n) - n
    pos = np.arange(int(n.sum()), dtype=np.int64) + np.repeat(lo - start, n)
    return pos, np.repeat(np.arange(len(rows)), n), start, n


class _FlatLayer:
    """A side layer as flat arrays (the GEOS PreparedGeometry role,
    reference dataset.py:113-162), built once per LocalIndex:

    - `kind` per row, and every vertex of the non-scalar rows in
      `vx`/`vy` with per-row offsets `voff`;
    - the boundary edges of line and area rows as vertex-index pairs
      `ea`→`eb`, with per-row offsets `eoff`, the polygon part `epoly`
      each ring edge belongs to (-1 for line edges), `eparity` (the
      ring has >= 3 vertices, so the edge counts in the even-odd
      parity) and `ewrap` (the edge closes its ring).

    Rings carry all n edges of `crossings_in_ring`; a ring's closing
    edge is a boundary segment only where its end vertices are not
    `np.allclose` in the coordinates at hand, as in
    `predicates._ring_segments`.
    """

    def __init__(self, geoms: list):
        n_rows = len(geoms)
        kind = np.zeros(n_rows, dtype=np.int8)
        arrs, row, cls, poly = [], [], [], []  # per coordinate array
        n_poly = 0
        for r, g in enumerate(geoms):
            t, data = g
            if t in ("Point", "MultiPoint"):
                parts = [np.asarray(data, dtype=np.float64).reshape(-1, 2)]
                ok = len(parts[0]) > 0
                k, c = _POINTS, 0
            elif t in ("LineString", "MultiLineString"):
                parts = [
                    np.asarray(p, dtype=np.float64).reshape(-1, 2)
                    for p in ([data] if t == "LineString" else data)
                ]
                # a one-vertex part has no segment, but a line whose
                # parts all collapse counts it as a point
                # (predicates._collapse_degenerate_lines)
                ok = all(len(p) != 1 for p in parts) and any(len(p) for p in parts)
                k, c = _LINES, 2
            elif t in ("Polygon", "MultiPolygon"):
                polys = [data] if t == "Polygon" else data
                parts = [np.asarray(ring, dtype=np.float64).reshape(-1, 2) for p in polys for ring in p]
                ok = any(len(p) >= 2 for p in parts)
                k, c = _AREAS, 1
            else:
                ok = False
            if not ok:
                continue
            kind[r] = k
            if c == 1:
                for p in polys:
                    for ring in p:
                        poly.append(n_poly)
                    n_poly += 1
            else:
                poly.extend([-1] * len(parts))
            arrs.extend(parts)
            row.extend([r] * len(parts))
            cls.extend([c] * len(parts))

        lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=len(arrs))
        row = np.asarray(row, dtype=np.int64)
        cls = np.asarray(cls, dtype=np.int8)
        poly = np.asarray(poly, dtype=np.int64)
        v = np.concatenate(arrs) if arrs else np.empty((0, 2))
        self.vx, self.vy = np.ascontiguousarray(v[:, 0]), np.ascontiguousarray(v[:, 1])
        # non-finite coordinates take the scalar kernels
        bad = ~(np.isfinite(self.vx) & np.isfinite(self.vy))
        kind[np.repeat(row, lens)[bad]] = _SCALAR
        self.kind = kind
        self.voff = np.zeros(n_rows + 1, dtype=np.int64)
        np.cumsum(np.bincount(row, weights=lens, minlength=n_rows).astype(np.int64), out=self.voff[1:])

        # edges: n per ring, n - 1 per line part, none below 2 vertices
        vstart = np.cumsum(lens) - lens
        ne = np.where(lens < 2, 0, np.where(cls == 1, lens, lens - 1))
        ne[cls == 0] = 0
        src = np.repeat(np.arange(len(arrs)), ne)
        local = np.arange(int(ne.sum()), dtype=np.int64) - np.repeat(np.cumsum(ne) - ne, ne)
        self.ewrap = (cls[src] == 1) & (local == lens[src] - 1)
        self.ea = vstart[src] + local
        self.eb = np.where(self.ewrap, vstart[src], self.ea + 1)
        self.epoly = poly[src]
        self.eparity = (cls[src] == 1) & (lens[src] >= 3)
        self.eoff = np.zeros(n_rows + 1, dtype=np.int64)
        np.cumsum(np.bincount(row[src], minlength=n_rows), out=self.eoff[1:])

    def probe_point(self, rows, x, y, X, Y):
        """Point (x, y) against the non-scalar `rows`, in the coordinate
        system of X, Y (vx, vy or their projection, aligned with them):
        returns (hit, m) per row — hit is the boundary-inclusive
        `predicates.intersects` decision without its bbox gate, and m
        the distance `measure.geom_distance_planar` measures when they
        do not intersect, by the same formulas as the scalar kernels."""
        pts = self.kind[rows] == _POINTS
        if pts.all():
            return self._near_points(rows, x, y, X, Y)
        if not pts.any():
            return self._near_edges(rows, x, y, X, Y)
        hit, m = np.empty(len(rows), dtype=bool), np.empty(len(rows))
        for sel, near in ((pts, self._near_points), (~pts, self._near_edges)):
            hit[sel], m[sel] = near(rows[sel], x, y, X, Y)
        return hit, m

    def _near_points(self, rows, x, y, X, Y):
        # the point-set test of predicates.intersects and distance of
        # measure.geom_distance_planar
        v, _, start, _ = _ranges(self.voff, rows)
        m = np.sqrt(np.minimum.reduceat((X[v] - x) ** 2 + (Y[v] - y) ** 2, start))
        return m <= _ON_EPS, m

    def _near_edges(self, rows, x, y, X, Y):
        e, cpos, start, _ = _ranges(self.eoff, rows)
        a, b = self.ea[e], self.eb[e]
        xi, yi, xj, yj = X[a], Y[a], X[b], Y[b]
        # predicates.point_segs_min_dist
        dx, dy = xj - xi, yj - yi
        ln2 = dx * dx + dy * dy
        ln2 = np.where(ln2 == 0, 1.0, ln2)
        t = np.clip(((x - xi) * dx + (y - yi) * dy) / ln2, 0.0, 1.0)
        d2 = (x - (xi + t * dx)) ** 2 + (y - (yi + t * dy)) ** 2
        w = np.flatnonzero(self.ewrap[e])
        if len(w):  # np.allclose(ring[0], ring[-1]) drops the closing edge
            first, last = b[w], a[w]
            closed = (np.abs(X[first] - X[last]) <= 1e-8 + 1e-5 * np.abs(X[last])) & (
                np.abs(Y[first] - Y[last]) <= 1e-8 + 1e-5 * np.abs(Y[last])
            )
            d2[w[closed]] = np.inf
        m = np.sqrt(np.minimum.reduceat(d2, start))
        hit = m <= _ON_EPS
        par = self.eparity[e]
        if par.any():
            # predicates.crossings_in_ring, summed per polygon part
            # (dy == 0 edges never cross: their divisor is replaced)
            xint = (xj - xi) * (y - yi) / np.where(dy == 0, 1.0, dy) + xi
            cross = par & ((yi > y) != (yj > y)) & (x < xint)
            ep = self.epoly[e]
            runs = np.concatenate(([0], np.flatnonzero(ep[1:] != ep[:-1]) + 1))
            odd = np.add.reduceat(cross, runs, dtype=np.int64) & 1
            hit[cpos[runs[odd == 1]]] = True
        return hit, m


class LocalIndex:
    """Executor-local spatial index over a broadcast layer — the object
    Mundi.q injects for each named side dataset (the role the reference's
    fiona/PostGIS-indexed Dataset plays per probe, dataset.py:143-206).

    Holds the parsed geometries, their bbox arrays and the layer as flat
    vertex and edge arrays (`_FlatLayer`), all built once. A Point probe
    is answered with one numpy pass over its bbox candidates: even-odd
    parity per polygon part plus the 1e-9 on-edge test for intersects,
    and for within/nearest the exact `measure.geom_distance_m` distance
    in the same per-pair UTM projection, from the layer's coordinates
    projected once per (zone, hemisphere) and cached on this object (so
    once per worker for a broadcast index). Pairs projected to AEQD
    (wide extents, polar caps, the antimeridian), scalar-kind rows such
    as GeometryCollections, and non-Point probes take the scalar
    kernels. Semantics are the reference's: point probes buffered by
    1e-3 deg (dataset.py:159), nearest returns None on empty
    (dataset.py:201-206).
    """

    def __init__(self, rows: list[tuple[bytes, dict]], uscale: float = 1.0):
        self.geoms = [wkb.loads(g) for g, _ in rows]
        self.props = [p for _, p in rows]
        self.uscale = uscale
        if self.geoms:
            b = np.asarray([wkb.bounds(g) for g in self.geoms], dtype=np.float64)
        else:
            b = np.empty((0, 4), dtype=np.float64)
        self.minx, self.miny, self.maxx, self.maxy = b.T if len(b) else (
            np.empty(0), np.empty(0), np.empty(0), np.empty(0)
        )
        self._flat = _FlatLayer(self.geoms)
        self._utm: dict = {}

    @classmethod
    def from_dataframe(cls, df, geom_col: str = "geometry"):
        rows = []
        for r in df.collect():
            d = r.asDict()
            g = d.pop(geom_col)
            if g is not None:
                rows.append((bytes(g), d))
        return cls(rows)

    def with_scale(self, uscale: float) -> "LocalIndex":
        """Shallow view with a different session unit scale (arrays
        shared, projection cache its own) — Mundi(units=...) wraps side
        layers through this."""
        import copy

        ix = copy.copy(self)
        ix.uscale = uscale
        return ix

    def __getstate__(self):
        state = self.__dict__.copy()
        # filled per process, never shipped
        state["_utm"] = {}
        return state

    def __len__(self) -> int:
        return len(self.geoms)

    def __iter__(self):
        for g, p in zip(self.geoms, self.props):
            yield Feature(g, p, self.uscale)

    @property
    def bounds(self):
        if not len(self.geoms):
            return (np.inf, np.inf, -np.inf, -np.inf)
        return (
            float(self.minx.min()),
            float(self.miny.min()),
            float(self.maxx.max()),
            float(self.maxy.max()),
        )

    def _bbox_candidates(self, qminx, qminy, qmaxx, qmaxy) -> np.ndarray:
        return np.nonzero(
            (self.maxx >= qminx)
            & (self.minx <= qmaxx)
            & (self.maxy >= qminy)
            & (self.miny <= qmaxy)
        )[0]

    def _features(self, idx) -> list[Feature]:
        return [Feature(self.geoms[i], self.props[i], self.uscale) for i in idx]

    def inside_bbox(self, bbox) -> list[Feature]:
        return self._features(self._bbox_candidates(*bbox))

    def _utm_layer(self, zone: int, south: bool):
        """The layer's vertices in one UTM zone, projected on first use:
        (x, y) aligned with vx, vy, and each row's projected bbox."""
        key = (zone, south)
        got = self._utm.get(key)
        if got is None:
            fl = self._flat
            with np.errstate(all="ignore"):  # rows far from the zone: unused
                x, y = proj.utm_forward(fl.vx, fl.vy, zone, south)
            bbox = np.full((len(self.geoms), 4), np.nan)
            has = np.diff(fl.voff) > 0
            if has.any():
                start = fl.voff[:-1][has]
                bbox[has] = np.column_stack([
                    f.reduceat(c, start)
                    for f, c in ((np.minimum, x), (np.minimum, y), (np.maximum, x), (np.maximum, y))
                ])
            got = self._utm[key] = (x, y, bbox)
        return got

    def _point_distances(self, idx: np.ndarray, g):
        """measure.geom_distance_m(self.geoms[i], g) for each i in idx,
        except where the returned mask is set: those pairs need the
        scalar kernel (all of them unless g is a Point). Per pair, the
        projection is the one proj.local_projection picks for the pair's
        union bbox; a pair that intersects there is at 0, else at the
        planar distance."""
        out = np.full(len(idx), np.nan)
        xy = _point_xy(g)
        if xy is None or not len(idx):
            return out, np.ones(len(idx), dtype=bool)
        x, y = xy
        minx, maxx = np.minimum(self.minx[idx], x), np.maximum(self.maxx[idx], x)
        miny, maxy = np.minimum(self.miny[idx], y), np.maximum(self.maxy[idx], y)
        cx, cy = (minx + maxx) / 2.0, (miny + maxy) / 2.0
        utm = ((maxx - minx) <= 6.0) & ((maxy - miny) <= 40.0) & (cy >= -80.0) & (cy <= 84.0)
        scalar = ~utm | (self._flat.kind[idx] == _SCALAR)
        todo = np.flatnonzero(~scalar)
        key = proj.utm_zone(cx[todo], cy[todo]) * 2 + (cy[todo] < 0)
        while len(todo):
            same = key == key[0]
            grp, zone, south = todo[same], int(key[0]) // 2, bool(key[0] % 2)
            todo, key = todo[~same], key[~same]
            X, Y, bbox = self._utm_layer(zone, south)
            # the probe projected as transform_geom projects a Point
            px, py = proj.utm_forward(np.asarray([x]), np.asarray([y]), zone, south)
            px, py = px[0], py[0]
            r = idx[grp]
            hit, m = self._flat.probe_point(r, px, py, X, Y)
            # intersects -> 0, behind predicates.bbox_disjoint's gate
            b = bbox[r]
            hit &= ~(
                (b[:, 2] < px - _ON_EPS) | (px < b[:, 0] - _ON_EPS)
                | (b[:, 3] < py - _ON_EPS) | (py < b[:, 1] - _ON_EPS)
            )
            m[hit] = 0.0
            out[grp] = m
        return out, scalar

    def intersects(self, probe) -> list[Feature]:
        g = _as_geom(probe)
        minx, miny, maxx, maxy = wkb.bounds(g)
        if g[0] == "Point":  # degenerate-bbox epsilon (dataset.py:159)
            minx, miny, maxx, maxy = minx - 1e-3, miny - 1e-3, maxx + 1e-3, maxy + 1e-3
        idx = self._bbox_candidates(minx, miny, maxx, maxy)
        hit = np.zeros(len(idx), dtype=bool)
        scalar = np.ones(len(idx), dtype=bool)  # pairs for predicates.intersects
        xy = _point_xy(g)
        if xy is not None:
            x, y = xy
            fl = self._flat
            # predicates.bbox_disjoint's gate, then the prepared decision
            near = ~(
                (self.maxx[idx] < x - _ON_EPS) | (x < self.minx[idx] - _ON_EPS)
                | (self.maxy[idx] < y - _ON_EPS) | (y < self.miny[idx] - _ON_EPS)
            )
            scalar = near & (fl.kind[idx] == _SCALAR)
            prep = np.flatnonzero(near & ~scalar)
            if len(prep):
                hit[prep], _ = fl.probe_point(idx[prep], x, y, fl.vx, fl.vy)
        for j in np.flatnonzero(scalar):
            hit[j] = predicates.intersects(self.geoms[idx[j]], g)
        return self._features(idx[hit])

    def within(self, radius: float, probe) -> list[Feature]:
        """radius is in SESSION units (feet under Mundi(units='feet')) —
        consistent with Feature.buffer/distance, reference semantics.

        Distances here (and in nearest/intersects) are PLANAR on
        unwrapped longitudes, matching the reference's projected-CRS
        measures: two geometries on opposite sides of the antimeridian
        are far apart, not 2*eps — the same answer shapely+pyproj give.
        nearest()'s wrap-aware candidate LOWER bound is still sound for
        this measure (a lower bound may only undershoot; it never
        prunes a planar-true nearest)."""
        g = _as_geom(probe)
        radius_m = radius / self.uscale
        # equivalence with intersects(buffer(r)) per docs/manual/datasets.mdx:100-107.
        # SOUND pruning pads: 1 deg lat >= 110.57 km everywhere, so
        # dividing by 110 km overshoots (safe); 1 deg lon is only
        # 111.32*cos(lat) km, so the lon pad must scale by 1/cos at the
        # highest |lat| the radius can reach — a flat 1.5x fudge
        # undercovers above ~48 deg and silently drops true matches.
        minx, miny, maxx, maxy = wkb.bounds(g)
        pad_lat = radius_m / 110_000.0 + 1e-9
        lat_hi = min(max(abs(miny), abs(maxy)) + pad_lat, 89.9)
        coslat = max(np.cos(np.radians(lat_hi)), 1e-6)
        pad_lon = radius_m / (110_000.0 * coslat) + 1e-9
        idx = self._bbox_candidates(
            minx - pad_lon, miny - pad_lat, maxx + pad_lon, maxy + pad_lat
        )
        d, scalar = self._point_distances(idx, g)
        for j in np.flatnonzero(scalar):
            d[j] = measure.geom_distance_m(self.geoms[idx[j]], g)
        return self._features(idx[d <= radius_m])

    def nearest(self, probe) -> Feature | None:
        g = _as_geom(probe)
        if not len(self.geoms):
            return None
        # best-first candidate scan over a TRUE meter lower bound, exact
        # refine. Bbox-to-bbox gaps in degrees:
        pminx, pminy, pmaxx, pmaxy = wkb.bounds(g)
        dx = np.maximum(np.maximum(self.minx - pmaxx, pminx - self.maxx), 0.0)
        # antimeridian wrap: the gap the other way around is 360 minus
        # the hull span of the two lon intervals
        hull = np.maximum(self.maxx, pmaxx) - np.minimum(self.minx, pminx)
        dx = np.minimum(dx, np.maximum(360.0 - hull, 0.0))
        dy = np.maximum(np.maximum(self.miny - pmaxy, pminy - self.maxy), 0.0)
        # sound meter lower bounds (great-circle d between points at
        # lats phi1, phi2 with lon gap dx satisfies d >= R*dphi and
        # d >= (2/pi)*R*cos(phi_max)*dlam — the old scalar 85 km/deg
        # overestimated the lon term above ~40 deg latitude and could
        # prune the true nearest at high latitudes):
        lat_hi = np.maximum(
            np.maximum(np.abs(self.miny), np.abs(self.maxy)),
            max(abs(pminy), abs(pmaxy)),
        )
        coslat = np.cos(np.radians(np.minimum(lat_hi, 89.99)))
        lb_m = np.maximum(dy * 110_000.0, dx * 70_000.0 * coslat)
        order = np.argsort(lb_m)
        # scanned in lower-bound order until the bound passes the best
        # distance, measured in blocks: the first 8 candidates, then all
        # whose bound is within the best distance so far; scalar-kernel
        # pairs are measured only when the scan reaches them
        lb_sorted = lb_m[order]
        best, best_d = None, np.inf
        pos, n = 0, len(order)
        while pos < n and not lb_sorted[pos] > best_d:
            end = pos + 8 if best_d == np.inf else pos + max(
                1, int(np.searchsorted(lb_sorted[pos:], best_d, side="right"))
            )
            block = order[pos:end]
            ds, scalar = self._point_distances(block, g)
            for i, d, sc in zip(block.tolist(), ds.tolist(), scalar.tolist()):
                if lb_m[i] > best_d:
                    pos = n
                    break
                if sc:
                    d = measure.geom_distance_m(self.geoms[i], g)
                if d < best_d:
                    best, best_d = i, d
            else:
                pos = end
        return Feature(self.geoms[best], self.props[best], self.uscale) if best is not None else None
