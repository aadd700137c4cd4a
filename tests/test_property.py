"""Property-based kernel tests (hypothesis) — the invariants the tile
join's correctness rests on, plus codec round-trips. Pure numpy, no
SparkSession."""

from __future__ import annotations

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from mundipy_spark.kernels import constructive, measure, overlay, predicates, proj, tiling, wkb

settings.register_profile("kernels", max_examples=60, deadline=None)
settings.load_profile("kernels")

coord = st.floats(-179.0, 179.0, allow_nan=False, width=64)
lat = st.floats(-85.0, 85.0, allow_nan=False, width=64)


@st.composite
def star_polygon(draw):
    """A guaranteed-simple polygon: jittered angles around a center."""
    n = draw(st.integers(4, 10))
    cx = draw(st.floats(-150.0, 150.0))
    cy = draw(st.floats(-60.0, 60.0))
    jit = [draw(st.floats(0.1, 0.9)) for _ in range(n)]
    rad = [draw(st.floats(0.5, 8.0)) for _ in range(n)]
    ang = 2 * np.pi * (np.arange(n) + np.array(jit)) / n
    pts = np.c_[cx + np.array(rad) * np.cos(ang), cy + np.array(rad) * np.sin(ang)]
    return ("Polygon", [np.vstack([pts, pts[:1]])])


@st.composite
def linestring(draw):
    n = draw(st.integers(2, 12))
    xs = [draw(coord) for _ in range(n)]
    ys = [draw(lat) for _ in range(n)]
    return ("LineString", np.c_[xs, ys])


@given(star_polygon())
def test_wkb_roundtrip_polygon(g):
    g2 = wkb.loads(wkb.dumps(g))
    assert g2[0] == g[0]
    assert np.allclose(g2[1][0], g[1][0])


@given(linestring())
def test_wkb_wkt_roundtrip_linestring(g):
    g2 = wkb.loads(wkb.dumps(g))
    assert np.allclose(g2[1], g[1])
    g3 = wkb.from_wkt(wkb.to_wkt(g))
    assert np.allclose(g3[1], g[1], atol=1e-6)


@given(star_polygon(), st.integers(4, 9))
def test_cover_contains_all_interior_point_cells(poly, res):
    """THE join invariant: any point inside the polygon maps (via the
    pure-JVM cell arithmetic) to a cell present in the polygon's
    covering — otherwise the equi-join would silently drop matches."""
    minx, miny, maxx, maxy = wkb.bounds(poly)
    cells, full = tiling.cover_geometry_classified(poly, res)
    cellset = set(cells.tolist())
    rng = np.random.default_rng(42)
    xs = rng.uniform(minx, maxx, 200)
    ys = rng.uniform(miny, maxy, 200)
    inside = predicates.points_in_geom(xs, ys, poly)
    pcells = tiling.point_cell(xs, ys, res)
    for x, y, c, inn in zip(xs, ys, pcells, inside):
        if inn:
            assert int(c) in cellset, (x, y)
    # interior flag soundness: a point in a FULL cell is inside the poly
    fullset = set(cells[full].tolist())
    for x, y, c, inn in zip(xs, ys, pcells, inside):
        if int(c) in fullset:
            assert inn, (x, y)


@given(star_polygon(), star_polygon())
def test_intersects_symmetric_and_consistent(a, b):
    ab = predicates.intersects(a, b)
    ba = predicates.intersects(b, a)
    assert ab == ba
    ia = overlay.intersection_area_planar(a, b)
    if ia > 1e-9:
        assert ab


@given(star_polygon())
def test_buffer_grows_and_contains(poly):
    buf = constructive.buffer_planar(poly, 0.5)
    assert measure.geom_area_planar(buf) > measure.geom_area_planar(poly)
    v = predicates.geom_vertices(poly)
    assert predicates.points_in_geom(v[:, 0], v[:, 1], buf).all()


@given(star_polygon())
def test_convex_hull_contains_and_convex(poly):
    hull = constructive.convex_hull(poly)
    v = predicates.geom_vertices(poly)
    assert predicates.points_in_geom(v[:, 0], v[:, 1], hull).all()
    assert overlay.is_convex(hull[1][0])


def _ar(g):
    return measure.geom_area_planar(g) if g else 0.0


@given(star_polygon(), star_polygon())
def test_overlay_inclusion_exclusion(a, b):
    """|A∪B| + |A∩B| == |A| + |B|, |A\\B| + |A∩B| == |A|, and
    |AΔB| == |A∪B| - |A∩B| via the GEOMETRY outputs."""
    ua = _ar(overlay.overlay_op(a, b, "union"))
    ia = _ar(overlay.overlay_op(a, b, "intersection"))
    da = _ar(overlay.overlay_op(a, b, "difference"))
    sa = _ar(overlay.overlay_op(a, b, "symmetric_difference"))
    ra = measure.geom_area_planar(a)
    rhs = ra + measure.geom_area_planar(b)
    # tolerance covers the worst-case degeneracy-perturbation shift
    # (extent * 1e-9 * 3^4 * perimeter ≈ 1e-4 absolute on these sizes);
    # a traversal/marking bug would be O(component area), 1000x larger
    tol = 1e-3 * max(1.0, rhs)
    assert abs((ua + ia) - rhs) < tol
    assert abs((da + ia) - ra) < tol
    assert abs(sa - (ua - ia)) < tol


@given(star_polygon(), star_polygon(), star_polygon())
@example(
    a=('Polygon', [np.array([[ 2.95342712,  2.82842712],
             [-0.26518064,  1.96157056],
             [-0.58210678, -0.70710678],
             [ 1.97275907, -0.76536686],
             [ 2.95342712,  2.82842712]])]),
    b=('Polygon', [np.array([[ 0.70710678,  0.70710678],
             [-0.35355339,  0.35355339],
             [-0.35355339, -0.35355339],
             [ 0.70710678, -0.70710678],
             [ 0.70710678,  0.70710678]])]),
    c=('Polygon', [np.array([[ 2.95342712,  2.82842712],
             [-0.26518064,  1.96157056],
             [-0.58210678, -0.70710678],
             [ 1.97275907, -0.76536686],
             [ 2.95342712,  2.82842712]])]),
).via('discovered failure')
def test_overlay_multipart_composition(a, b, c):
    """(A\\B) is often a MULTI-polygon whose components share boundary
    chains with B — overlaying it with a third layer exercises the GH
    output-hygiene path (orientation normalization, perturbation-sliver
    culling, pinched-ring splitting: each historically broke this)."""
    h = overlay.overlay_op(a, b, "difference")
    if h is None:
        return
    ha, ca = _ar(h), measure.geom_area_planar(c)
    u = _ar(overlay.overlay_op(h, c, "union"))
    i = _ar(overlay.overlay_op(h, c, "intersection"))
    assert abs((u + i) - (ha + ca)) < 1e-3 * max(1.0, ha + ca)


@given(
    lats=st.lists(st.floats(min_value=55.0, max_value=89.5), min_size=2, max_size=12),
    lons=st.lists(st.floats(min_value=-179.0, max_value=179.0), min_size=12, max_size=12),
    plat=st.floats(min_value=55.0, max_value=89.5),
    plon=st.floats(min_value=-179.0, max_value=179.0),
)
@settings(max_examples=60, deadline=None)
def test_nearest_exact_at_high_latitude(lats, lons, plat, plon):
    """LocalIndex.nearest must equal the argmin of exact distances even
    at high latitude, where meters-per-degree-longitude collapses (the
    r01 85 km/deg pruning bound broke above ~40 deg)."""
    from mundipy_spark.feature import LocalIndex

    pts = [(lons[i], lats[i % len(lats)]) for i in range(len(lons))]
    rows = [
        (wkb.dumps(("Point", np.array([x, y]))), {"i": i})
        for i, (x, y) in enumerate(pts)
    ]
    ix = LocalIndex(rows)
    probe = ("Point", np.array([plon, plat]))
    got = ix.nearest(probe)
    dists = [measure.geom_distance_m(("Point", np.array([x, y])), probe) for x, y in pts]
    best = int(np.argmin(dists))
    assert got is not None
    # accept exact argmin or an equidistant twin (float ties)
    assert abs(dists[got["i"]] - dists[best]) <= 1e-6 * max(dists[best], 1.0)


# --- LocalIndex prepared Point probes ------------------------------------------


def _oracle_point_in_parts(x, y, parts, eps=1e-9):
    """Even-odd point-in-polygon oracle in plain numpy: ray-crossing
    parity per polygon part, OR over the parts, or within eps of an
    edge. Returns (inside, distance to the nearest edge)."""
    inside, dmin = False, np.inf
    for rings in parts:
        odd = False
        for r in rings:
            a = np.asarray(r, dtype=float)
            b = np.roll(a, -1, axis=0)
            (ax, ay), (bx, by) = a.T, b.T
            span = (ay > y) != (by > y)
            with np.errstate(divide="ignore", invalid="ignore"):
                xc = ax + (y - ay) / (by - ay) * (bx - ax)
            odd ^= bool(np.count_nonzero(span & (x < xc)) & 1)
            ex, ey = bx - ax, by - ay
            ll = ex * ex + ey * ey
            u = np.clip(((x - ax) * ex + (y - ay) * ey) / np.where(ll > 0, ll, 1.0), 0.0, 1.0)
            dmin = min(dmin, float(np.hypot(ax + u * ex - x, ay + u * ey - y).min()))
        inside |= odd
    return inside or dmin <= eps, dmin


def _star(rng, cx, cy, r_lo, r_hi, n):
    ang = np.sort(rng.uniform(0.0, 2 * np.pi, n))
    rad = rng.uniform(r_lo, r_hi, n)
    pts = np.c_[cx + rad * np.cos(ang), cy + rad * np.sin(ang)]
    return np.vstack([pts, pts[:1]])


@given(
    seed=st.integers(0, 2**31 - 1),
    cx=st.floats(-170.0, 170.0),
    cy=st.floats(-70.0, 70.0),
)
def test_prepared_pip_matches_scalar_and_evenodd_oracle(seed, cx, cy):
    """LocalIndex.intersects with a Point probe — answered from the
    prepared layer — equals predicates.intersects on every probe, and a
    numpy even-odd oracle wherever the probe is clearly off the boundary
    or exactly on it: a holed polygon (the star may be self-crossing;
    even-odd still defines it), a MultiPolygon with overlapping parts,
    probed at vertices, edge midpoints and random points."""
    from mundipy_spark.feature import LocalIndex

    rng = np.random.default_rng(seed)
    n = int(rng.integers(3, 12))
    holed = [_star(rng, cx, cy, 0.05, 0.2, n), _star(rng, cx, cy, 0.01, 0.04, n)[::-1]]
    multi = [[_star(rng, cx + 0.3, cy, 0.05, 0.15, n)], [_star(rng, cx + 0.35, cy + 0.05, 0.05, 0.15, n)]]
    layer = [("Polygon", holed), ("MultiPolygon", multi)]
    ix = LocalIndex([(wkb.dumps(g), {"i": i}) for i, g in enumerate(layer)])
    rings = holed + [r for p in multi for r in p]
    probes = [v for r in rings for v in (*r, *((r[1:] + r[:-1]) / 2.0))]
    probes += list(np.c_[rng.uniform(cx - 0.25, cx + 0.55, 60), rng.uniform(cy - 0.25, cy + 0.25, 60)])
    for p in probes:
        g = ("Point", np.asarray(p, dtype=np.float64))
        got = [f["i"] for f in ix.intersects(g)]
        b = wkb.bounds(g)
        cand = ix._bbox_candidates(b[0] - 1e-3, b[1] - 1e-3, b[2] + 1e-3, b[3] + 1e-3)
        assert got == [int(i) for i in cand if predicates.intersects(ix.geoms[i], g)], p
        for i, parts in enumerate(([holed], multi)):
            want, dmin = _oracle_point_in_parts(p[0], p[1], parts)
            if dmin > 1e-7 or dmin < 1e-12:
                assert (i in got) == want, (p, i, dmin)


@st.composite
def _probe_layer(draw):
    """A mixed layer (points, lines, polygons) around a centre in one of
    the projection regimes, and probes around it."""
    region = draw(st.sampled_from(["mid", "zone_edge", "antimeridian", "polar", "wide"]))
    seed = draw(st.integers(0, 2**31 - 1))
    rng = np.random.default_rng(seed)
    cx, cy, spread = {
        "mid": (rng.uniform(-170, 170), rng.uniform(-70, 70), 0.05),
        "zone_edge": (6.0 * rng.integers(-29, 30), rng.uniform(-70, 70), 0.05),
        "antimeridian": (179.98, rng.uniform(-60, 60), 0.05),
        "polar": (rng.uniform(-170, 170), rng.choice([-1, 1]) * rng.uniform(83.5, 86.0), 0.3),
        "wide": (rng.uniform(-150, 150), rng.uniform(-50, 50), 4.0),
    }[region]
    layer = []
    for _ in range(int(rng.integers(2, 9))):
        kind = rng.choice(["Point", "MultiPoint", "LineString", "Polygon", "GeometryCollection"])
        c = np.c_[cx + rng.uniform(-spread, spread, 6), cy + rng.uniform(-spread, spread, 6) / 4]
        if kind == "Point":
            layer.append(("Point", c[0]))
        elif kind == "MultiPoint":
            layer.append(("MultiPoint", c[:3]))
        elif kind == "LineString":
            layer.append(("LineString", c[:4]))
        elif kind == "Polygon":
            layer.append(("Polygon", [_star(rng, c[0, 0], c[0, 1], spread / 20, spread / 5, 5)]))
        else:
            layer.append(("GeometryCollection", [("Point", c[0]), ("LineString", c[1:3])]))
    probes = list(np.c_[cx + rng.uniform(-spread, spread, 4), cy + rng.uniform(-spread, spread, 4) / 4])
    probes += [np.asarray(wkb.bounds(layer[0])[:2])]  # a vertex
    if region == "antimeridian":  # longitudes wrapped into [-180, 180)
        layer = [proj.transform_geom(g, lambda x, y: ((x + 180.0) % 360.0 - 180.0, y)) for g in layer]
        probes = [np.array([(p[0] + 180.0) % 360.0 - 180.0, p[1]]) for p in probes]
    return layer, probes, spread


@given(_probe_layer())
@settings(max_examples=40, deadline=None)
def test_prepared_point_probes_match_scalar_kernels(case):
    """within and nearest with a Point probe equal the scalar loops over
    measure.geom_distance_m (and intersects over predicates.intersects)
    in every projection regime: pairs projected to a UTM zone (also the
    neighbouring one at a zone edge) take the prepared path, AEQD pairs
    (antimeridian, polar caps, wide extents) and GeometryCollections the
    scalar kernel; prepared distances agree to 1e-9 relative."""
    from mundipy_spark.feature import LocalIndex
    from tests.test_kernels import _check_probes_match_scalar

    layer, probes, spread = case
    ix = LocalIndex([(wkb.dumps(g), {"i": i}) for i, g in enumerate(layer)])
    for p in probes:
        g = ("Point", p)
        d, scalar = ix._point_distances(np.arange(len(layer)), g)
        ref = np.array([measure.geom_distance_m(h, g) for h in ix.geoms])
        assert np.allclose(d[~scalar], ref[~scalar], rtol=1e-9, atol=0.0)
    _check_probes_match_scalar(ix, probes, radii=(spread * 2e4, spread * 1e5))
