"""Constructive geometry ops: buffer, centroid, hulls, simplify, envelope.

Mirrors the reference's constructive surface (TRANSFORM_INPUT|RETURN_GEO
group, mundipy/geometry.py:83-87,109,121,135,146): each `*_m` op projects
to a deterministic local PCS, constructs in meters, and projects back —
the same sandwich the reference does through pyproj.

Buffer strategy (no GEOS): exact round buffers for points (regular
polygon approximating the circle, default 8 segments per quadrant like
shapely); capsule-union outlines for lines; ring offset with round joins
for polygons. Offsets of concave rings can self-intersect — downstream
point-in-polygon uses the even-odd rule, which is tolerant of that by
construction (see kernels.predicates docstring).
"""

from __future__ import annotations

import numpy as np

from mundipy_spark.kernels import measure, predicates, proj, wkb

QUAD_SEGS = 8  # shapely's default resolution


# --- centroid ---------------------------------------------------------------


def centroid_planar(geom) -> np.ndarray:
    """Area-weighted centroid for polygons; length-weighted for lines;
    mean for points."""
    t = geom[0]
    if predicates.has_area(geom):
        cx = cy = a_sum = 0.0
        for rings in predicates._polygons_of(geom):
            for i, ring in enumerate(rings):
                r = np.asarray(ring, dtype=np.float64)
                x, y = r[:, 0], r[:, 1]
                x2, y2 = np.roll(x, -1), np.roll(y, -1)
                cross = x * y2 - x2 * y
                a = cross.sum() / 2.0
                sign = 1.0 if i == 0 else -1.0
                a = abs(a) * sign
                if abs(cross.sum()) < 1e-300:
                    continue
                # use the signed formula but normalize orientation
                ca = cross.sum() / 2.0
                gx = ((x + x2) * cross).sum() / (6.0 * ca)
                gy = ((y + y2) * cross).sum() / (6.0 * ca)
                cx += gx * a
                cy += gy * a
                a_sum += a
        if a_sum != 0:
            return np.array([cx / a_sum, cy / a_sum])
    segs = predicates.geom_segments(geom)
    if len(segs):
        mx = (segs[:, 0] + segs[:, 2]) / 2.0
        my = (segs[:, 1] + segs[:, 3]) / 2.0
        w = np.hypot(segs[:, 2] - segs[:, 0], segs[:, 3] - segs[:, 1])
        if w.sum() > 0:
            return np.array([(mx * w).sum() / w.sum(), (my * w).sum() / w.sum()])
    v = predicates.geom_vertices(geom)
    return v.mean(axis=0)


def centroid(geom):
    return ("Point", centroid_planar(geom))


# --- envelope / hulls ---------------------------------------------------------


def envelope(geom):
    minx, miny, maxx, maxy = wkb.bounds(geom)
    ring = np.array(
        [[minx, miny], [maxx, miny], [maxx, maxy], [minx, maxy], [minx, miny]]
    )
    return ("Polygon", [ring])


def convex_hull(geom):
    """Andrew's monotone chain over all vertices."""
    pts = predicates.geom_vertices(geom)
    pts = np.unique(pts, axis=0)
    if len(pts) == 1:
        return ("Point", pts[0])
    if len(pts) == 2:
        return ("LineString", pts)
    order = np.lexsort((pts[:, 1], pts[:, 0]))
    pts = pts[order]

    def half(points):
        out = []
        for p in points:
            while (
                len(out) >= 2
                and (out[-1][0] - out[-2][0]) * (p[1] - out[-2][1])
                - (out[-1][1] - out[-2][1]) * (p[0] - out[-2][0])
                <= 0
            ):
                out.pop()
            out.append(p)
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    hull = np.asarray(lower[:-1] + upper[:-1] + [lower[0]], dtype=np.float64)
    if len(hull) < 4:
        return ("LineString", hull[:-1])
    return ("Polygon", [hull])


# --- simplify (Douglas-Peucker) ------------------------------------------------


def _dp_mask(coords: np.ndarray, tol: float) -> np.ndarray:
    """Iterative Douglas-Peucker keep-mask."""
    n = len(coords)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        seg = np.array([[coords[i, 0], coords[i, 1], coords[j, 0], coords[j, 1]]])
        mid = coords[i + 1 : j]
        d = predicates.point_segs_min_dist(mid[:, 0], mid[:, 1], seg)
        kmax = int(np.argmax(d))
        if d[kmax] > tol:
            k = i + 1 + kmax
            keep[k] = True
            stack.append((i, k))
            stack.append((k, j))
    return keep


def simplify(geom, tol: float):
    """Douglas-Peucker (reference: shapely .simplify,
    docs/manual/geometric-operations.mdx:61-65). Tolerance in input units."""
    t, data = geom
    if t in ("Point", "MultiPoint"):
        return geom
    if t == "LineString":
        c = np.asarray(data, dtype=np.float64)
        return (t, c[_dp_mask(c, tol)])
    if t == "MultiLineString":
        return (t, [np.asarray(l)[_dp_mask(np.asarray(l), tol)] for l in data])
    if t == "Polygon":
        return (t, [_simplify_ring(r, tol) for r in data])
    if t == "MultiPolygon":
        return (t, [[_simplify_ring(r, tol) for r in poly] for poly in data])
    if t == "GeometryCollection":
        return (t, [simplify(g, tol) for g in data])
    raise ValueError(t)


def _simplify_ring(ring, tol: float) -> np.ndarray:
    r = np.asarray(ring, dtype=np.float64)
    out = r[_dp_mask(r, tol)]
    if len(out) < 4:  # keep the ring valid
        return r
    return out


# --- buffer ---------------------------------------------------------------------


def _circle(cx: float, cy: float, r: float, quad_segs: int = QUAD_SEGS) -> np.ndarray:
    n = 4 * quad_segs
    ang = np.linspace(0.0, 2.0 * np.pi, n, endpoint=False)
    ring = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
    return np.vstack([ring, ring[:1]])


def _offset_ring(ring: np.ndarray, dist: float, quad_segs: int = QUAD_SEGS) -> np.ndarray:
    """Offset a closed ring outward by dist with round joins at convex
    corners. Output may self-intersect for concave rings — tolerated by
    even-odd fill downstream."""
    r = np.asarray(ring, dtype=np.float64)
    if np.allclose(r[0], r[-1]):
        r = r[:-1]
    # ensure CCW so 'outward' = left normal flipped consistently
    area = measure.ring_area_planar(np.vstack([r, r[:1]]))
    if area < 0:
        r = r[::-1]
    n = len(r)
    nxt = np.roll(r, -1, axis=0)
    d = nxt - r
    ln = np.hypot(d[:, 0], d[:, 1])
    ln = np.where(ln == 0, 1.0, ln)
    # outward normal of a CCW ring is the right normal (dy, -dx)
    nxv = d[:, 1] / ln
    nyv = -d[:, 0] / ln
    out_pts = []
    for i in range(n):
        j = (i - 1) % n
        # offset edge i start, with a round join from edge j's normal
        a0 = np.arctan2(nyv[j], nxv[j])
        a1 = np.arctan2(nyv[i], nxv[i])
        sweep = (a1 - a0) % (2.0 * np.pi)
        if sweep > 1e-9 and sweep < np.pi:  # convex corner: arc
            steps = max(1, int(np.ceil(sweep / (np.pi / 2.0 / quad_segs))))
            angs = a0 + sweep * np.arange(steps + 1) / steps
            for a in angs:
                out_pts.append(r[i] + dist * np.array([np.cos(a), np.sin(a)]))
        else:  # concave or straight: miter via both offsets
            out_pts.append(r[i] + dist * np.array([nxv[j], nyv[j]]))
            out_pts.append(r[i] + dist * np.array([nxv[i], nyv[i]]))
        out_pts.append(nxt[i] + dist * np.array([nxv[i], nyv[i]]))
    out = np.asarray(out_pts, dtype=np.float64)
    return np.vstack([out, out[:1]])


def buffer_planar(geom, dist: float, quad_segs: int = QUAD_SEGS):
    """Planar buffer. dist==0 returns a normalized copy (the reference's
    `.buffer(0)` hygiene trick, mundipy/mundi.py:68-69)."""
    t, data = geom
    if dist == 0:
        return make_valid(geom)
    if dist < 0:
        if t in ("Polygon", "MultiPolygon"):
            # inward offset: offset rings by -d (coarse; adequate for small d)
            return _map_polys(geom, lambda rings: [_offset_ring(rings[0], dist)] + rings[1:])
        return geom
    if t == "Point":
        return ("Polygon", [_circle(data[0], data[1], dist, quad_segs)])
    if t == "MultiPoint":
        pts = np.asarray(data, dtype=np.float64).reshape(-1, 2)
        return ("MultiPolygon", [[_circle(p[0], p[1], dist, quad_segs)] for p in pts])
    if t in ("LineString", "MultiLineString"):
        from mundipy_spark.kernels import overlay

        lines = [data] if t == "LineString" else list(data)
        caps = []
        for line in lines:
            l = np.asarray(line, dtype=np.float64)
            # capsule chain: one hull per segment (round caps via circles)
            for i in range(len(l) - 1):
                caps.append(
                    ("Polygon", [_segment_capsule(l[i], l[i + 1], dist, quad_segs)])
                )
        if not caps:
            return ("MultiPolygon", [])
        # consecutive capsules overlap by ~a full disc at every interior
        # vertex: raw parts would double-count area in every measure
        # consumer, so union them (pairwise tree, same as dissolve)
        while len(caps) > 1:
            caps = [
                overlay.union(caps[i], caps[i + 1]) if i + 1 < len(caps) else caps[i]
                for i in range(0, len(caps), 2)
            ]
        u = caps[0]
        return u if u[0] in ("Polygon", "MultiPolygon") else ("MultiPolygon", [])
    if t == "Polygon":
        from mundipy_spark.kernels import overlay

        ext = np.asarray(data[0], dtype=np.float64)
        if len(data) == 1 and not overlay.is_convex(ext) and len(ext) <= 256:
            # concave exterior: the offset curve self-intersects at
            # reflex corners and even-odd fill drops concave pockets —
            # build the EXACT buffer instead as P ∪ (capsule per edge),
            # each capsule convex, via Greiner–Hormann union
            return _buffer_ring_union(ext, dist, quad_segs)
        return ("Polygon", [_offset_ring(data[0], dist, quad_segs)] + [
            _offset_ring(h, -dist, quad_segs) for h in data[1:]
        ])
    if t == "MultiPolygon":
        return (
            "MultiPolygon",
            [buffer_planar(("Polygon", poly), dist, quad_segs)[1] for poly in data],
        )
    if t == "GeometryCollection":
        return (t, [buffer_planar(g, dist, quad_segs) for g in data])
    raise ValueError(t)


def _segment_capsule(p0, p1, dist: float, quad_segs: int) -> np.ndarray:
    """Convex hull of the two end circles = round-capped segment swept
    area (exact to arc discretization)."""
    hull = convex_hull(
        (
            "MultiPoint",
            np.vstack(
                [
                    _circle(p0[0], p0[1], dist, quad_segs)[:-1],
                    _circle(p1[0], p1[1], dist, quad_segs)[:-1],
                ]
            ),
        )
    )
    return hull[1][0]


def _buffer_ring_union(ring: np.ndarray, dist: float, quad_segs: int):
    """buffer(P, r) = P ∪ { capsule(edge, r) } — correct for arbitrary
    simple rings (dist(x, P) <= r  ⇔  x ∈ P or dist(x, ∂P) <= r)."""
    from mundipy_spark.kernels import overlay

    r = ring
    if np.allclose(r[0], r[-1]):
        body = r[:-1]
    else:
        body = r
        r = np.vstack([r, r[:1]])
    acc = ("Polygon", [r])
    for i in range(len(body)):
        cap = _segment_capsule(body[i], body[(i + 1) % len(body)], dist, quad_segs)
        acc = overlay.union(acc, ("Polygon", [cap]))
    return acc


def _map_polys(geom, fn):
    t, data = geom
    if t == "Polygon":
        return (t, fn(data))
    return (t, [fn(poly) for poly in data])


def buffer_m(geom, dist_m: float, quad_segs: int = QUAD_SEGS):
    """Meters buffer via the local-PCS sandwich (reference semantics:
    buffer is TRANSFORM_INPUT|RETURN_GEO, mundipy/geometry.py:83-87)."""
    minx, miny, maxx, maxy = wkb.bounds(geom)
    pad = max(dist_m / 111_000.0, 1e-9)  # expand bounds so PCS fits result
    name, fwd, inv = proj.local_projection(minx - pad, miny - pad, maxx + pad, maxy + pad)
    g = proj.transform_geom(geom, fwd)
    buffered = buffer_planar(g, dist_m, quad_segs)
    return proj.transform_geom(buffered, inv)


# --- validity ---------------------------------------------------------------------


def is_valid(geom) -> bool:
    """Rings closed, >=4 points, no self-intersections within a ring,
    holes inside their shell (GEOS "hole lies outside shell" — checked
    conservatively: a hole VERTEX strictly outside the shell ring is
    sufficient evidence; shared boundary points stay valid, matching
    GEOS's allowance of point touches). The hole check was added after
    tools/fuzz_campaign.py generated hole-pokes-outside-shell polygons
    that the old check called valid while shapely/GEOS call invalid.

    Not checked, so reported valid where GEOS reports invalid:
    - a hole edge that leaves a concave shell while all of the hole's
      vertices stay inside or on it;
    - nested shells (a MultiPolygon member inside another);
    - a hole inside another hole;
    - overlapping holes."""
    for rings in predicates._polygons_of(geom):
        for ring in rings:
            r = np.asarray(ring, dtype=np.float64)
            if len(r) < 4 or not np.allclose(r[0], r[-1]):
                return False
            segs = predicates._ring_segments(r)
            # check non-adjacent segment pairs for intersections
            n = len(segs)
            for i in range(n):
                a = segs[i : i + 1]
                nonadj = [j for j in range(i + 2, n) if not (i == 0 and j == n - 1)]
                if nonadj and predicates.segments_intersect_any(a, segs[nonadj]):
                    return False
        if len(rings) > 1:
            shell = ("Polygon", [np.asarray(rings[0], dtype=np.float64)])
            for hole in rings[1:]:
                h = np.asarray(hole, dtype=np.float64)
                if not predicates.points_in_geom(
                    h[:, 0], h[:, 1], shell, boundary=True
                ).all():
                    return False
    return True


def make_valid(geom):
    """Normalization: close rings, drop degenerate (<3 distinct pts) rings,
    enforce CCW exterior / CW holes. Self-intersections remain (the
    even-odd predicates tolerate them), matching the *effect* of the
    reference's lazy make_valid retry (mundipy/geometry.py:296-320).

    Holes escaping their shell (GEOS "hole lies outside shell", found
    by tools/fuzz_campaign.py) get a REAL repair: under this engine's
    even-odd interpretation the region of [shell, crossing-hole] IS
    the symmetric difference of the two ring regions, so the polygon
    is rebuilt as that xor via the overlay kernel on the (valid,
    single-ring) operands — the repaired geometry is valid AND
    point-set identical to what every even-odd kernel already
    computed for the raw rings. May therefore return a MultiPolygon
    for a Polygon input (like shapely's make_valid)."""
    t, data = geom
    if t == "Polygon":
        return _valid_polygon(_fix_rings(data))
    if t == "MultiPolygon":
        polys = []
        for poly in data:
            fixed = _fix_rings(poly)
            if not fixed:
                continue
            g = _valid_polygon(fixed)
            if g[0] == "Polygon":
                if g[1]:
                    polys.append(g[1])
            else:
                polys.extend(g[1])
        return ("MultiPolygon", polys)
    if t == "GeometryCollection":
        return (t, [make_valid(g) for g in data])
    return geom


def _valid_polygon(rings):
    """rings are closure/orientation-fixed; returns a geometry whose
    even-odd region equals theirs and whose holes lie inside their
    shell. Fast path: every hole vertex inside-or-on the shell (the
    valid case) — unchanged. Escaped holes rebuild as the xor of ring
    regions (see make_valid docstring); if that overlay itself
    degenerates, the normalized form is returned unchanged (the old,
    pre-repair behavior)."""
    if len(rings) <= 1:
        return ("Polygon", rings)
    shell = ("Polygon", [np.asarray(rings[0], dtype=np.float64)])
    escaped = False
    for hole in rings[1:]:
        h = np.asarray(hole, dtype=np.float64)
        if not predicates.points_in_geom(
            h[:, 0], h[:, 1], shell, boundary=True
        ).all():
            escaped = True
            break
    if not escaped:
        return ("Polygon", rings)
    from mundipy_spark.kernels import overlay

    acc = shell
    try:
        for hole in rings[1:]:
            ring = np.asarray(hole, dtype=np.float64)[::-1]  # back to CCW
            acc = overlay.overlay_op(
                acc, ("Polygon", [ring]), "symmetric_difference"
            )
            if acc is None:
                return ("MultiPolygon", [])
    except Exception:  # noqa: BLE001 — degenerate repair: keep old form
        return ("Polygon", rings)
    return acc


def _fix_rings(rings):
    out = []
    for i, ring in enumerate(rings):
        r = np.asarray(ring, dtype=np.float64)
        if len(r) and not np.allclose(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        if len(np.unique(r[:-1], axis=0)) < 3:
            continue
        a = measure.ring_area_planar(r)
        want_ccw = i == 0
        if (a < 0) == want_ccw:
            r = r[::-1]
        out.append(r)
    return out


# --- remaining dispatch-table surface ------------------------------------------
# Reference: boundary (geometry.py:89), representative_point (137),
# normalize (144), interpolate (135), minimum_rotated_rectangle (121)


def boundary(geom):
    """Polygon -> MultiLineString of rings; LineString -> MultiPoint of
    endpoints; Point -> empty collection (OGC boundary)."""
    t, data = geom
    if t == "Polygon":
        lines = [np.asarray(r, dtype=np.float64) for r in data]
        return ("MultiLineString", lines) if len(lines) != 1 else ("LineString", lines[0])
    if t == "MultiPolygon":
        lines = [np.asarray(r, dtype=np.float64) for poly in data for r in poly]
        return ("MultiLineString", lines)
    if t == "LineString":
        l = np.asarray(data, dtype=np.float64)
        if len(l) and np.allclose(l[0], l[-1]):
            return ("MultiPoint", np.empty((0, 2)))
        return ("MultiPoint", np.asarray([l[0], l[-1]]))
    if t == "MultiLineString":
        pts = []
        for l in data:
            l = np.asarray(l, dtype=np.float64)
            if len(l) and not np.allclose(l[0], l[-1]):
                pts += [l[0], l[-1]]
        return ("MultiPoint", np.asarray(pts) if pts else np.empty((0, 2)))
    return ("GeometryCollection", [])


def representative_point(geom):
    """A point guaranteed inside the geometry: centroid when it lands
    inside, else the midpoint of the widest interior interval of a
    horizontal scanline through the bbox middle (polygons), else the
    middle vertex."""
    t, _ = geom
    c = centroid_planar(geom)
    if t in ("Polygon", "MultiPolygon"):
        if predicates.points_in_geom(np.array([c[0]]), np.array([c[1]]), geom)[0]:
            return ("Point", c)
        minx, miny, maxx, maxy = wkb.bounds(geom)
        y = (miny + maxy) / 2.0
        # ray-scan: x-intersections of the scanline with all edges
        segs = predicates.geom_segments(geom)
        y1, y2 = segs[:, 1], segs[:, 3]
        hitmask = (y1 > y) != (y2 > y)
        if hitmask.any():
            s = segs[hitmask]
            xint = np.sort(
                (s[:, 2] - s[:, 0]) * (y - s[:, 1]) / (s[:, 3] - s[:, 1]) + s[:, 0]
            )
            if len(xint) >= 2:
                mids = (xint[:-1] + xint[1:]) / 2.0
                inside = predicates.points_in_geom(
                    mids, np.full(len(mids), y), geom
                )
                if inside.any():
                    widths = np.where(inside, xint[1:] - xint[:-1], -1.0)
                    i = int(np.argmax(widths))
                    return ("Point", np.array([mids[i], y]))
    v = predicates.geom_vertices(geom)
    if len(v):
        return ("Point", v[len(v) // 2])
    return ("Point", c)


def normalize(geom):
    """Canonical form: make_valid ring orientation + each ring rotated to
    start at its lexicographically smallest vertex; multi-part members
    sorted by their first vertex."""
    def rot(ring):
        r = np.asarray(ring, dtype=np.float64)
        if len(r) < 2:
            return r
        body = r[:-1] if np.allclose(r[0], r[-1]) else r
        i = int(np.lexsort((body[:, 1], body[:, 0]))[0])
        body = np.roll(body, -i, axis=0)
        return np.vstack([body, body[:1]])

    g = make_valid(geom)
    t, data = g
    if t == "Polygon":
        return (t, [rot(r) for r in data])
    if t == "MultiPolygon":
        polys = [[rot(r) for r in poly] for poly in data]
        polys.sort(key=lambda p: tuple(p[0][0]) if len(p) else ())
        return (t, polys)
    return g


def interpolate(geom, dist: float):
    """Point at distance `dist` along a LineString (planar units;
    callers wanting meters project first). Clamps to the ends; negative
    measures from the end (shapely semantics)."""
    t, data = geom
    if t != "LineString":
        raise ValueError("interpolate expects a LineString")
    l = np.asarray(data, dtype=np.float64)
    seg = np.sqrt(((l[1:] - l[:-1]) ** 2).sum(axis=1))
    total = seg.sum()
    d = dist if dist >= 0 else max(total + dist, 0.0)
    d = min(max(d, 0.0), total)
    cum = np.concatenate([[0.0], np.cumsum(seg)])
    i = int(np.searchsorted(cum, d, side="right") - 1)
    i = min(i, len(seg) - 1)
    f = 0.0 if seg[i] == 0 else (d - cum[i]) / seg[i]
    return ("Point", l[i] + f * (l[i + 1] - l[i]))


def line_project(geom, pt) -> float:
    """Inverse of interpolate: distance along the line of the closest
    point to pt (shapely `project`, reference geometry.py:139)."""
    t, data = geom
    if t != "LineString":
        raise ValueError("project expects a LineString")
    l = np.asarray(data, dtype=np.float64)
    px, py = float(pt[0]), float(pt[1])
    a, b = l[:-1], l[1:]
    d = b - a
    ln2 = (d ** 2).sum(axis=1)
    ln2s = np.where(ln2 == 0, 1.0, ln2)
    tt = np.clip(((px - a[:, 0]) * d[:, 0] + (py - a[:, 1]) * d[:, 1]) / ln2s, 0, 1)
    qx = a[:, 0] + tt * d[:, 0]
    qy = a[:, 1] + tt * d[:, 1]
    dist2 = (qx - px) ** 2 + (qy - py) ** 2
    i = int(np.argmin(dist2))
    seg = np.sqrt(ln2)
    cum = np.concatenate([[0.0], np.cumsum(seg)])
    return float(cum[i] + tt[i] * seg[i])


def minimum_rotated_rectangle(geom):
    """Smallest-area oriented bounding rectangle via rotating calipers
    over the convex hull (reference geometry.py:121)."""
    hull = convex_hull(geom)
    if hull[0] != "Polygon":
        return envelope(geom)
    ring = np.asarray(hull[1][0], dtype=np.float64)[:-1]
    best = None
    for i in range(len(ring)):
        e = ring[(i + 1) % len(ring)] - ring[i]
        ln = np.hypot(e[0], e[1])
        if ln == 0:
            continue
        ux, uy = e / ln
        R = np.array([[ux, uy], [-uy, ux]])
        rot = ring @ R.T
        minx, miny = rot.min(axis=0)
        maxx, maxy = rot.max(axis=0)
        area = (maxx - minx) * (maxy - miny)
        if best is None or area < best[0]:
            best = (area, R, minx, miny, maxx, maxy)
    _, R, minx, miny, maxx, maxy = best
    corners = np.array(
        [[minx, miny], [maxx, miny], [maxx, maxy], [minx, maxy], [minx, miny]]
    ) @ R
    return ("Polygon", [corners])


def minimum_clearance(geom) -> float:
    """Smallest distance a vertex can move to create invalidity: min over
    vertices of distance to any non-incident edge (and min vertex-vertex
    distance) — the practical GEOS definition for simple inputs
    (reference geometry.py:133)."""
    v = predicates.geom_vertices(geom)
    # drop duplicate closing vertices
    v = np.unique(v, axis=0)
    segs = predicates.geom_segments(geom)
    if len(v) < 2:
        return float("inf")
    best = np.inf
    # vertex-vertex
    for i in range(len(v)):
        d2 = ((v[i + 1 :] - v[i]) ** 2).sum(axis=1)
        if len(d2):
            best = min(best, float(np.sqrt(d2.min())))
    # vertex-to-nonincident-edge
    if len(segs):
        for i in range(len(v)):
            px, py = v[i]
            incident = (
                (np.isclose(segs[:, 0], px) & np.isclose(segs[:, 1], py))
                | (np.isclose(segs[:, 2], px) & np.isclose(segs[:, 3], py))
            )
            s = segs[~incident]
            if len(s):
                d = predicates.point_segs_min_dist(
                    np.array([px]), np.array([py]), s
                )[0]
                best = min(best, float(d))
    return best
