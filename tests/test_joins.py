"""Spatial join operators over Spark, incl. the reference's golden
coffeeshops x neighborhoods workload (reference tests/test_example.py:10-27)
run on the reference's own fixture data."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from mundipy_spark.functions import st
from mundipy_spark.kernels import tiling, wkb
from mundipy_spark.operators import joins
from mundipy_spark.sources.geojson import read_geojson
from tests.conftest import REFERENCE_FIXTURES

needs_fixtures = pytest.mark.skipif(
    not os.path.isdir(REFERENCE_FIXTURES), reason="reference fixtures not present"
)


@pytest.fixture(scope="module")
def la(spark):
    hoods = read_geojson(spark, f"{REFERENCE_FIXTURES}/los-angeles.geojson").select(
        "geometry", "name"
    )
    shops = read_geojson(spark, f"{REFERENCE_FIXTURES}/la_coffeeshops.geojson")
    shops = (
        shops.withColumn("lon", st.st_x("geometry"))
        .withColumn("lat", st.st_y("geometry"))
        .withColumn("shop_id", F.monotonically_increasing_id())
    )
    return hoods.cache(), shops.select("shop_id", "name", "lon", "lat").cache()


@needs_fixtures
def test_coffeeshops_golden(spark, la):
    """Port of the reference golden counts: 12 features out, exactly 2 in
    'North Hollywood', 1 named 'Philz Coffee'."""
    hoods, shops = la
    res = 10
    tagged = joins.tile_join_points(
        shops,
        hoods.withColumnRenamed("name", "neighborhood_name"),
        res=res,
        how="left",
    ).withColumn("neighborhood_name", F.coalesce("neighborhood_name", F.lit("none")))
    rows = tagged.collect()
    assert len(rows) == 12
    assert sum(1 for r in rows if r.neighborhood_name == "North Hollywood") == 2
    assert sum(1 for r in rows if r["name"] == "Philz Coffee") == 1


@needs_fixtures
def test_tile_join_matches_bruteforce(spark, la):
    """Every (shop, hood) intersects pair from the tile join equals the
    brute-force kernel answer — the coarse index must not lose matches."""
    hoods, shops = la
    got = {
        (r.shop_id, r.neighborhood_name)
        for r in joins.tile_join_points(
            shops, hoods.withColumnRenamed("name", "neighborhood_name"), res=9
        ).collect()
    }
    # brute force driver-side with the same kernels
    from mundipy_spark.kernels import predicates

    hood_rows = hoods.collect()
    shop_rows = shops.collect()
    expect = set()
    for h in hood_rows:
        g = wkb.loads(h.geometry)
        xs = np.array([s.lon for s in shop_rows])
        ys = np.array([s.lat for s in shop_rows])
        hit = predicates.points_in_geom(xs, ys, g)
        for s, isin in zip(shop_rows, hit):
            if isin:
                expect.add((s.shop_id, h.name))
    assert got == expect


@needs_fixtures
def test_knn_join_nearest_hood_centroid(spark, la):
    """kNN against neighborhood centroids: every shop gets exactly one
    nearest, matching a brute-force haversine argmin."""
    hoods, shops = la
    cent = hoods.withColumn("geometry", st.st_centroid("geometry")).select(
        st.st_x("geometry").alias("lon"),
        st.st_y("geometry").alias("lat"),
        F.col("name").alias("hood"),
    )
    got = joins.knn_join(
        shops, cent, k=1, probe_id="shop_id", start_res=7
    ).select("shop_id", "t_hood", "dist_m")
    rows = {r.shop_id: (r.t_hood, r.dist_m) for r in got.collect()}
    assert len(rows) == 12

    from mundipy_spark.kernels import proj

    cent_rows = cent.collect()
    for s in shops.collect():
        d = proj.haversine_m(
            np.full(len(cent_rows), s.lon),
            np.full(len(cent_rows), s.lat),
            np.array([c.lon for c in cent_rows]),
            np.array([c.lat for c in cent_rows]),
        )
        best = int(np.argmin(d))
        assert rows[s.shop_id][0] == cent_rows[best].hood, s["name"]
        assert rows[s.shop_id][1] == pytest.approx(float(d[best]), rel=1e-9)


def test_within_radius_join_selfpairs(spark):
    """Distance self-join on a small deterministic grid vs brute force."""
    import pandas as pd

    rng = np.random.default_rng(7)
    n = 120
    pdf = pd.DataFrame(
        {
            "pid": np.arange(n),
            "lon": rng.uniform(-118.5, -118.0, n),
            "lat": rng.uniform(33.8, 34.3, n),
        }
    )
    df = spark.createDataFrame(pdf)
    radius = 3000.0
    got = joins.within_radius_join(df, df, radius_m=radius)
    pairs = {(r.pid, r.r_pid) for r in got.collect()}

    from mundipy_spark.kernels import proj

    lon, lat = pdf.lon.to_numpy(), pdf.lat.to_numpy()
    expect = set()
    for i in range(n):
        d = proj.haversine_m(np.full(n, lon[i]), np.full(n, lat[i]), lon, lat)
        for j in np.nonzero(d <= radius)[0]:
            expect.add((i, int(j)))
    assert pairs == expect


def test_neighbors_expr_matches_kernel(spark):
    cells = [
        int(tiling.point_cell([179.9], [0.0], 8)[0]),  # antimeridian
        int(tiling.point_cell([0.0], [89.9], 8)[0]),  # pole
        int(tiling.point_cell([-118.2], [34.0], 8)[0]),
    ]
    df = spark.createDataFrame([(c,) for c in cells], "cell long")
    got = df.select(joins.neighbors_expr(F.col("cell"), 8, 1).alias("n")).collect()
    for row, c in zip(got, cells):
        assert sorted(row.n) == sorted(tiling.k_ring(c, 1).tolist())


def test_overlap_weighted_join(spark):
    """Catchment semantics: zone overlapping halves of two unit squares
    gets half of each weight (reference catchment-area.mdx:152-160)."""
    import pandas as pd

    def sq_wkb(x0, y0, s):
        ring = np.array(
            [[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s], [x0, y0]],
            dtype=float,
        )
        return wkb.dumps(("Polygon", [ring]))

    zones = spark.createDataFrame(
        pd.DataFrame({"zone_id": [1], "geometry": [sq_wkb(0.5, 0.0, 1.0)]})
    )
    regions = spark.createDataFrame(
        pd.DataFrame(
            {
                "geometry": [sq_wkb(0, 0, 1), sq_wkb(1, 0, 1), sq_wkb(5, 5, 1)],
                "pop": [100.0, 200.0, 999.0],
            }
        )
    )
    out = joins.overlap_weighted_join(zones, regions, "pop", res=8).collect()
    assert len(out) == 1
    assert out[0].weighted_pop == pytest.approx(150.0, rel=1e-3)


def test_salted_shuffle_join_matches_broadcast(spark):
    """The skew path (broadcast_index=False, salt>0) must produce the
    identical match set as the broadcast path — salting only spreads the
    shuffle keys."""
    from mundipy_spark.operators import geoparse
    from mundipy_spark.sources import pages as pages_src

    geo = geoparse.parse_geo_tokens(
        pages_src.synth_pages(spark, "/root/testdata/sf0.001")
    ).filter(F.col("lat").isNotNull())
    regions = pages_src.synth_regions(spark, step_deg=10.0)
    a = joins.tile_join_points(geo, regions, res=8, how="inner")
    b = joins.tile_join_points(
        geo, regions, res=8, how="inner", broadcast_index=False, salt=4
    )
    sa = {(r.url, r.region) for r in a.select("url", "region").collect()}
    sb = {(r.url, r.region) for r in b.select("url", "region").collect()}
    assert sa == sb and len(sa) > 0


def test_knn_iterative_matches_dense_k3(spark):
    """The cell-ring iterative path (dense_threshold=0) must agree with
    the map-only dense path for k=3 — same neighbors, same order."""
    import pandas as pd

    rng = __import__("numpy").random.default_rng(3)
    probes = spark.createDataFrame(
        pd.DataFrame(
            {
                "pid": range(40),
                "lon": rng.uniform(-170, 170, 40),
                "lat": rng.uniform(-80, 80, 40),
            }
        )
    )
    targets = spark.createDataFrame(
        pd.DataFrame(
            {
                "tid": range(25),
                "lon": rng.uniform(-170, 170, 25),
                "lat": rng.uniform(-80, 80, 25),
            }
        )
    )
    dense = joins.knn_join(probes, targets, k=3, probe_id="pid", tie_break=["t_tid"])
    iterative = joins.knn_join(
        probes, targets, k=3, probe_id="pid", tie_break=["t_tid"], dense_threshold=0,
        start_res=5,
    )
    d = {(r.pid, r.t_tid) for r in dense.collect()}
    i = {(r.pid, r.t_tid) for r in iterative.collect()}
    assert d == i
    assert len(d) == 40 * 3


def test_rasterize_vectorize_roundtrip(spark):
    """raster<->vector: coverage fractions of each region sum to the
    region's area in cells; vectorizing a full-cell class returns
    area-exact polygons."""
    from pyspark.sql import functions as F

    from mundipy_spark.functions import st
    from mundipy_spark.operators import raster
    from mundipy_spark.sources import pages as pages_src

    regions = pages_src.synth_regions(spark, step_deg=10.0).select("geometry", "region")
    cov = raster.rasterize(regions, res=5, keep=["region"])
    # sum(coverage) * cell_area == region area (100 deg^2) for every region
    sums = cov.groupBy("region").agg(F.sum("coverage").alias("s")).collect()
    cell_area = (360.0 / 64) * (180.0 / 32)  # nx_at(5)=64, ny_at(5)=32
    assert len(sums) == 648
    for r in sums:
        assert abs(r.s * cell_area - 100.0) < 1e-6, r

    # vectorize those cells back per region and compare planar areas:
    # cells clipped by coverage>=1 only (interior) -> area = n_full * cell_area
    full = cov.filter(F.col("coverage") >= 0.999999)
    out = raster.vectorize(full, res=5, class_col="region")
    got = out.withColumn("area", st.st_area_planar(F.col("geometry"))).collect()
    nfull = {r.region: r.n for r in full.groupBy("region").agg(F.count("*").alias("n")).collect()}
    for r in got:
        assert abs(r.area - nfull[r.region] * cell_area) < 1e-6


def test_tile_join_matches_brute_force_pip(spark):
    """Differential: the distributed tile join (cell cover, interior
    classification, bbox prefilter, Arrow PIP refine) must equal per-
    point brute-force PIP with the same predicate kernel — random
    concave polygons and random points, both join modes."""
    import numpy as np
    from pyspark.sql import functions as F

    from mundipy_spark.kernels import predicates, wkb as wkb_mod
    from mundipy_spark.operators import joins

    rng = np.random.default_rng(77)
    polys = []
    for i in range(12):
        cx, cy = rng.uniform(-60, 60, 2)
        nv = rng.integers(5, 11)
        ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
        rad = rng.uniform(2, 14, nv)  # star polygon: concave, simple
        ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
        ring = np.vstack([ring, ring[:1]])
        polys.append((wkb_mod.dumps(("Polygon", [ring])), f"p{i}", ("Polygon", [ring])))

    pts = [(int(i), float(x), float(y)) for i, (x, y) in enumerate(
        zip(rng.uniform(-80, 80, 400), rng.uniform(-80, 80, 400))
    )]
    pdf = spark.createDataFrame(pts, "pid long, lon double, lat double")
    poly_df = spark.createDataFrame(
        [(b, n) for b, n, _ in polys], "geometry binary, name string"
    )

    expected = set()
    for pid, x, y in pts:
        for _, name, geom in polys:
            if predicates.points_in_geom(np.array([x]), np.array([y]), geom)[0]:
                expected.add((pid, name))

    for res in (6, 8):
        got = {
            (r.pid, r.name)
            for r in joins.tile_join_points(pdf, poly_df, res=res, how="inner").collect()
        }
        assert got == expected, (res, got ^ expected)
        left = joins.tile_join_points(pdf, poly_df, res=res, how="left").collect()
        got_left = {(r.pid, r.name) for r in left if r.name is not None}
        assert got_left == expected
        # left semantics: every point appears; unmatched exactly once
        from collections import Counter

        per_pid = Counter(r.pid for r in left)
        matched_pids = {p for p, _ in expected}
        for pid, _, _ in pts:
            if pid not in matched_pids:
                assert per_pid[pid] == 1


def test_tile_join_left_salted_shuffle_matches_broadcast(spark):
    """how='left' on the shuffled+salted path must equal the broadcast
    path (salt replicates index rows; per-(cell,salt) candidate sets
    stay complete)."""
    import numpy as np

    from mundipy_spark.kernels import wkb as wkb_mod
    from mundipy_spark.operators import joins

    def rect(x0, y0, x1, y1):
        ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])
        return wkb_mod.dumps(("Polygon", [ring]))

    polys = spark.createDataFrame(
        [(rect(0, 0, 10, 10), "a"), (rect(5, 5, 15, 15), "b")],
        "geometry binary, name string",
    )
    rng = np.random.default_rng(11)
    pts = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(
            zip(rng.uniform(-5, 20, 200), rng.uniform(-5, 20, 200))
        )],
        "pid long, lon double, lat double",
    )
    base = {
        (r.pid, r.name)
        for r in joins.tile_join_points(pts, polys, res=6, how="left").collect()
    }
    salted = {
        (r.pid, r.name)
        for r in joins.tile_join_points(
            pts, polys, res=6, how="left", broadcast_index=False, salt=4
        ).collect()
    }
    assert base == salted


def test_knn_general_path_matches_numpy(spark):
    """General cell-ring kNN (target count above dense_threshold) vs
    numpy haversine ground truth — exercises the per-row guarantee
    radius and the residual fallback with an independent oracle."""
    import numpy as np
    import pandas as pd

    from mundipy_spark.kernels import proj
    from mundipy_spark.operators import joins

    rng = np.random.default_rng(21)
    nt, npx, k = 300, 120, 2
    t_lon = rng.uniform(-179, 179, nt)
    t_lat = rng.uniform(-85, 85, nt)
    p_lon = rng.uniform(-179, 179, npx)
    p_lat = rng.uniform(-85, 85, npx)
    targets = spark.createDataFrame(
        pd.DataFrame({"tid": range(nt), "lon": t_lon, "lat": t_lat})
    )
    probes = spark.createDataFrame(
        pd.DataFrame({"pid": range(npx), "lon": p_lon, "lat": p_lat})
    )
    out = joins.knn_join(
        probes, targets, k=k, probe_id="pid", tie_break=["t_tid"], start_res=5
    )
    got = {}
    for r in out.collect():
        got.setdefault(r.pid, []).append((r.dist_m, r.t_tid))
    assert len(got) == npx
    for pid in range(npx):
        d = proj.haversine_m(p_lon[pid], p_lat[pid], t_lon, t_lat)
        order = np.lexsort((np.arange(nt), d))[:k]
        expect = [int(i) for i in order]
        mine = [tid for _, tid in sorted(got[pid])]
        assert mine == expect, (pid, mine, expect)
        assert len(got[pid]) == k


def test_within_distance_geom_join_matches_bruteforce(spark):
    """Point-vs-POLYGON within-distance join (reference Dataset.within
    against arbitrary layers) vs driver-side brute force with the same
    distance kernel — random polys/points, inside points at dist 0."""
    import numpy as np
    from pyspark.sql import functions as F

    from mundipy_spark.kernels import measure, predicates, wkb as wkb_mod
    from mundipy_spark.operators import joins

    rng = np.random.default_rng(9)
    polys = []
    for i in range(8):
        cx, cy = rng.uniform(-50, 50, 2)
        nv = rng.integers(5, 9)
        ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
        rad = rng.uniform(1, 6, nv)
        ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
        ring = np.vstack([ring, ring[:1]])
        polys.append((wkb_mod.dumps(("Polygon", [ring])), f"g{i}", ("Polygon", [ring])))
    pts = [(int(i), float(x), float(y)) for i, (x, y) in enumerate(
        zip(rng.uniform(-60, 60, 150), rng.uniform(-60, 60, 150))
    )]
    R = 300_000.0  # 300 km

    pdf = spark.createDataFrame(pts, "pid long, lon double, lat double")
    poly_df = spark.createDataFrame(
        [(b, n) for b, n, _ in polys], "geometry binary, name string"
    )
    out = joins.within_distance_geom_join(pdf, poly_df, R, point_id="pid")
    got = {(r.pid, r.name) for r in out.collect()}

    expected = set()
    for pid, x, y in pts:
        for _, name, geom in polys:
            inside = predicates.points_in_geom(np.array([x]), np.array([y]), geom)[0]
            d = 0.0 if inside else measure.geom_distance_m(
                ("Point", np.array([x, y])), geom
            )
            if d <= R:
                expected.add((pid, name))
    assert got == expected, (got ^ expected)
    # inside points report dist 0
    zero = {r.pid for r in out.collect() if r.dist_m == 0.0}
    ins = {
        pid for pid, x, y in pts
        for _, name, geom in polys
        if predicates.points_in_geom(np.array([x]), np.array([y]), geom)[0]
    }
    assert ins <= zero | set()


def test_st_relate_spark_surface(spark):
    """st_relate returns the DE-9IM matrix per pair through the Arrow
    UDF path, matching the kernel (reference geometry.py:141)."""
    from pyspark.sql import functions as F

    from mundipy_spark.functions import st
    from mundipy_spark.kernels import predicates, wkb

    def rect(x0, y0, x1, y1):
        return (
            "Polygon",
            [np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], float)],
        )

    pairs = [
        (rect(0, 0, 2, 1), rect(2, 0, 3, 1)),
        (rect(0, 0, 2, 1), rect(1, 0, 3, 1)),
        (("Point", np.array([0.5, 0.5])), rect(0, 0, 1, 1)),
        (("LineString", np.array([[-1.0, 0.5], [3.0, 0.5]])), rect(0, 0, 1, 1)),
    ]
    rows = [(wkb.dumps(a), wkb.dumps(b)) for a, b in pairs]
    df = spark.createDataFrame(rows, "a binary, b binary")
    got = [r.m for r in df.select(st.st_relate(F.col("a"), F.col("b")).alias("m")).collect()]
    want = [predicates.relate(a, b) for a, b in pairs]
    assert got == want
    assert got[0] == "FF2F11212" and got[3] == "101FF0212"


# ---------------------------------------------------------------------------
# plan shape: each refine kernel runs once per candidate, on every core
# ---------------------------------------------------------------------------


def _final_plan(df) -> list[str]:
    """Lines of the executed (final AQE) plan of a collected DataFrame."""
    qe = df._jdf.queryExecution().executedPlan()
    if qe.nodeName() == "AdaptiveSparkPlan":
        qe = qe.executedPlan()
    return qe.treeString().splitlines()


def _python_nodes(lines: list[str], udf_name: str) -> int:
    return sum(1 for ln in lines if "ArrowEvalPython" in ln and f"{udf_name}(" in ln)


def _dedup_exchanges(lines: list[str], keys: tuple[str, str]) -> list[str]:
    return [
        ln for ln in lines
        if "Exchange hashpartitioning(" in ln and all(f"{k}#" in ln for k in keys)
    ]


def _sq_wkb(x0, y0, s):
    ring = np.array(
        [[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s], [x0, y0]], dtype=float
    )
    return wkb.dumps(("Polygon", [ring]))


def _overlap_inputs(spark):
    import pandas as pd

    zones = spark.createDataFrame(
        pd.DataFrame(
            {
                "zone_id": [1, 2, 3],
                "geometry": [_sq_wkb(0.5, 0, 1), _sq_wkb(3, 3, 2), _sq_wkb(9, 9, 1)],
            }
        )
    )
    regions = spark.createDataFrame(
        pd.DataFrame(
            {
                "geometry": [
                    _sq_wkb(0, 0, 1), _sq_wkb(1, 0, 1), _sq_wkb(4, 4, 1), _sq_wkb(20, 20, 1)
                ],
                "pop": [100.0, 200.0, 50.0, 999.0],
            }
        )
    )
    return zones, regions


def _within_inputs(spark):
    # pid 0 inside "a", pid 1 on the edge of "b"; every other pair is
    # more than 1.5 deg (~167 km) apart
    pts = spark.createDataFrame(
        [(0, 0.5, 0.5), (1, 3.0, 0.5), (2, 40.0, 40.0)], "pid long, lon double, lat double"
    )
    polys = spark.createDataFrame(
        [(_sq_wkb(0, 0, 1), "a"), (_sq_wkb(2, 0, 1), "b")], "geometry binary, name string"
    )
    return pts, polys


def test_overlap_join_evaluates_area_kernel_once(spark):
    """One ArrowEvalPython for the ∩-area kernel (a `> 0` filter pushed
    below its projection would copy it), with the `> 0` filter above
    it, fed by a REPARTITION_BY_NUM dedup exchange that AQE does not
    coalesce."""
    out = joins.overlap_weighted_join(*_overlap_inputs(spark), "pop", res=8)
    got = {r.zone_id: r.weighted_pop for r in out.collect()}
    assert got == pytest.approx({1: 150.0, 2: 50.0})
    lines = _final_plan(out)
    assert _python_nodes(lines, "st_intersection_area_planar") == 1
    assert any("Filter" in ln and "> 0.0)" in ln for ln in lines)
    npart = spark.sparkContext.defaultParallelism
    ex = _dedup_exchanges(lines, ("zone_id", "_rid"))
    assert len(ex) == 1 and "REPARTITION_BY_NUM" in ex[0] and f", {npart})" in ex[0]


def test_within_distance_join_evaluates_distance_kernel_once(spark):
    pts, polys = _within_inputs(spark)
    out = joins.within_distance_geom_join(pts, polys, 150_000.0, point_id="pid")
    assert {(r.pid, r.name, r.dist_m) for r in out.collect()} == {(0, "a", 0.0), (1, "b", 0.0)}
    lines = _final_plan(out)
    assert _python_nodes(lines, "st_point_geom_dist_m") == 1
    npart = spark.sparkContext.defaultParallelism
    ex = _dedup_exchanges(lines, ("pid", "_gid"))
    assert len(ex) == 1 and "REPARTITION_BY_NUM" in ex[0] and f", {npart})" in ex[0]


def test_rasterize_evaluates_each_udf_once(spark):
    from mundipy_spark.operators import raster
    from mundipy_spark.sources import pages as pages_src

    regions = pages_src.synth_regions(spark, step_deg=30.0).select("geometry", "region")
    cov = raster.rasterize(regions, res=4, keep=["region"])
    rows = cov.collect()
    assert rows and all(r.coverage > 0.0 for r in rows)
    lines = _final_plan(cov)
    assert _python_nodes(lines, "st_intersection_area_planar") == 1
    assert _python_nodes(lines, "st_geomfromtext") == 1


def test_registered_kernels_stay_deterministic(spark):
    """The joins evaluate private nondeterministic copies of the area
    and distance kernels; the shared st.* UDFs, and plans built from
    them afterwards (DataFrame and SQL), stay deterministic, so
    Catalyst may still push filters through them."""
    joins.overlap_weighted_join(*_overlap_inputs(spark), "pop", res=8).collect()
    pts, polys = _within_inputs(spark)
    joins.within_distance_geom_join(pts, polys, 150_000.0, point_id="pid").collect()
    assert st.st_intersection_area_planar.deterministic
    assert st.st_point_geom_dist_m.deterministic
    df = spark.createDataFrame(
        [(_sq_wkb(0, 0, 1), _sq_wkb(0.5, 0, 1), 0.5, 0.5)],
        "a binary, b binary, lon double, lat double",
    )
    fresh = df.select(
        st.st_intersection_area_planar(F.col("a"), F.col("b")).alias("ia"),
        st.st_point_geom_dist_m(F.col("lon"), F.col("lat"), F.col("a")).alias("d"),
    )
    proj = fresh._jdf.queryExecution().analyzed().expressions()
    assert proj.size() == 2
    assert all(proj.apply(i).deterministic() for i in range(proj.size()))
    st.register_sql(spark)
    df.createOrReplaceTempView("_det_pairs")
    sql = spark.sql("SELECT st_intersection_area_planar(a, b) AS ia FROM _det_pairs")
    assert sql._jdf.queryExecution().analyzed().expressions().apply(0).deterministic()
    assert sql.collect()[0].ia == pytest.approx(0.5)


def test_jvm_tile_join_is_one_conditional_broadcast_join(spark):
    """On a sparse refine="jvm" layer both join types are a single
    BroadcastHashJoin whose condition carries the refine; the left join
    regroups nothing per cell and runs no higher-order function."""
    from mundipy_spark.sources import pages as pages_src

    layer = pages_src.synth_regions(spark, step_deg=10.0)
    idx = joins.tile_index(layer, res=6, refine="jvm")
    assert joins._index_maxk(idx) <= joins.UNROLL_CAP
    rng = np.random.default_rng(19)
    rows = [
        (int(i), float(x), float(y))
        for i, (x, y) in enumerate(zip(rng.uniform(-179, 179, 400), rng.uniform(-89, 89, 400)))
    ]
    # plus one probe with null lon/lat
    pts = spark.createDataFrame(rows + [(400, None, None)], "pid long, lon double, lat double")
    for how, kind in (("left", "LeftOuter"), ("inner", "Inner")):
        out = joins.tile_join_points(pts, layer, res=6, how=how, index=idx)
        got = {r.pid for r in out.collect()}
        assert (400 in got) == (how == "left")
        lines = _final_plan(out)
        bhj = [ln for ln in lines if "BroadcastHashJoin" in ln]
        assert len(bhj) == 1, bhj
        assert f", {kind}, " in bhj[0] and "segs#" in bhj[0] and "cell_full#" in bhj[0]
        plan = "\n".join(lines)
        for absent in ("ObjectHashAggregate", "collect_list", "filter(", "transform("):
            assert absent not in plan, (how, absent)


def test_tile_join_rejects_point_columns_shared_with_polygons(spark):
    """A polygon layer carrying lon/lat label-point columns: the default
    call names the shared columns and points to poly_cols=; with
    poly_cols=["name"] both join types match a brute-force oracle."""
    polys = spark.createDataFrame(
        [(_sq_wkb(0, 0, 10), "A", 5.0, 5.0), (_sq_wkb(10, 0, 10), "B", 15.0, 5.0)],
        "geometry binary, name string, lon double, lat double",
    )
    rng = np.random.default_rng(29)
    xs = np.append(rng.uniform(-5, 25, 300), [10.0, 0.0])  # shared edge, corner
    ys = np.append(rng.uniform(-5, 15, 300), [5.0, 0.0])
    pts = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(zip(xs, ys))],
        "pid long, lon double, lat double",
    )
    want = set()
    for pid, (x, y) in enumerate(zip(xs, ys)):
        for name, x0 in (("A", 0.0), ("B", 10.0)):
            if x0 <= x <= x0 + 10 and 0 <= y <= 10:
                want.add((pid, name))
    assert (300, "A") in want and (300, "B") in want
    for how in ("inner", "left"):
        with pytest.raises(ValueError, match=r"\['lon', 'lat'\].*poly_cols="):
            joins.tile_join_points(pts, polys, res=6, how=how)
        out = joins.tile_join_points(pts, polys, res=6, how=how, poly_cols=["name"])
        assert out.columns == ["pid", "lon", "lat", "name"]
        rows = out.collect()
        assert {(r.pid, r.name) for r in rows if r.name is not None} == want
        untagged = sorted(r.pid for r in rows if r.name is None)
        expect_untagged = sorted(set(range(len(xs))) - {p for p, _ in want})
        assert untagged == (expect_untagged if how == "left" else [])


# ---------------------------------------------------------------------------
# Arrow refine by polygon id: no WKB in the broadcast or on the Arrow wire
# ---------------------------------------------------------------------------


def _plan_nodes(df) -> list:
    """JVM nodes of the executed (final AQE) plan, query stages opened."""
    stack, out = [df._jdf.queryExecution().executedPlan()], []
    while stack:
        n = stack.pop()
        kind = n.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(n.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(n.plan())
            continue
        out.append(n)
        ch = n.children()
        stack.extend(ch.apply(i) for i in range(ch.size()))
    return out


def _types(exprs) -> list[str]:
    return [exprs.apply(i).dataType().simpleString() for i in range(exprs.size())]


def _dense_layer(spark, names=("D0", "D1", "D2"), centers=None):
    import pandas as pd

    from tests.test_jvm_refine import _jagged_star

    rng = np.random.default_rng(31)
    centers = centers or [(10.3, 20.2), (12.1, 20.9), (-40.6, -5.3)][: len(names)]
    star = {c: _jagged_star(rng, *c) for c in dict.fromkeys(centers)}
    rings = [star[c] for c in centers]
    polys = spark.createDataFrame(
        pd.DataFrame(
            {"region": list(names), "geometry": [wkb.dumps(("Polygon", [r])) for r in rings]}
        )
    )
    xs, ys = [], []
    for r in rings:
        lo, hi = r.min(axis=0), r.max(axis=0)
        xs.append(rng.uniform(lo[0] - 0.1, hi[0] + 0.1, 400))
        ys.append(rng.uniform(lo[1] - 0.1, hi[1] + 0.1, 400))
        xs.append(r[:-1:8, 0])  # exact vertices
        ys.append(r[:-1:8, 1])
    xs, ys = np.concatenate(xs), np.concatenate(ys)
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": np.arange(len(xs)), "lon": xs, "lat": ys})
    )
    return polys, pts, rings, xs, ys


def _dense_want(rings, names, xs, ys):
    from tests.test_jvm_refine import _covers_oracle

    return {
        (int(p), name)
        for r, name in zip(rings, names)
        for p in np.nonzero(_covers_oracle(r, xs, ys))[0]
    }


def _check_tagging(out, how, want, n_points):
    rows = out.select("pid", "region").collect()
    assert {(r.pid, r.region) for r in rows if r.region is not None} == want, how
    untagged = sorted(r.pid for r in rows if r.region is None)
    expect = sorted(set(range(n_points)) - {p for p, _ in want}) if how == "left" else []
    assert untagged == expect, how


def test_arrow_tile_join_ships_polygon_ids_not_wkb(spark):
    """On a dense layer (Arrow refine) neither the broadcast index nor
    the refine UDF's input carries a binary column, for inner and left
    joins: each polygon reaches Python once, in the join's broadcast
    polygon table, and the candidates carry its 64-bit id."""
    names = ("D0", "D1", "D2")
    polys, pts, rings, xs, ys = _dense_layer(spark, names)
    want = _dense_want(rings, names, xs, ys)
    for how, udf in (("inner", "st_point_in_geom"), ("left", "st_points_in_geoms")):
        out = joins.tile_join_points(pts, polys, res=8, how=how)
        _check_tagging(out, how, want, len(xs))
        nodes = _plan_nodes(out)
        bx = [n for n in nodes if n.nodeName() == "BroadcastExchange"]
        # the index build's own cover UDFs read the WKB; the refine's
        # ArrowEvalPython is the one over the join's candidates
        py = [
            n.udfs().apply(0) for n in nodes
            if n.nodeName() == "ArrowEvalPython" and udf in n.udfs().apply(0).name()
        ]
        assert bx and len(py) == 1, how
        for n in bx:
            assert not any("binary" in t for t in _types(n.output())), how
        assert not any("binary" in t for t in _types(py[0].children())), how


def test_arrow_tile_join_tags_every_row_sharing_a_wkb(spark):
    """Two layer rows with the same WKB and different names share one
    polygon id; both names are tagged, on the built and on a prebuilt
    Arrow index, for inner and left joins."""
    names = ("A", "B")
    polys, pts, rings, xs, ys = _dense_layer(spark, names, [(10.3, 20.2)] * 2)
    assert polys.select("geometry").distinct().count() == 1
    want = _dense_want(rings, names, xs, ys)
    assert {n for _, n in want} == {"A", "B"}
    idx = joins.tile_index(polys, res=8)
    for how in ("inner", "left"):
        for index in (None, idx):
            out = joins.tile_join_points(pts, polys, res=8, how=how, index=index)
            _check_tagging(out, how, want, len(xs))


def test_arrow_tile_join_skips_null_geometry_rows(spark):
    """A layer row with a null geometry matches no point, on the built
    and on a prebuilt Arrow index, for inner and left joins."""
    names = ("D0", "D1")
    polys, pts, rings, xs, ys = _dense_layer(spark, names)
    polys = polys.unionByName(spark.createDataFrame([("N", None)], "region string, geometry binary"))
    want = _dense_want(rings, names, xs, ys)
    idx = joins.tile_index(polys, res=8)
    for how in ("inner", "left"):
        for index in (None, idx):
            out = joins.tile_join_points(pts, polys, res=8, how=how, index=index)
            _check_tagging(out, how, want, len(xs))


def test_polygon_table_rejects_id_collisions(spark):
    """The table builder keeps one blob per id, skips null blobs, and
    raises on two distinct blobs given one id; an id missing from the
    table raises in the kernel instead of reading as outside."""
    a, b = _sq_wkb(0, 0, 1), _sq_wkb(5, 5, 1)
    assert st.polygon_table([(7, a), (7, a), (8, b), (9, None)]) == {7: a, 8: b}
    with pytest.raises(ValueError, match="share the id 7"):
        st.polygon_table([(7, a), (7, b)])
    table = spark.sparkContext.broadcast({7: a})
    xs, ys = np.array([0.5, 3.0]), np.array([0.5, 3.0])
    got = st._pip_by_id(xs, ys, np.array([7, 7], dtype=np.int64), table)
    assert got.tolist() == [True, False]
    with pytest.raises(KeyError, match="polygon id 8"):
        st._pip_by_id(xs, ys, np.array([7, 8], dtype=np.int64), table)
    with pytest.raises(TypeError, match="int64"):
        st._pip_by_id(xs, ys, np.array([7.0, 7.0]), table)
