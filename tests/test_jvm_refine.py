"""JVM-expression PIP refinement (tile_index(refine="jvm")) equivalence
and plan shape.

The JVM path must be indistinguishable from the Arrow-kernel path on
every layer shape the engine supports — rectangles, triangles, concave
stars, polygons with holes, lines (edge-only semantics) — including
probe points that sit exactly ON polygon edges/vertices (covers
semantics via the 1e-9 on-edge test). Reference parity target:
mundipy/dataset.py:100,109 (coarse filter + shapely exact refine).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mundipy_spark.kernels import wkb
from mundipy_spark.operators import joins
from mundipy_spark.sources import pages as pages_src


def _star(rng, cx, cy, n=12, r0=2.0, r1=9.0):
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = rng.uniform(r0, r1, n)
    ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    return ("Polygon", [np.vstack([ring, ring[:1]])])


def _layers(spark):
    rng = np.random.default_rng(7)
    layers = {
        "rect": pages_src.synth_regions(spark, step_deg=10.0),
        "tri": pages_src.synth_regions(spark, step_deg=10.0, triangles=True),
    }
    rows = [
        {
            "region": f"S{i}",
            "geometry": wkb.dumps(
                _star(rng, rng.uniform(-150, 150), rng.uniform(-70, 70))
            ),
            "pop": 1.0,
        }
        for i in range(8)
    ]
    outer = np.array([[0, 0], [20, 0], [20, 20], [0, 20], [0, 0]], float)
    hole = np.array([[5, 5], [15, 5], [15, 15], [5, 15], [5, 5]], float)
    rows.append(
        {"region": "HOLE", "geometry": wkb.dumps(("Polygon", [outer, hole])), "pop": 1.0}
    )
    layers["star_hole"] = spark.createDataFrame(pd.DataFrame(rows))
    lrows = [
        {
            "region": f"L{i}",
            "geometry": wkb.dumps(
                ("LineString", np.array([[i * 10 - 100, -50], [i * 10 - 95, 60]], float))
            ),
            "pop": 1.0,
        }
        for i in range(5)
    ]
    layers["line"] = spark.createDataFrame(pd.DataFrame(lrows))
    return layers


def _points(spark):
    rng = np.random.default_rng(11)
    n = 4000
    pts = pd.DataFrame(
        {
            "pid": np.arange(n),
            "lon": rng.uniform(-179.9, 179.9, n).round(4),
            "lat": rng.uniform(-89.9, 89.9, n).round(4),
        }
    )
    # exactly on rect-grid edges, vertices, and a line vertex: the
    # covers-semantics knife edges
    extra = pd.DataFrame(
        {
            "pid": np.arange(n, n + 6),
            "lon": [-180.0, -170.0, -165.0, -100.0, -97.5, 0.0],
            "lat": [-90.0, -80.0, -85.0, -50.0, 5.0, 0.0],
        }
    )
    return spark.createDataFrame(pd.concat([pts, extra], ignore_index=True))


@pytest.mark.parametrize("how", ["inner", "left"])
def test_jvm_refine_matches_arrow(spark, how):  # noqa: F811
    pdf = _points(spark)
    for name, layer in _layers(spark).items():
        ia = joins.tile_index(layer, res=6, refine="arrow")
        ij = joins.tile_index(layer, res=6, refine="jvm")
        a = (
            joins.tile_join_points(pdf, layer, res=6, how=how, index=ia)
            .select("pid", "region")
            .orderBy("pid", "region")
            .toPandas()
        )
        j = (
            joins.tile_join_points(pdf, layer, res=6, how=how, index=ij)
            .select("pid", "region")
            .orderBy("pid", "region")
            .toPandas()
        )
        assert a.equals(j), f"layer={name} how={how}: jvm != arrow"


def test_jvm_refine_probe_plan_has_no_python(spark):  # noqa: F811
    """The whole point of refine="jvm": once the (build-side) index is
    materialized, the probe plan contains ZERO Python nodes — the PIP
    refinement is a flat codegen expression in the join stage."""
    layer = pages_src.synth_regions(spark, step_deg=10.0)
    idx = joins.tile_index(layer, res=6, refine="jvm").persist()
    idx.count()
    pdf = _points(spark)
    out = joins.tile_join_points(pdf, layer, res=6, how="inner", index=idx).groupBy(
        "region"
    ).count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the only allowed Python nodes are inside the cached index build
    # (InMemoryTableScan replays no Python); the probe side must be free
    probe = plan.split("InMemoryRelation")[0]
    assert "ArrowEvalPython" not in probe
    assert "pythonUDF" not in probe
    # geometry/WKB never ships: the jvm index dropped the column
    assert "geometry" not in idx.columns
    idx.unpersist()


def test_jvm_index_schema_and_maxk(spark):  # noqa: F811
    layer = pages_src.synth_regions(spark, step_deg=10.0)
    idx = joins.tile_index(layer, res=6, refine="jvm")
    for c in ("nring", "bpar", "segs", "cell", "cell_full", "minx"):
        assert c in idx.columns
    k = joins._index_maxk(idx)
    assert 1 <= k <= 8  # rect grid keeps 1-3 segments per boundary cell


def test_dense_prebuilt_jvm_index_uses_hof_fallback(spark):
    """A prebuilt refine="jvm" index denser than UNROLL_CAP must still
    answer exactly (HOF-aggregate fallback), and the DEFAULT build for
    such a layer must auto-select the Arrow index instead (the
    los-angeles fixture at res 10 keeps ~hundreds of segments per
    boundary cell: real-polygon density, reference tests/fixtures)."""
    import os

    fix = "/root/reference/tests/fixtures/los-angeles.geojson"
    if not os.path.exists(fix):
        pytest.skip("reference fixtures unavailable")
    from mundipy_spark.sources.geojson import read_geojson

    hoods = read_geojson(spark, fix).withColumnRenamed("name", "region")
    pts = _points(spark).filter(
        (F.col("lon") > -119) & (F.col("lon") < -117)
        & (F.col("lat") > 33) & (F.col("lat") < 35)
    )
    ij = joins.tile_index(hoods, res=10, refine="jvm").persist()
    assert joins._index_maxk(ij) > joins.UNROLL_CAP
    ia = joins.tile_index(hoods, res=10, refine="arrow").persist()
    a = (
        joins.tile_join_points(pts, hoods, res=10, how="inner", index=ia)
        .select("pid", "region").orderBy("pid", "region").toPandas()
    )
    j = (
        joins.tile_join_points(pts, hoods, res=10, how="inner", index=ij)
        .select("pid", "region").orderBy("pid", "region").toPandas()
    )
    assert a.equals(j)
    # default build on the dense layer silently picks the Arrow index
    d = (
        joins.tile_join_points(pts, hoods, res=10, how="inner")
        .select("pid", "region").orderBy("pid", "region").toPandas()
    )
    assert a.equals(d)
    ij.unpersist(); ia.unpersist()


def test_invalid_multipolygon_falls_back_to_arrow(spark):
    """An INVALID multipolygon with overlapping member interiors is the
    one layer where the refine path's XOR parity diverges from
    points_in_geom's OR-across-polygons (points covered by BOTH members
    would report outside). st_cell_refine flags such geometries with an
    nring=-1 sentinel; the default join path must fall back to the
    Arrow index, and using the unsafe index explicitly must raise."""
    import numpy as np

    sq = lambda x0, y0, x1, y1: np.array(  # noqa: E731
        [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], float
    )
    # members [0,20]^2 and [10,10]-[30,30]: overlap region [10,20]^2
    bad = ("MultiPolygon", [[sq(0, 0, 20, 20)], [sq(10, 10, 30, 30)]])
    polys = spark.createDataFrame(
        pd.DataFrame([{"region": "BAD", "geometry": wkb.dumps(bad), "pop": 1.0}])
    )
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "pid": [0, 1, 2, 3],
                "lon": [15.0, 5.0, 25.0, 40.0],  # overlap, A-only, B-only, out
                "lat": [15.0, 5.0, 25.0, 40.0],
            }
        )
    )
    got = (
        joins.tile_join_points(pts, polys, res=4, poly_cols=["region"])
        .select("pid")
        .toPandas()["pid"]
        .tolist()
    )
    # OR semantics: the double-covered point 0 MUST match
    assert sorted(got) == [0, 1, 2]

    # the explicit jvm index refuses to be probed
    import pytest as _pytest

    idx = joins.tile_index(polys, res=4, keep=["region"], refine="jvm")
    with _pytest.raises(ValueError, match="overlapping member interiors"):
        joins._index_maxk(idx)

    # a VALID multipolygon (touching members) keeps the jvm fast path
    ok = ("MultiPolygon", [[sq(0, 0, 10, 10)], [sq(10, 0, 20, 10)]])
    vpolys = spark.createDataFrame(
        pd.DataFrame([{"region": "OK", "geometry": wkb.dumps(ok), "pop": 1.0}])
    )
    vidx = joins.tile_index(vpolys, res=4, keep=["region"], refine="jvm")
    maxk, unsafe = joins._index_probe(vidx)
    assert not unsafe and maxk > 0


def _jagged_star(rng, cx, cy, n=256, r0=0.25, r1=1.1):
    """n-vertex jagged star: simple (one vertex per angular slot) and
    concave; at the defaults all 256 edges squeeze into a few res-8
    cells."""
    ang = 2 * np.pi * (np.arange(n) + rng.uniform(0.05, 0.95, n)) / n
    rad = rng.uniform(r0, r1, n)
    ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    return np.vstack([ring, ring[:1]])


def _covers_oracle(ring, xs, ys, eps=1e-9):
    """Even-odd crossing parity plus distance-to-edge <= eps (covers
    semantics), numpy only."""
    x0, y0, x1, y1 = ring[:-1, 0], ring[:-1, 1], ring[1:, 0], ring[1:, 1]
    px, py = xs[:, None], ys[:, None]
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x1 - x0) * (py - y0) / (y1 - y0) + x0
        crosses = ((y0 > py) != (y1 > py)) & (px < xint)
        dx, dy = x1 - x0, y1 - y0
        t = np.clip(((px - x0) * dx + (py - y0) * dy) / (dx * dx + dy * dy), 0.0, 1.0)
    d2 = (px - x0 - t * dx) ** 2 + (py - y0 - t * dy) ** 2
    return (crosses.sum(axis=1) % 2 == 1) | (d2 <= eps * eps).any(axis=1)


def test_unrolled_refine_accepts_points_on_slanted_edges(spark):
    """Edge midpoints and vertices of 12-vertex stars (slanted edges
    several degrees long) are covered on the unrolled JVM refine path,
    as on the Arrow path and in the numpy oracle."""
    rng = np.random.default_rng(3)
    rings = [
        _jagged_star(rng, cx, cy, n=12, r0=2.0, r1=9.0)
        for cx, cy in ((10.3, 20.2), (-40.6, -5.3), (100.1, 40.7))
    ]
    polys = spark.createDataFrame(
        pd.DataFrame(
            {
                "region": [f"S{i}" for i in range(len(rings))],
                "geometry": [wkb.dumps(("Polygon", [r])) for r in rings],
            }
        )
    )
    xs = np.concatenate([(r[1:, 0] + r[:-1, 0]) / 2 for r in rings] + [r[:-1, 0] for r in rings])
    ys = np.concatenate([(r[1:, 1] + r[:-1, 1]) / 2 for r in rings] + [r[:-1, 1] for r in rings])
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": np.arange(len(xs)), "lon": xs, "lat": ys})
    )
    want = {
        (int(p), f"S{i}")
        for i, r in enumerate(rings)
        for p in np.nonzero(_covers_oracle(r, xs, ys))[0]
    }
    assert len(want) == len(xs)
    for refine in ("jvm", "arrow"):
        idx = joins.tile_index(polys, res=6, refine=refine)
        if refine == "jvm":
            assert joins._index_maxk(idx) <= joins.UNROLL_CAP
        got = joins.tile_join_points(pts, polys, res=6, index=idx)
        assert {(r.pid, r.region) for r in got.collect()} == want, refine


def test_dense_layer_tile_join_matches_oracle(spark):
    """Dense layer (256-vertex stars at res 8, far above UNROLL_CAP
    segments per boundary cell): the default tile join picks the Arrow
    index for inner and left joins, a prebuilt refine="jvm" index takes
    the HOF-aggregate refine for both, and all four match a numpy covers
    oracle, including probes on exact vertices and on edges; a probe
    with null lon/lat comes out of a left join once, untagged."""
    rng = np.random.default_rng(23)
    rings = [
        _jagged_star(rng, cx, cy) for cx, cy in ((10.3, 20.2), (12.1, 20.9), (-40.6, -5.3))
    ]
    polys = spark.createDataFrame(
        pd.DataFrame(
            {
                "region": [f"D{i}" for i in range(len(rings))],
                "geometry": [wkb.dumps(("Polygon", [r])) for r in rings],
            }
        )
    )
    xs, ys = [], []
    for r in rings:
        lo, hi = r.min(axis=0), r.max(axis=0)
        xs.append(rng.uniform(lo[0] - 0.1, hi[0] + 0.1, 600))
        ys.append(rng.uniform(lo[1] - 0.1, hi[1] + 0.1, 600))
        xs.append(r[:-1:4, 0])  # exact vertices
        ys.append(r[:-1:4, 1])
        mid = (r[1::4] + r[:-1:4]) / 2.0  # on edges
        xs.append(mid[:, 0])
        ys.append(mid[:, 1])
    xs, ys = np.concatenate(xs), np.concatenate(ys)
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": np.arange(len(xs)), "lon": xs, "lat": ys})
    )
    want = {
        (int(p), f"D{i}")
        for i, r in enumerate(rings)
        for p in np.nonzero(_covers_oracle(r, xs, ys))[0]
    }
    assert len(want) > 500

    ij = joins.tile_index(polys, res=8, refine="jvm").persist()
    assert joins._index_maxk(ij) > 2 * joins.UNROLL_CAP

    def pairs(df):
        return {(r.pid, r.region) for r in df.select("pid", "region").collect()}

    inner = joins.tile_join_points(pts, polys, res=8, how="inner")
    plan = inner._jdf.queryExecution().optimizedPlan().toString()
    assert "st_point_in_geom" in plan and "segs" not in plan
    assert pairs(inner) == want

    # left joins also get one probe with null lon/lat: a single
    # null-tagged row
    null_pid = len(xs)
    pts_left = pts.unionByName(
        spark.createDataFrame([(null_pid, None, None)], "pid long, lon double, lat double")
    )
    unmatched = sorted(set(range(len(xs) + 1)) - {p for p, _ in want})

    def check_left(df):
        rows = df.select("pid", "region").collect()
        assert {(r.pid, r.region) for r in rows if r.region is not None} == want
        # each unmatched point exactly once
        assert sorted(r.pid for r in rows if r.region is None) == unmatched

    left = joins.tile_join_points(pts_left, polys, res=8, how="left")
    plan = left._jdf.queryExecution().optimizedPlan().toString()
    assert "st_points_in_geoms" in plan and "segs" not in plan
    check_left(left)

    hof = joins.tile_join_points(pts, polys, res=8, how="inner", index=ij)
    assert pairs(hof) == want
    # the HOF refine inside a LEFT OUTER join condition
    hof_left = joins.tile_join_points(pts_left, polys, res=8, how="left", index=ij)
    plan = hof_left._jdf.queryExecution().optimizedPlan().toString()
    assert "aggregate(" in plan and "st_points_in_geoms" not in plan
    check_left(hof_left)
    ij.unpersist()


def test_rewritten_parquet_layer_is_not_joined_with_a_stale_probe(spark, tmp_path):
    """A parquet layer rewritten at the same path keeps its plan hash
    but gets new part files; the tile join's unroll-width memo must not
    reuse the old layer's width (a narrower refine than the new layer
    needs drops segments and returns wrong rows). 50 eight-vertex stars,
    then 24-vertex stars at the same path, each against 20k points and
    a numpy oracle."""
    path = str(tmp_path / "layer.parquet")
    rng = np.random.default_rng(11)
    xs = rng.uniform(-66, 66, 20_000)
    ys = rng.uniform(-26, 26, 20_000)
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": np.arange(len(xs)), "lon": xs, "lat": ys})
    )
    for n in (8, 24):
        rings = [
            _jagged_star(rng, -54 + (i % 10) * 12.0, -20 + (i // 10) * 10.0, n=n,
                         r0=1.5, r1=4.5)
            for i in range(50)
        ]
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "poly_id": np.arange(50),
                    "geometry": [wkb.dumps(("Polygon", [r])) for r in rings],
                }
            )
        ).write.mode("overwrite").parquet(path)
        polys = spark.read.parquet(path)
        want = {
            (int(p), i) for i, r in enumerate(rings) for p in np.nonzero(_covers_oracle(r, xs, ys))[0]
        }
        out = joins.tile_join_points(pts, polys, poly_cols=["poly_id"])
        assert "segs" in out._jdf.queryExecution().optimizedPlan().toString()
        got = [(r.pid, r.poly_id) for r in out.select("pid", "poly_id").collect()]
        assert len(got) == len(want) and set(got) == want, n
