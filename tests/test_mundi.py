"""Mundi.q contract parity — ports of reference tests/test_mundi_q.py,
tests/test_example.py and tests/test_external_plot.py behavioral
assertions, run on the reference's own fixtures."""

import os
import re

import pytest

from mundipy_spark.dataset import Dataset, Map
from mundipy_spark.mundi import Mundi
from mundipy_spark.utils import plot
from tests.conftest import REFERENCE_FIXTURES

needs_fixtures = pytest.mark.skipif(
    not os.path.isdir(REFERENCE_FIXTURES), reason="reference fixtures not present"
)

FIX = REFERENCE_FIXTURES


@pytest.fixture()
def points_map(spark):
    return Map(
        {
            "points": f"{FIX}/points.geojson",
            "polygon": f"{FIX}/polygon.geojson",
        },
        spark=spark,
    )


@needs_fixtures
def test_mundi_q_stdout_and_id(spark, points_map):
    mundi = Mundi(points_map, "points", units="feet")

    def process(point, polygon):
        polygon.intersects(point)
        print("should capture")
        return point

    outs = mundi.q(process)
    feats = outs["features"]
    assert len(feats) == 3
    assert feats[0]["properties"]["_stdout"] == "should capture\n"
    assert feats[0]["properties"]["_id"] == 0
    assert sorted(f["properties"]["_id"] for f in feats) == [0, 1, 2]


@needs_fixtures
def test_mundi_q_slicing(spark, points_map):
    mundi = Mundi(points_map, "points", units="feet")
    outs = mundi.q(lambda point: point, n_start=1, n_end=2)
    assert len(outs["features"]) == 1
    assert outs["features"][0]["properties"]["_id"] == 1


@needs_fixtures
def test_mundi_q_bad_dataset_error(spark, points_map):
    mundi = Mundi(points_map, "points", units="feet")

    def process_points(center, pointss):
        pass

    with pytest.raises(
        TypeError,
        match=re.escape(
            "mundi process() function requests dataset 'pointss', but no "
            "dataset was defined on Mundi"
        ),
    ):
        mundi.q(process_points)


@needs_fixtures
def test_mundi_q_none_filtering(spark, points_map):
    mundi = Mundi(points_map, "points")

    def process(point):
        if point["_id"] if "_id" in point.features else False:
            return None
        return None if point.features.get("skip") else point

    # simpler: drop every other row by id ordinal via stdout-free fn
    seen = []

    def proc2(point):
        return None

    outs = mundi.q(proc2)
    assert outs["features"] == []


@needs_fixtures
def test_mundi_q_keyset_enforcement(spark, points_map):
    mundi = Mundi(points_map, "points")
    from pyspark.errors import PythonException

    def process(point):
        # key set depends on geometry -> differs across rows -> TypeError
        # (points fixture lons: -95.98, -78.93, -111.62 — third violates)
        if point.bounds[0] > -100.0:
            point["extra"] = 1
        return point

    with pytest.raises((TypeError, PythonException)):
        mundi.q(process)


@needs_fixtures
def test_coffeeshops_via_mundi_q(spark):
    """The reference's end-to-end golden test, through the Mundi.q API
    (reference tests/test_example.py:1-27)."""
    mundi = Mundi(
        Map(
            {
                "neighborhoods": f"{FIX}/los-angeles.geojson",
                "coffeeshops": f"{FIX}/la_coffeeshops.geojson",
            },
            spark=spark,
        ),
        "coffeeshops",
        units="feet",
    )

    def process(coffeeshop, neighborhoods):
        coffeeshop["neighborhood_name"] = "none"
        for neighborhood in neighborhoods.intersects(coffeeshop):
            coffeeshop["neighborhood_name"] = neighborhood["name"]
        nearest = neighborhoods.nearest(coffeeshop)
        assert isinstance(nearest["name"], str)
        return coffeeshop

    feats = mundi.q(process)["features"]
    assert len(feats) == 12
    assert (
        len([f for f in feats if f["properties"]["neighborhood_name"] == "North Hollywood"])
        == 2
    )
    assert len([f for f in feats if f["properties"]["name"] == "Philz Coffee"]) == 1


@needs_fixtures
def test_plot_context(spark):
    mundi = Mundi(
        Map({"coffeeshops": f"{FIX}/la_coffeeshops.geojson"}, spark=spark),
        "coffeeshops",
        units="meters",
    )

    def process(coffeeshop):
        plot(coffeeshop, "coffeeshop")
        return coffeeshop

    plotted = mundi.plot(process)
    assert isinstance(plotted, dict)
    assert len(plotted["geometries"]) == 1
    assert plotted["geometries"][0]["type"] == "Point"
    assert plotted["geometries"][0]["coordinates"] == [-118.3443726, 34.1689253]


@needs_fixtures
def test_plot_nocontext():
    with pytest.raises(
        TypeError, match=re.escape("mundipy.utils.plot() called outside of process fn")
    ):
        plot(("Point", [0.0, 0.0]), "point")


@needs_fixtures
def test_dataset_iteration_and_bounds(spark):
    ds = Dataset(f"{FIX}/points.geojson", spark=spark)
    assert len(ds) == 3
    feats = list(ds)
    assert all(f.geom_type == "Point" for f in feats)
    b = ds.bounds
    assert b[0] <= b[2] and b[1] <= b[3]


def test_sql_registration_and_svg(spark):
    """st_* functions callable from spark.sql; Dataset._repr_svg_ renders."""
    import numpy as np

    from mundipy_spark.dataset import Dataset
    from mundipy_spark.functions import st
    from mundipy_spark.kernels import wkb as wkb_mod

    st.register_sql(spark)
    sq = wkb_mod.dumps(
        ("Polygon", [np.array([[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]], float)])
    )
    df = spark.createDataFrame([(sq,)], "geometry binary")
    df.createOrReplaceTempView("one_poly")
    row = spark.sql(
        "SELECT st_area_planar(geometry) AS a, st_geometrytype(geometry) AS t, "
        "st_isvalid(geometry) AS v, st_astext(st_centroid(geometry)) AS c "
        "FROM one_poly"
    ).collect()[0]
    assert row.a == 4.0 and row.t == "Polygon" and row.v
    assert row.c.startswith("POINT")

    svg = Dataset(df)._repr_svg_()
    assert svg.startswith("<svg") and "path" in svg


def test_units_feet_scale_measures(spark):
    """Mundi(units='feet') scales measures inside q (reference semantics:
    a foot-unit PCS is chosen, mundipy/pcs/__init__.py:26-62)."""
    import numpy as np

    from mundipy_spark.dataset import Dataset, Map
    from mundipy_spark.kernels import wkb as wkb_mod
    from mundipy_spark.mundi import Mundi

    ring = np.array(
        [[-118.0, 34.0], [-117.99, 34.0], [-117.99, 34.01], [-118.0, 34.01], [-118.0, 34.0]]
    )
    df = spark.createDataFrame(
        [(wkb_mod.dumps(("Polygon", [ring])), "a")], "geometry binary, name string"
    )
    m = Map({"polys": Dataset(df)}, spark=spark)

    def in_meters(poly):
        poly["area"] = poly.area
        poly["length"] = poly.length
        return poly

    am = Mundi(m, "polys", units="meters").q(in_meters)["features"][0]["properties"]
    af = Mundi(m, "polys", units="feet").q(in_meters)["features"][0]["properties"]
    assert abs(af["area"] / am["area"] - 3.28083333**2) < 1e-3
    assert abs(af["length"] / am["length"] - 3.28083333) < 1e-4


def test_within_radius_in_session_units(spark):
    """LocalIndex.within takes its radius in SESSION units: under
    units='feet' a 500 ft probe must NOT reach a point ~200 m away,
    while 500 m (units='meters') does."""
    import numpy as np

    from mundipy_spark.dataset import Dataset, Map
    from mundipy_spark.kernels import wkb as wkb_mod
    from mundipy_spark.mundi import Mundi

    # ~200 m east at lat 34: 0.00217 deg lon
    probe = (wkb_mod.dumps(("Point", np.array([[-118.0, 34.0]]))), "probe")
    target = (wkb_mod.dumps(("Point", np.array([[-117.99783, 34.0]]))), "t")
    df_p = spark.createDataFrame([probe], "geometry binary, name string")
    df_t = spark.createDataFrame([target], "geometry binary, name string")
    m = Map({"probes": Dataset(df_p), "targets": Dataset(df_t)}, spark=spark)

    def proc(p, targets):
        p["n"] = len(targets.within(500.0, p))
        return p

    n_m = Mundi(m, "probes", units="meters").q(proc)["features"][0]["properties"]["n"]
    n_ft = Mundi(m, "probes", units="feet").q(proc)["features"][0]["properties"]["n"]
    assert n_m == 1  # 500 m reaches 200 m away
    assert n_ft == 0  # 500 ft = 152 m does not


def test_input_ordinal_is_distributed(spark):
    """_id assignment must keep the main layer distributed (no global
    single-task window): >1 partition survives into the ordinal stage,
    ordinals are a dense 0..n-1 in partition-major order."""
    from pyspark.sql import functions as F

    from mundipy_spark.mundi import _with_input_ordinal

    df = spark.range(0, 1000, 1, 8).withColumn("v", F.col("id") * 2)
    out = _with_input_ordinal(df)
    rows = out.collect()
    assert sorted(r._id for r in rows) == list(range(1000))
    nparts = out.select(F.spark_partition_id().alias("p")).distinct().count()
    assert nparts > 1
    # partition-major: ordinals within a surviving partition are contiguous
    per_part = out.select(F.spark_partition_id().alias("p"), "_id").collect()
    from collections import defaultdict

    groups = defaultdict(list)
    for r in per_part:
        groups[r.p].append(r._id)
    for ids in groups.values():
        ids = sorted(ids)
        assert ids == list(range(ids[0], ids[0] + len(ids)))
    # no Exchange feeding the ordinal join on the main side (broadcast)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_crs_mixed_layers_join(spark):
    """Port of the reference CRS-mixed test (tests/test_mundi_q.py:75-88,
    texas_epsg_2844 fixture): a projected state-plane-style FEET layer
    (UTM zone 14N in feet here — same math role as EPSG:2844) joins 4326
    point probes through Mundi.q; ingest normalization makes it
    transparent."""
    import numpy as np

    from mundipy_spark.dataset import Dataset, Map
    from mundipy_spark.kernels import proj, wkb as wkb_mod
    from mundipy_spark.mundi import Mundi

    # a lon/lat square around Dallas-ish, forward-projected into UTM14N feet
    ring = np.array(
        [[-97.0, 32.5], [-96.5, 32.5], [-96.5, 33.0], [-97.0, 33.0], [-97.0, 32.5]]
    )
    fwd, _ = proj.crs_transforms("EPSG:32614", "feet")
    px, py = fwd(ring[:, 0], ring[:, 1])
    pring = np.column_stack([px, py])
    tex = spark.createDataFrame(
        [(wkb_mod.dumps(("Polygon", [pring])), "dallas")],
        "geometry binary, name string",
    )
    pts = spark.createDataFrame(
        [
            (wkb_mod.dumps(("Point", np.array([-96.8, 32.78]))), "inside"),
            (wkb_mod.dumps(("Point", np.array([-95.0, 29.76]))), "outside"),
        ],
        "geometry binary, name string",
    )
    m = Map(
        {
            "points": Dataset(pts),
            "texas": Dataset(tex, crs="EPSG:32614", crs_units="feet"),
        },
        spark=spark,
    )
    mundi = Mundi(m, "points", units="feet")

    def process_points(point, texas):
        point["hits"] = len(texas.intersects(point))
        return point

    got = {
        f["properties"]["name"]: f["properties"]["hits"]
        for f in mundi.q(process_points)["features"]
    }
    assert got == {"inside": 1, "outside": 0}

    # ingest round-trip accuracy: normalized ring within ~1e-7 deg (~1 cm)
    norm = m["texas"].df.select("geometry").collect()[0][0]
    nring = wkb_mod.loads(bytes(norm))[1][0]
    assert np.abs(nring[:, 0] - ring[:, 0]).max() < 1e-7
    assert np.abs(nring[:, 1] - ring[:, 1]).max() < 1e-7


def test_crs_mixed_reference_fixture(spark):
    """True port of the reference's test_mundi_crs
    (tests/test_mundi_q.py:75-88): its texas_epsg_2844.geojson fixture
    (NAD83(HARN) / Texas North, LCC-2SP meters — points near Amarillo)
    is ingested with crs='EPSG:2844' and probed by 4326 points."""
    import os

    import numpy as np
    import pytest as _pytest

    fixture = "/root/reference/tests/fixtures/texas_epsg_2844.geojson"
    if not os.path.exists(fixture):
        _pytest.skip("reference fixture unavailable")

    from mundipy_spark.dataset import Dataset, Map
    from mundipy_spark.kernels import wkb as wkb_mod
    from mundipy_spark.mundi import Mundi

    probes = spark.createDataFrame(
        [
            # decoded location of the first fixture point (panhandle)
            (wkb_mod.dumps(("Point", np.array([-101.27196397, 34.95798938]))), "hit"),
            (wkb_mod.dumps(("Point", np.array([-95.98, 44.47]))), "miss"),
        ],
        "geometry binary, name string",
    )
    m = Map(
        {
            "points": Dataset(probes),
            "texas": Dataset(fixture, spark=spark, crs="EPSG:2844"),
        },
        spark=spark,
    )
    mundi = Mundi(m, "points", units="feet")

    def process_points(point, texas):
        # 500 ft radius (session units) — the ingest-normalized fixture
        # point sits ~0 m from the decoded probe location
        point["n"] = len(texas.within(500.0, point))
        return point

    got = {
        f["properties"]["name"]: f["properties"]["n"]
        for f in mundi.q(process_points)["features"]
    }
    assert got["hit"] == 1
    assert got["miss"] == 0
    # normalized layer sits in the Texas panhandle
    ds = m["texas"]
    minx, miny, maxx, maxy = ds.bounds
    assert -102.0 < minx < maxx < -100.5
    assert 34.8 < miny < maxy < 36.0


def test_keyset_from_first_non_none_result(spark):
    """Reference semantics: a dropped (None) first row does not fix the
    key set — the first RETURNED Feature does (mundi.py:149-159)."""
    import numpy as np

    from mundipy_spark.dataset import Dataset, Map
    from mundipy_spark.kernels import wkb as wkb_mod
    from mundipy_spark.mundi import Mundi

    rows = [
        (wkb_mod.dumps(("Point", np.array([float(i), 0.0]))), i) for i in range(6)
    ]
    df = spark.createDataFrame(rows, "geometry binary, i long")
    m = Map({"pts": Dataset(df)}, spark=spark)

    def proc(p):
        if p["i"] < 3:
            return None  # first rows dropped
        p["kept"] = p["i"] * 10
        return p

    feats = Mundi(m, "pts").q(proc)["features"]
    assert len(feats) == 3
    assert all("kept" in f["properties"] for f in feats)
    assert sorted(f["properties"]["kept"] for f in feats) == [30, 40, 50]


def test_keyset_first_result_beyond_256_rows(spark):
    """Sparse-output fns: when the fn drops the entire 256-row driver
    probe, the key set still comes from the first result actually
    returned (reference mundi.py:149-159 at any depth) via the
    distributed fallback probe — not a bare schema + raise."""
    import numpy as np

    from mundipy_spark.dataset import Dataset, Map
    from mundipy_spark.kernels import wkb as wkb_mod
    from mundipy_spark.mundi import Mundi

    rows = [
        (wkb_mod.dumps(("Point", np.array([float(i % 360 - 180), 0.0]))), i)
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "geometry binary, i long")
    m = Map({"pts": Dataset(df)}, spark=spark)

    def proc(p):
        if p["i"] < 300:
            return None  # drops the whole driver probe window
        p["deep"] = p["i"] + 1
        return p

    feats = Mundi(m, "pts").q(proc)["features"]
    assert len(feats) == 300
    assert all("deep" in f["properties"] for f in feats)
    assert min(f["properties"]["deep"] for f in feats) == 301


def test_mundi_q_single_scan(spark, tmp_path):
    """q_df must read the main-layer source exactly ONCE: the ordinal-
    stamped frame is cached, so the executed plan of the returned frame
    contains one parquet scan (inside the InMemoryRelation) and one
    in-memory scan — no re-execution of the source subtree (the r02 plan
    paid up to ~4 scans: uncached ordinal counts + probe + run)."""
    import numpy as np

    from mundipy_spark.dataset import Dataset, Map
    from mundipy_spark.kernels import wkb as wkb_mod
    from mundipy_spark.mundi import Mundi

    rows = [
        (wkb_mod.dumps(("Point", np.array([float(i % 360 - 180), 0.0]))), i)
        for i in range(40)
    ]
    spark.createDataFrame(rows, "geometry binary, i long").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "pts.parquet"))
    src = spark.read.parquet(str(tmp_path / "pts.parquet"))
    m = Map({"pts": Dataset(src)}, spark=spark)
    mundi = Mundi(m, "pts")

    def proc(p):
        p["j"] = p["i"] * 2
        return p

    out = mundi.q_df(proc)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") <= 1, plan
    assert "InMemoryTableScan" in plan, plan
    got = sorted(r.j for r in out.collect())
    assert got == [i * 2 for i in range(40)]
    mundi.release()


def test_mundi_q_keys_escape_hatch(spark):
    """keys= fixes the output schema up front and skips both probes —
    the documented path for production fns that return rows rarely."""
    import numpy as np

    from mundipy_spark.dataset import Dataset, Map
    from mundipy_spark.kernels import wkb as wkb_mod
    from mundipy_spark.mundi import Mundi

    rows = [
        (wkb_mod.dumps(("Point", np.array([float(i), 0.0]))), i) for i in range(8)
    ]
    df = spark.createDataFrame(rows, "geometry binary, i long")
    m = Map({"pts": Dataset(df)}, spark=spark)

    def proc(p):
        if p["i"] != 5:
            return None
        p["rare"] = 5.5
        return p

    feats = Mundi(m, "pts").q(proc, keys={"i": "long", "rare": "double"})["features"]
    assert len(feats) == 1
    assert feats[0]["properties"]["rare"] == 5.5
    assert feats[0]["properties"]["i"] == 5


def test_mundi_q_progress_metering(spark, capsys):
    """U6: progress=True meters processed rows via an accumulator and
    writes done/total to stderr; results are unchanged."""
    import numpy as np

    from mundipy_spark.dataset import Dataset, Map
    from mundipy_spark.kernels import wkb as wkb_mod
    from mundipy_spark.mundi import Mundi

    rows = [
        (wkb_mod.dumps(("Point", np.array([float(i), 0.0]))), i) for i in range(50)
    ]
    m = Map({"pts": Dataset(spark.createDataFrame(rows, "geometry binary, i long"))},
            spark=spark)
    mundi = Mundi(m, "pts")

    def proc(p):
        p["j"] = p["i"] + 1
        return p

    feats = mundi.q(proc, progress=True)["features"]
    assert len(feats) == 50
    err = capsys.readouterr().err
    assert "mundi.q:" in err and "/50 features" in err
    # the final line reports every row processed
    assert "50/50 features" in err


def test_q_null_first_property_typed_from_later_row(spark):
    """A None property value on the schema-fixing first result must not
    freeze the column as string: the type comes from the first NON-null
    value in the probe window (here a float on a later row)."""
    import numpy as np
    import pandas as pd

    from mundipy_spark.kernels import wkb

    rows = [
        {
            "name": f"p{i}",
            "geometry": wkb.dumps(("Point", np.array([float(i), 0.0]))),
        }
        for i in range(4)
    ]
    pdf = pd.DataFrame(rows)
    path = "/tmp/mundi_nulltype.parquet"
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)
    mundi = Mundi(Map({"pts": path}, spark=spark), "pts")

    def process(pt):
        score = None if pt["name"] == "p0" else 1.5
        pt["score"] = score
        return pt

    feats = mundi.q(process)["features"]
    scores = {f["properties"]["name"]: f["properties"]["score"] for f in feats}
    assert scores["p0"] is None
    assert scores["p1"] == 1.5  # float, not the string '1.5'


def _points_map(spark, n, side=False):
    import numpy as np

    from mundipy_spark.kernels import wkb as wkb_mod

    rows = [
        (wkb_mod.dumps(("Point", np.array([10.0 + i * 1e-3, 50.0]))), i) for i in range(n)
    ]
    layers = {"pts": Dataset(spark.createDataFrame(rows, "geometry binary, i long"))}
    if side:
        sq = np.array([[10.0, 49.9], [10.1, 49.9], [10.1, 50.1], [10.0, 50.1], [10.0, 49.9]])
        layers["side"] = Dataset(
            spark.createDataFrame([(wkb_mod.dumps(("Polygon", [sq])), 7)], "geometry binary, k long")
        )
    return Map(layers, spark=spark)


def test_driver_keyset_probe_stops_once_every_key_is_typed(spark):
    """The driver-side key-set probe calls the fn only until every key
    of the first result has a type: once when the first result types
    them all, and up to the row that types a key whose first value is
    null. The closure list counts driver calls only (executors run
    copies of the fn in other processes)."""
    m = _points_map(spark, 300)
    calls = []

    def typed(p):
        calls.append(p["i"])
        p["k"] = p["i"] * 2
        return p

    feats = Mundi(m, "pts").q(typed)["features"]
    assert len(feats) == 300 and calls == [0]

    calls.clear()

    def late(p):
        calls.append(p["i"])
        if p["i"] == 0:
            return None
        p["score"] = None if p["i"] < 4 else 1.5
        return p

    feats = Mundi(m, "pts").q(late)["features"]
    assert calls == [0, 1, 2, 3, 4]
    scores = {f["properties"]["i"]: f["properties"]["score"] for f in feats}
    assert len(scores) == 299 and scores[1] is None and scores[4] == 1.5


def test_q_row_loop_keeps_property_names_and_per_row_stdout(spark):
    """Rows reach the fn with their property names as they are (a
    namedtuple would rename `class`, `my prop` and `_x`), and each
    row's _stdout holds exactly what that row printed, though stdout is
    captured once per batch."""
    import numpy as np

    from mundipy_spark.kernels import wkb as wkb_mod

    rows = [
        (wkb_mod.dumps(("Point", np.array([float(i), 0.0]))), f"c{i}", i, i / 4)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "geometry binary, `class` string, `my prop` long, `_x` double")
    m = Map({"pts": Dataset(df)}, spark=spark)

    def proc(p):
        if p["my prop"] % 3 == 0:
            print(f"row {p['my prop']} {p['class']}")
        if p["my prop"] % 4 == 1:
            print("a", end="")
            print("b")
        p["seen"] = sorted(p.features)
        p["seen"] = ",".join(p["seen"])
        return p

    feats = Mundi(m, "pts").q(proc)["features"]
    assert len(feats) == 40
    for f in feats:
        props = f["properties"]
        i = props["my prop"]
        assert props["class"] == f"c{i}" and props["_x"] == i / 4
        assert props["seen"] == "_x,class,my prop"
        want = (f"row {i} c{i}\n" if i % 3 == 0 else "") + ("ab\n" if i % 4 == 1 else "")
        assert props["_stdout"] == want, i


def test_q_destroys_side_layer_broadcasts(spark):
    """q() destroys its side-layer broadcasts after collecting, so their
    pickles do not pile up in the SparkContext's temp dir; q_df's go
    with release()."""
    import os

    sc = spark.sparkContext
    m = _points_map(spark, 20, side=True)
    mundi = Mundi(m, "pts")

    def proc(p, side):
        p["n"] = len(side.intersects(p))
        return p

    before = sorted(os.listdir(sc._temp_dir))
    feats = mundi.q(proc)["features"]
    assert sorted(f["properties"]["n"] for f in feats) == [1] * 20
    assert sorted(os.listdir(sc._temp_dir)) == before
    assert len(mundi.q_df(proc).collect()) == 20
    assert len(os.listdir(sc._temp_dir)) == len(before) + 1
    mundi.release()
    assert sorted(os.listdir(sc._temp_dir)) == before
