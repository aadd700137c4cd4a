"""The four workloads. Each one

- ``generate(seed)``: builds every input from the seed alone (numpy);
- ``expect(inp)``: computes the reference answer with ``oracles`` only;
- ``setup(spark, inp)``: turns the inputs into DataFrames (and, where the
  workload says so, prebuilds an index);
- ``job(state, tr)``: runs one closed-loop job and returns a small result;
- ``check(exp, result)``: lists every disagreement with the reference;
- ``job_layers`` / ``probe_layers``: per-layer numbers for the traced run.
"""

from __future__ import annotations

import math
import time
from statistics import median

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from spatialbench import inputs, oracles
from spatialbench.trace import plan_sum

RES = 8  # operators.joins.DEFAULT_RES, the resolution every workload joins at


def rate(fn, n_items: int, min_s: float = 0.3) -> float:
    """Items per second of a driver-side kernel call, repeated for at
    least ``min_s`` seconds."""
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return n_items * reps / dt


def counting(module, attr: str, counter: dict):
    """Wrap ``module.attr`` so each call bumps ``counter[attr]``; returns
    the original for restoring."""
    orig = getattr(module, attr)

    def wrapped(*a, **k):
        counter[attr] = counter.get(attr, 0) + 1
        return orig(*a, **k)

    setattr(module, attr, wrapped)
    return orig


def teardown(state: dict) -> None:
    """Unpersist every DataFrame a workload's setup cached."""
    from pyspark.sql import DataFrame

    for v in [*state.values(), *state.get("layers", {}).values()]:
        if isinstance(v, DataFrame):
            v.unpersist()


def _tile_index_stats(polys, tr) -> dict:
    """Rows, boundary share and densest boundary cell of a refine='jvm'
    tile index over ``polys``, built once in its own job."""
    from mundipy_spark.operators import joins

    with tr.span("operators.joins.tile_index"):
        t0 = time.perf_counter()
        r = (
            joins.tile_index(polys, refine="jvm")
            .agg(
                F.count("*").alias("rows"),
                F.sum((~F.col("cell_full")).cast("long")).alias("bnd"),
                F.max(F.size("segs")).alias("maxf"),
            )
            .first()
        )
        build_s = time.perf_counter() - t0
    return {
        "operators.joins.tile_index.rows": r["rows"],
        "operators.joins.tile_index.boundary_ratio": r["bnd"] / max(r["rows"], 1),
        "operators.joins.tile_index.max_segs_per_cell": (r["maxf"] or 0) // 4,
        "_build_s": build_s,
    }


def _wkb_rates(blobs: list[bytes]) -> dict:
    from mundipy_spark.kernels import wkb

    geoms = [wkb.loads(b) for b in blobs]
    return {
        "kernels.wkb.loads_per_s": rate(lambda: [wkb.loads(b) for b in blobs], len(blobs)),
        "kernels.wkb.dumps_per_s": rate(lambda: [wkb.dumps(g) for g in geoms], len(geoms)),
    }


def _cover_rate(blobs: list[bytes]) -> float:
    from mundipy_spark.kernels import tiling, wkb

    geoms = [wkb.loads(b) for b in blobs]
    return rate(
        lambda: [tiling.cover_geometry_classified(g, RES) for g in geoms], len(geoms)
    )


# ---------------------------------------------------------------------------
# geocode_grid: pages -> geoparse -> left tile join, prebuilt JVM index
# ---------------------------------------------------------------------------


class GeocodeGrid:
    name = "geocode_grid"
    item = "page"
    n_pages = 80_000

    def generate(self, seed: int) -> dict:
        """Pages are replicated from a pool of 1024 seeded texts by
        integer arithmetic on the page id, ``(id * a + b) % m`` with
        seeded a, b — the same arithmetic runs in Spark to build the
        table and in numpy to build the reference."""
        rng = np.random.default_rng([seed, 1])
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        vocab = ["".join(rng.choice(letters, rng.integers(3, 10))) for _ in range(400)]
        pool = [" ".join(rng.choice(vocab, rng.integers(20, 50))) for _ in range(1024)]
        coef = {}
        for key, m in (("lat", 18000), ("lon", 36000), ("geo", 8), ("body", len(pool))):
            a = int(rng.integers(10_000, 1_000_000))
            while math.gcd(a, m) != 1:
                a += 1
            coef[key] = (a, int(rng.integers(0, m)), m)
        return {"pool": pool, "coef": coef}

    def _columns(self, ids, coef: dict) -> dict:
        """Per-page columns from the id; works on numpy arrays and on
        Spark columns alike. Coordinates are centidegrees; one that is a
        multiple of 1000 would sit on a 10-degree region edge and match
        two rectangles, so it moves one centidegree off the edge."""
        out = {}
        for key, (a, b, m) in coef.items():
            out[key] = (ids * a + b) % m
        for key, half in (("lat", 9000), ("lon", 18000)):
            r = out[key]
            on_edge = r % 1000 == 0
            r = F.when(on_edge, r + 1).otherwise(r) if hasattr(r, "alias") else r + on_edge
            out[key] = r - half
        out["geo"] = out["geo"] != 0
        return out

    def expect(self, inp: dict) -> dict:
        """Closed-form floor region of each page's own coordinates
        (the ``sources.pages.region_name_sql`` rule) -> per region
        (pages, sum of page ids, sum of text length); None = untagged."""
        ids = np.arange(self.n_pages, dtype=np.int64)
        c = self._columns(ids, inp["coef"])
        body_len = np.array([len(t) for t in inp["pool"]])[c["body"]]
        digits = lambda v: np.char.str_len(v.astype(str))  # noqa: E731
        tail = len(" geo:") + digits(c["lat"]) + 1 + digits(c["lon"])
        length = body_len + np.where(c["geo"], tail, 0)
        gx = (c["lon"] + 18000) // 1000
        gy = (c["lat"] + 9000) // 1000
        key = np.where(c["geo"], gx * 100 + gy, -1)
        df = pd.DataFrame({"key": key, "id": ids, "len": length})
        out = {}
        for k, g in df.groupby("key"):
            name = None if k < 0 else f"R_{k // 100}_{k % 100}"
            out[name] = (len(g), int(g["id"].sum()), int(g["len"].sum()))
        return out

    def items(self, inp: dict) -> int:
        return self.n_pages

    def setup(self, spark, inp: dict, tr) -> dict:
        from mundipy_spark.operators import joins
        from mundipy_spark.sources import pages as pages_src

        pool = spark.createDataFrame(
            pd.DataFrame({"body_id": np.arange(len(inp["pool"])), "body": inp["pool"]})
        )
        parts = 2 * spark.sparkContext.defaultParallelism
        ids = spark.range(0, self.n_pages, 1, parts)
        c = self._columns(F.col("id"), inp["coef"])
        text = F.when(
            c["geo"],
            F.concat(
                F.col("body"), F.lit(" geo:"), c["lat"].cast("string"),
                F.lit(","), c["lon"].cast("string"),
            ),
        ).otherwise(F.col("body"))
        pages = (
            ids.withColumn("body_id", c["body"])
            .join(F.broadcast(pool), "body_id")
            .select(
                F.col("id").alias("doc_id"),
                F.concat(F.lit("https://example.org/"), F.col("id")).alias("url"),
                text.alias("text"),
            )
            .persist()
        )
        pages.count()
        regions = pages_src.synth_regions(spark)
        with tr.span("operators.joins.tile_index.prebuild"):
            index = joins.tile_index(regions, refine="jvm").persist()
            index.count()
        return {"pages": pages, "regions": regions, "index": index}

    def job(self, st: dict, tr):
        from mundipy_spark.plans import pipeline

        with tr.span("plans.pipeline.geocode_pages"):
            out = pipeline.geocode_pages(st["pages"], st["regions"], index=st["index"])
            rows = (
                out.groupBy("region")
                .agg(
                    F.count("*").alias("n"),
                    F.sum("doc_id").alias("ids"),
                    F.sum(F.length("text")).alias("chars"),
                )
                .collect()
            )
        return {r["region"]: (r["n"], r["ids"], r["chars"]) for r in rows}

    def check(self, exp: dict, got: dict) -> list[str]:
        bad = [k for k in set(exp) | set(got) if exp.get(k) != got.get(k)]
        return [f"region {k}: expected {exp.get(k)} got {got.get(k)}" for k in sorted(bad, key=str)[:5]]

    def job_layers(self, nodes, got: dict, counts: dict, st: dict) -> dict:
        cand = plan_sum(nodes, "number of output rows", ("BroadcastHashJoin",))
        tagged = sum(v[0] for k, v in got.items() if k is not None)
        return {
            "operators.joins.probe.candidates": cand,
            "operators.joins.probe.accept_ratio": tagged / cand if cand else 0.0,
            "operators.joins.tile_index.builds": counts.get("tile_index", 0),
            "_index_in_job_s": 0.0,
        }

    def probe_layers(self, spark, inp: dict, st: dict, tr) -> dict:
        from mundipy_spark.operators import geoparse
        from mundipy_spark.sources import pages as pages_src

        times, hit = [], 0.0
        for _ in range(3):
            with tr.span("operators.geoparse"):
                t0 = time.perf_counter()
                r = geoparse.parse_geo_tokens(st["pages"]).agg(
                    F.count("*").alias("n"), F.count("lat").alias("hit")
                ).first()
                times.append(time.perf_counter() - t0)
            hit = r["hit"] / r["n"]
        # a fresh layer: the prebuilt index is cached, and the same plan
        # over st["regions"] would read that cache instead of building
        regions = pages_src.synth_regions(spark)
        out = _tile_index_stats(regions, tr)
        out["operators.geoparse.busy_s"] = median(times)
        out["operators.geoparse.hit_ratio"] = hit
        out["operators.joins.tile_index.busy_s"] = out.pop("_build_s")
        blobs = [bytes(b) for b in regions.toPandas()["geometry"]]
        out["kernels.tiling.cover_polys_per_s"] = _cover_rate(blobs)
        out.update(_wkb_rates(blobs))
        return out


# ---------------------------------------------------------------------------
# pip_detailed: one-shot tile_join_points over dense jagged polygons
# ---------------------------------------------------------------------------


class PipDetailed:
    name = "pip_detailed"
    item = "point"
    n_points = 50_000
    x0, y0, step, nx, ny = -40.0, -20.0, 4.0, 20, 10
    n_vertices = 256

    def generate(self, seed: int) -> dict:
        rng = np.random.default_rng([seed, 2])
        rings = inputs.slot_grid(
            rng, self.x0, self.y0, self.step, self.nx, self.ny,
            radius=1.8, n=self.n_vertices, lo=0.3, jitter=0.1,
        )
        n = self.n_points
        lon = rng.uniform(self.x0, self.x0 + self.nx * self.step, n)
        lat = rng.uniform(self.y0, self.y0 + self.ny * self.step, n)
        return {
            "rings": rings,
            "polys": pd.DataFrame(
                {
                    "poly_id": np.arange(len(rings), dtype=np.int64),
                    "geometry": [inputs.polygon_wkb(r) for r in rings],
                }
            ),
            "points": pd.DataFrame(
                {"pid": np.arange(n, dtype=np.int64), "lon": lon, "lat": lat}
            ),
        }

    def _slots(self, pts: pd.DataFrame):
        """(x, y, index of the grid slot, and so of the polygon, of each point)."""
        x, y = pts["lon"].to_numpy(), pts["lat"].to_numpy()
        gx = np.clip(((x - self.x0) // self.step).astype(int), 0, self.nx - 1)
        gy = np.clip(((y - self.y0) // self.step).astype(int), 0, self.ny - 1)
        return x, y, gx * self.ny + gy

    def expect(self, inp: dict) -> dict:
        """Crossing test of each point against the one polygon of its
        grid slot (no other polygon reaches into the slot)."""
        pts = inp["points"]
        x, y, slot = self._slots(pts)
        out = {}
        for pid_, ring in enumerate(inp["rings"]):
            idx = np.nonzero(slot == pid_)[0]
            inside = idx[oracles.points_in_ring(x[idx], y[idx], ring)]
            if len(inside):
                out[pid_] = (len(inside), int(pts["pid"].to_numpy()[inside].sum()))
        return out

    def items(self, inp: dict) -> int:
        return len(inp["points"])

    def setup(self, spark, inp: dict, tr) -> dict:
        points = spark.createDataFrame(inp["points"]).persist()
        points.count()
        polys = spark.createDataFrame(inp["polys"]).persist()
        polys.count()
        return {"points": points, "polys": polys}

    def job(self, st: dict, tr):
        from mundipy_spark.operators import joins

        with tr.span("operators.joins.tile_join_points"):
            with tr.span("operators.joins.tile_index.one_shot"):
                t0 = time.perf_counter()
                out = joins.tile_join_points(st["points"], st["polys"], poly_cols=["poly_id"])
                st["_call_s"] = time.perf_counter() - t0
            rows = (
                out.groupBy("poly_id")
                .agg(F.count("*").alias("n"), F.sum("pid").alias("ids"))
                .collect()
            )
        if "_arrow_checked" not in st:
            if "st_point_in_geom" not in out._jdf.queryExecution().analyzed().toString():
                raise RuntimeError("pip_detailed must take the Arrow refine path")
            st["_arrow_checked"] = True
        return {r["poly_id"]: (r["n"], r["ids"]) for r in rows}

    def check(self, exp: dict, got: dict) -> list[str]:
        bad = [k for k in set(exp) | set(got) if exp.get(k) != got.get(k)]
        return [f"polygon {k}: expected {exp.get(k)} got {got.get(k)}" for k in sorted(bad)[:5]]

    def job_layers(self, nodes, got: dict, counts: dict, st: dict) -> dict:
        cand = plan_sum(nodes, "number of output rows", ("BroadcastHashJoin",))
        accepted = sum(v[0] for v in got.values())
        # the Arrow index is built inside the join's broadcast: its
        # "time to collect" covers the cover UDFs that produce it
        bcast_collect = plan_sum(nodes, "time to collect", ("BroadcastExchange",))
        return {
            "operators.joins.probe.candidates": cand,
            "operators.joins.probe.accept_ratio": accepted / cand if cand else 0.0,
            "operators.joins.tile_index.builds": counts.get("tile_index", 0),
            "_index_in_job_s": st["_call_s"] + bcast_collect,
        }

    def probe_layers(self, spark, inp: dict, st: dict, tr) -> dict:
        from mundipy_spark.kernels import predicates, wkb

        out = _tile_index_stats(st["polys"], tr)
        out.pop("_build_s")
        blobs = list(inp["polys"]["geometry"])
        out["kernels.tiling.cover_polys_per_s"] = _cover_rate(blobs)
        out.update(_wkb_rates(blobs))
        x, y, slot = self._slots(inp["points"])
        geoms = [wkb.loads(b) for b in blobs]
        groups = [(g, np.nonzero(slot == i)[0]) for i, g in enumerate(geoms)]
        out["kernels.predicates.pip_points_per_s"] = rate(
            lambda: [predicates.points_in_geom(x[i], y[i], g) for g, i in groups], len(x)
        )
        return out


# ---------------------------------------------------------------------------
# mundi_q: Mundi.q(process) with intersects / nearest / within probes
# ---------------------------------------------------------------------------

CITY = (13.20, 52.40)  # south-west corner of the city box
CITY_STEP = 0.04
CITY_NX, CITY_NY = 10, 5
WITHIN_M = 400.0


def process(feature, hoods, stops):
    """The benchmark's Mundi.q process function."""
    from mundipy_spark.feature import Feature

    h = hoods.intersects(feature)
    n = stops.nearest(feature)
    w = stops.within(WITHIN_M, feature)
    return Feature(
        feature.geom,
        {
            "pid": int(feature["pid"]),
            "hood": int(h[0]["hood_id"]) if h else -1,
            "nearest": int(n["stop_id"]),
            "n_within": len(w),
        },
    )


def process_traced(feature, hoods, stops):
    """``process`` with each LocalIndex probe timed; the timings ride
    back as extra properties."""
    from mundipy_spark.feature import Feature

    t0 = time.perf_counter()
    h = hoods.intersects(feature)
    t1 = time.perf_counter()
    n = stops.nearest(feature)
    t2 = time.perf_counter()
    w = stops.within(WITHIN_M, feature)
    t3 = time.perf_counter()
    out = Feature(
        feature.geom,
        {
            "pid": int(feature["pid"]),
            "hood": int(h[0]["hood_id"]) if h else -1,
            "nearest": int(n["stop_id"]),
            "n_within": len(w),
            "t_int": t1 - t0,
            "t_near": t2 - t1,
            "t_within": t3 - t2,
        },
    )
    out["t_fn"] = time.perf_counter() - t0
    return out


class MundiQ:
    name = "mundi_q"
    item = "feature"
    n_features = 1500
    n_stops = 400
    n_checked = 40

    def generate(self, seed: int) -> dict:
        rng = np.random.default_rng([seed, 3])
        x0, y0 = CITY
        rings = inputs.slot_grid(
            rng, x0, y0, CITY_STEP, CITY_NX, CITY_NY,
            radius=0.018, n=48, lo=0.4, jitter=0.001,
        )
        w, h = CITY_NX * CITY_STEP, CITY_NY * CITY_STEP
        sx, sy = rng.uniform(x0, x0 + w, self.n_stops), rng.uniform(y0, y0 + h, self.n_stops)
        px, py = rng.uniform(x0, x0 + w, self.n_features), rng.uniform(y0, y0 + h, self.n_features)
        return {
            "rings": rings,
            "stops_xy": (sx, sy),
            "pts_xy": (px, py),
            "hoods": pd.DataFrame(
                {
                    "hood_id": np.arange(len(rings), dtype=np.int64),
                    "geometry": [inputs.polygon_wkb(r) for r in rings],
                }
            ),
            "stops": pd.DataFrame(
                {
                    "stop_id": np.arange(self.n_stops, dtype=np.int64),
                    "geometry": [inputs.point_wkb(a, b) for a, b in zip(sx, sy)],
                }
            ),
            "pts": pd.DataFrame(
                {
                    "pid": np.arange(self.n_features, dtype=np.int64),
                    "geometry": [inputs.point_wkb(a, b) for a, b in zip(px, py)],
                }
            ),
        }

    def expect(self, inp: dict) -> dict:
        """Brute force on every ``n_features / n_checked``-th feature:
        containing hood by crossing test over all hoods; haversine
        distances to every stop for nearest and within (the engine
        measures in a local projection, so within counts are bracketed
        by the counts at radius * (1 ± 1%), and the engine's nearest
        must be within 1% of the true nearest distance)."""
        px, py = inp["pts_xy"]
        sx, sy = inp["stops_xy"]
        out = {}
        for pid_ in range(0, len(px), max(len(px) // self.n_checked, 1)):
            hood = -1
            for i, ring in enumerate(inp["rings"]):
                if oracles.points_in_ring(px[pid_ : pid_ + 1], py[pid_ : pid_ + 1], ring)[0]:
                    hood = i
                    break
            d = oracles.haversine_m(px[pid_], py[pid_], sx, sy)
            out[pid_] = {
                "hood": hood,
                "d": d,
                "within": (int((d <= WITHIN_M * 0.99).sum()), int((d <= WITHIN_M * 1.01).sum())),
            }
        return {"n": len(px), "sample": out}

    def items(self, inp: dict) -> int:
        return len(inp["pts"])

    def setup(self, spark, inp: dict, tr) -> dict:
        from mundipy_spark.dataset import Map

        layers = {}
        for name in ("pts", "hoods", "stops"):
            layers[name] = spark.createDataFrame(inp[name]).persist()
            layers[name].count()
        return {"layers": layers, "map": Map(layers, spark=spark)}

    def job(self, st: dict, tr):
        from mundipy_spark.mundi import Mundi

        m = Mundi(st["map"], "pts")
        if not tr.enabled:
            feats = m.q(process)["features"]
        else:
            try:
                with tr.span("mundi.q_df"):
                    t0 = time.perf_counter()
                    df = m.q_df(process_traced)
                    st["_plan_s"] = time.perf_counter() - t0
                with tr.span("mundi.collect"):
                    t0 = time.perf_counter()
                    feats = m._collect_features(df)
                    st["_collect_s"] = time.perf_counter() - t0
            finally:
                m.release()
        return {f["properties"]["pid"]: f["properties"] for f in feats}

    def check(self, exp: dict, got: dict) -> list[str]:
        errs = []
        if len(got) != exp["n"]:
            errs.append(f"expected {exp['n']} features, got {len(got)}")
        for pid_, e in exp["sample"].items():
            g = got.get(pid_)
            if g is None:
                errs.append(f"feature {pid_} missing")
                continue
            if g["hood"] != e["hood"]:
                errs.append(f"feature {pid_}: hood {g['hood']} != {e['hood']}")
            if e["d"][g["nearest"]] > e["d"].min() * 1.01 + 1e-6:
                errs.append(f"feature {pid_}: nearest {g['nearest']} is not nearest")
            lo, hi = e["within"]
            if not lo <= g["n_within"] <= hi:
                errs.append(f"feature {pid_}: within {g['n_within']} not in [{lo}, {hi}]")
        return errs[:5]

    def job_layers(self, nodes, got: dict, counts: dict, st: dict) -> dict:
        props = list(got.values())
        calls = len(props)
        hits = {
            "intersects": sum(p["hood"] >= 0 for p in props),
            "nearest": calls,
            "within": sum(p["n_within"] for p in props),
        }
        busy = {
            "intersects": sum(p["t_int"] for p in props),
            "nearest": sum(p["t_near"] for p in props),
            "within": sum(p["t_within"] for p in props),
        }
        out = {
            "mundi.q_df.plan_s": st["_plan_s"],
            "mundi.collect_s": st["_collect_s"],
            "mundi.user_fn.busy_s": sum(p["t_fn"] for p in props),
        }
        for k in ("intersects", "nearest", "within"):
            out[f"feature.LocalIndex.{k}.busy_s"] = busy[k]
            out[f"feature.LocalIndex.{k}.calls"] = calls
            out[f"feature.LocalIndex.{k}.hits_per_call"] = hits[k] / calls if calls else 0.0
        return out

    def probe_layers(self, spark, inp: dict, st: dict, tr) -> dict:
        from mundipy_spark.dataset import Dataset
        from mundipy_spark.kernels import predicates, wkb

        times = []
        for _ in range(3):
            with tr.span("dataset.local_index"):
                t0 = time.perf_counter()
                Dataset(st["layers"]["hoods"]).local_index()
                Dataset(st["layers"]["stops"]).local_index()
                times.append(time.perf_counter() - t0)
        out = {"dataset.local_index.build_s": median(times)}
        blobs = list(inp["hoods"]["geometry"]) + list(inp["pts"]["geometry"])
        out.update(_wkb_rates(blobs))
        hoods = [wkb.loads(b) for b in inp["hoods"]["geometry"]]
        pts = [wkb.loads(b) for b in inp["pts"]["geometry"]][:200]
        # the scalar path LocalIndex.intersects takes: one predicate call
        # per (hood, point) pair whose boxes meet
        pairs = []
        for p in pts:
            x, y = p[1][0], p[1][1]
            for g in hoods:
                b = wkb.bounds(g)
                if b[0] - 1e-3 <= x <= b[2] + 1e-3 and b[1] - 1e-3 <= y <= b[3] + 1e-3:
                    pairs.append((g, p))
        out["kernels.predicates.pip_points_per_s"] = rate(
            lambda: [predicates.intersects(g, p) for g, p in pairs], len(pairs)
        )
        return out


# ---------------------------------------------------------------------------
# catchment_overlay: overlap_weighted_join of zones over regions
# ---------------------------------------------------------------------------


class CatchmentOverlay:
    name = "catchment_overlay"
    item = "zone"
    x0, y0, step, nx, ny = -24.0, -12.0, 3.0, 16, 8
    n_checked = 10
    grid_step = 0.005
    tolerance = 0.01

    def generate(self, seed: int) -> dict:
        rng = np.random.default_rng([seed, 4])
        regions = inputs.slot_grid(
            rng, self.x0, self.y0, self.step, self.nx, self.ny,
            radius=1.35, n=10, lo=0.45, jitter=0.1,
        )
        # zones sit on the interior slot corners, so each overlaps up to
        # four regions partially
        zones = [
            inputs.star_ring(
                rng,
                self.x0 + i * self.step + rng.uniform(-0.2, 0.2),
                self.y0 + j * self.step + rng.uniform(-0.2, 0.2),
                2.0, 8, 0.5,
            )
            for i in range(1, self.nx)
            for j in range(1, self.ny)
        ]
        pop = rng.integers(1, 1000, len(regions)).astype(np.float64)
        return {
            "zone_rings": zones,
            "region_rings": regions,
            "pop": pop,
            "zones": pd.DataFrame(
                {
                    "zone_id": np.arange(len(zones), dtype=np.int64),
                    "geometry": [inputs.polygon_wkb(r) for r in zones],
                }
            ),
            "regions": pd.DataFrame(
                {"geometry": [inputs.polygon_wkb(r) for r in regions], "pop": pop}
            ),
        }

    def expect(self, inp: dict) -> dict:
        """sum(pop * |zone ∩ region| / |region|) for a sample of zones,
        with the overlap counted on a ``grid_step`` grid and the region
        area by shoelace."""
        zones, regions = inp["zone_rings"], inp["region_rings"]
        areas = [oracles.ring_area(r) for r in regions]
        out = {}
        for z in range(0, len(zones), max(len(zones) // self.n_checked, 1)):
            total = 0.0
            for r, ring in enumerate(regions):
                a = oracles.grid_overlap_area(zones[z], ring, self.grid_step)
                total += inp["pop"][r] * a / areas[r]
            out[z] = total
        return {"n": len(zones), "sample": out}

    def items(self, inp: dict) -> int:
        return len(inp["zones"])

    def setup(self, spark, inp: dict, tr) -> dict:
        zones = spark.createDataFrame(inp["zones"]).persist()
        zones.count()
        regions = spark.createDataFrame(inp["regions"]).persist()
        regions.count()
        return {"zones": zones, "regions": regions}

    def job(self, st: dict, tr):
        from mundipy_spark.operators import joins

        with tr.span("operators.joins.overlap_weighted_join"):
            rows = joins.overlap_weighted_join(
                st["zones"], st["regions"], "pop", zone_id="zone_id"
            ).collect()
        return {r["zone_id"]: r["weighted_pop"] for r in rows}

    def check(self, exp: dict, got: dict) -> list[str]:
        errs = []
        if len(got) != exp["n"]:
            errs.append(f"expected {exp['n']} zones, got {len(got)}")
        for z, want in exp["sample"].items():
            have = got.get(z, 0.0)
            if abs(have - want) > self.tolerance * max(want, 1.0):
                errs.append(f"zone {z}: weighted pop {have:.3f}, grid estimate {want:.3f}")
        return errs[:5]

    def job_layers(self, nodes, got: dict, counts: dict, st: dict) -> dict:
        # every candidate pair reaches the area kernel once; the plan may
        # evaluate it again on the pairs that pass the `> 0` filter
        cand = max(
            (
                n["metrics"].get("number of output rows", 0.0)
                for n in nodes
                if n["name"] == "ArrowEvalPython" and "st_intersection_area_planar" in n["desc"]
            ),
            default=0.0,
        )
        pos = plan_sum(nodes, "number of output rows", ("Filter",), desc_has="> 0.0)")
        return {
            "operators.joins.overlap.candidate_pairs": cand,
            "operators.joins.overlap.positive_ratio": pos / cand if cand else 0.0,
            "operators.joins.tile_index.builds": counts.get("tile_index", 0),
        }

    def probe_layers(self, spark, inp: dict, st: dict, tr) -> dict:
        from mundipy_spark.kernels import overlay, wkb

        zb, rb = list(inp["zones"]["geometry"]), list(inp["regions"]["geometry"])
        out = {"kernels.tiling.cover_polys_per_s": _cover_rate(zb + rb)}
        out.update(_wkb_rates(zb + rb))
        zg, rg = [wkb.loads(b) for b in zb], [wkb.loads(b) for b in rb]
        rbox = [wkb.bounds(g) for g in rg]
        pairs = []
        for z in zg:
            b = wkb.bounds(z)
            for g, r in zip(rg, rbox):
                if r[0] <= b[2] and b[0] <= r[2] and r[1] <= b[3] and b[1] <= r[3]:
                    pairs.append((z, g))
        pairs = pairs[:200]
        out["kernels.overlay.pairs_per_s"] = rate(
            lambda: [overlay.intersection_area_planar(a, b) for a, b in pairs], len(pairs)
        )
        return out


WORKLOADS = {w.name: w for w in (GeocodeGrid(), PipDetailed(), MundiQ(), CatchmentOverlay())}
