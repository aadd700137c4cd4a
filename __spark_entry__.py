"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship web-scale query (geoparse -> tile ->
spatial join -> per-region counts) at sf0.001. `queries()` exposes one
callable per implemented spatial operator from SURVEY.md §2;
`oracle_sql()` carries the DuckDB twin of each (same column names — the
driver hash-compares values).

Float policy for oracle parity: sums of doubles are cast to
DECIMAL(18,6) in BOTH engines (exact arithmetic, no summation-order
wobble).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mundipy_spark.functions import st
from mundipy_spark.operators import geoparse, joins
from mundipy_spark.plans import pipeline
from mundipy_spark.sources import pages as pages_src

# deterministic probe cities for the kNN query
CITIES = [
    ("losangeles", -118.24, 34.05),
    ("newyork", -74.0, 40.71),
    ("london", -0.13, 51.51),
    ("tokyo", 139.69, 35.69),
    ("sydney", 151.21, -33.87),
    ("saopaulo", -46.63, -23.55),
    ("johannesburg", 28.05, -26.2),
    ("delhi", 77.21, 28.61),
]

CELL_RES = 8


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pages_src.synth_pages(spark, sf_dir)


def _geo_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return geoparse.parse_geo_tokens(_pages(spark, sf_dir), matched_only=True)


# SQL CTE that re-derives the geoparsed pages arithmetically (the oracle
# never sees our regexp — an independent derivation)
GEO_SQL_CTE = f"""
WITH {pages_src.PAGES_SQL_CTE.strip()},
geo AS (
  SELECT doc_id, url, text, lang,
         CAST((doc_id * {pages_src.LAT_MUL}) % 18000 - 9000 AS DOUBLE) / 100.0 AS lat,
         CAST((doc_id * {pages_src.LON_MUL}) % 36000 - 18000 AS DOUBLE) / 100.0 AS lon
  FROM pages WHERE doc_id % 8 <> 0
)
"""


def _rasterize_sql() -> str:
    """Oracle for q_rasterize: closed-form rect-overlap coverage over
    the full region x cell cross join."""
    from mundipy_spark.kernels import tiling

    res = RASTER_RES
    nx, ny = tiling.nx_at(res), tiling.ny_at(res)
    w, h = 360.0 / nx, 180.0 / ny
    cell_id = (
        f"((CAST({res} AS BIGINT) << {tiling._RES_SHIFT}) "
        f"| (kx << {tiling._X_SHIFT}) | ky)"
    )
    return f"""
WITH regions AS (
  SELECT 'R_' || rx || '_' || ry AS region,
         -180.0 + rx * 10.0 AS x0, -90.0 + ry * 10.0 AS y0
  FROM range(0, 36) t1(rx), range(0, 18) t2(ry)
),
cells AS (
  SELECT kx, ky,
         -180.0 + kx * {w} AS cx0, -90.0 + ky * {h} AS cy0
  FROM range(0, {nx}) t3(kx), range(0, {ny}) t4(ky)
),
ov AS (
  SELECT {cell_id} AS cell, region,
         greatest(0.0, least(x0 + 10.0, cx0 + {w}) - greatest(x0, cx0)) *
         greatest(0.0, least(y0 + 10.0, cy0 + {h}) - greatest(y0, cy0)) AS ia
  FROM regions, cells
)
SELECT cell, region, round(ia / {w * h}, 6) AS coverage FROM ov WHERE ia > 0
"""


def _crs_ingest_sql() -> str:
    """Oracle for q_crs_ingest: identical Mercator forward+inverse
    closed forms, rounded to 8 decimals before region assignment."""
    fx, fy = st.merc_forward_sql("lon", "lat")
    ilon, ilat = st.merc_inverse_sql("x", "y")
    region = pages_src.region_name_sql("blon", "blat", 10.0)
    return f"""
{GEO_SQL_CTE},
prj AS (
  SELECT url, {fx} AS x, {fy} AS y FROM geo
),
back AS (
  SELECT url, round({ilon}, 8) AS blon, round({ilat}, 8) AS blat FROM prj
)
SELECT {region} AS region, count(*) AS n FROM back GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_geocode_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full pipeline, pages per admin region."""
    pages = _pages(spark, sf_dir)
    regions = pages_src.synth_regions(spark, step_deg=10.0)
    out = pipeline.geocode_pages(pages, regions)
    return (
        out.filter(F.col("region").isNotNull())
        .groupBy("region")
        .agg(F.count("*").alias("n_pages"))
        .orderBy("region")
    )


def q_geoparse_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _geo_pages(spark, sf_dir).select("url", "lat", "lon")


def q_tile_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    geo = _geo_pages(spark, sf_dir)
    return (
        geo.withColumn("cell", st.cell_expr(F.col("lon"), F.col("lat"), CELL_RES))
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
    )


def q_cell_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution rollup: per-cell counts at res 8 re-aggregated to
    res 4 via quadtree PARENT arithmetic (never re-reading raw points);
    the oracle computes res-4 cells directly from lon/lat — floor
    composition guarantees exact agreement."""
    geo = _geo_pages(spark, sf_dir)
    fine = (
        geo.withColumn("cell", st.cell_expr(F.col("lon"), F.col("lat"), CELL_RES))
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
    )
    return joins.rollup_cells(fine, steps=4)


def q_bbox_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 range scan: geo pages inside a query bbox (Europe-ish)."""
    geo = _geo_pages(spark, sf_dir)
    return geo.filter(
        (F.col("lon") >= -10.0) & (F.col("lon") <= 30.0)
        & (F.col("lat") >= 35.0) & (F.col("lat") <= 60.0)
    ).select("url", "lat", "lon")


def q_bounds_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 global bounds of the geoparsed layer."""
    geo = _geo_pages(spark, sf_dir)
    return geo.agg(
        F.min("lon").alias("minx"),
        F.min("lat").alias("miny"),
        F.max("lon").alias("maxx"),
        F.max("lat").alias("maxy"),
        F.count("*").alias("n"),
    )


def q_knn_cities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 nearest join: each geo page's nearest probe city."""
    geo = _geo_pages(spark, sf_dir).select("doc_id", "url", "lon", "lat")
    cities = spark.createDataFrame(CITIES, "city string, lon double, lat double")
    out = joins.knn_join(
        geo, cities, k=1, probe_id="doc_id", start_res=3, min_res=1,
        tie_break=["t_city"],
    )
    return out.select(F.col("url"), F.col("t_city").alias("city"))


def q_within_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 distance join: geo-page pairs within 750 km (small probe set)."""
    geo = _geo_pages(spark, sf_dir).filter(F.col("doc_id") % 3 == 1).select(
        "doc_id", "lon", "lat"
    )
    pairs = joins.within_radius_join(geo, geo, radius_m=750_000.0)
    return (
        pairs.filter(F.col("doc_id") < F.col("r_doc_id"))
        .select(
            F.col("doc_id").alias("a"),
            F.col("r_doc_id").alias("b"),
        )
    )


def q_region_pop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/A4: region tagging + weighted aggregate over region pop."""
    pages = _pages(spark, sf_dir)
    regions = pages_src.synth_regions(spark, step_deg=10.0)
    out = pipeline.geocode_pages(pages, regions)
    return (
        out.filter(F.col("region").isNotNull())
        .groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("pop").cast("decimal(18,6)")), 2).cast("double").alias("sum_pop"),
        )
    )


GAZETTEER = [
    ("spark", -122.33, 47.61),
    ("window", -0.13, 51.51),
    ("vector", 2.35, 48.86),
    ("shuffle", 139.69, 35.69),
]


def q_gazetteer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gazetteer geoparse: tag each page with the first (min-name) place
    it mentions; broadcast join on extracted tokens, no page shuffle."""
    pages = _pages(spark, sf_dir)
    gaz = spark.createDataFrame(GAZETTEER, "place string, glon double, glat double")
    out = geoparse.parse_gazetteer(pages, gaz)
    return out.select("url", "place")


def q_crs_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRS-mixed ingestion (C3/S-ingest): the geo layer arrives as
    EPSG:3857 meters (x, y), normalizes to WGS84 with the pure-JVM
    Mercator inverse (zero Python on the probe path), and tile-joins
    the 4326 region grid. round(8) pins the float round-trip so the
    oracle (same closed forms in DuckDB) agrees bit-for-bit."""
    geo = _geo_pages(spark, sf_dir)
    x, y = st.merc_forward_exprs(F.col("lon"), F.col("lat"))
    projected = geo.select("url", x.alias("x"), y.alias("y"))  # the 3857 input
    lon, lat = st.merc_inverse_exprs(F.col("x"), F.col("y"))
    back = projected.select(
        "url", F.round(lon, 8).alias("lon"), F.round(lat, 8).alias("lat")
    )
    regions = pages_src.synth_regions(spark, step_deg=10.0)
    out = joins.tile_join_points(back, regions, res=CELL_RES, how="inner")
    return out.groupBy("region").agg(F.count("*").alias("n")).orderBy("region")


RASTER_RES = 5  # 5.625-deg cells vs 10-deg regions: fractional coverage


def q_rasterize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster side of raster<->vector: region polygons to per-cell
    EXACT coverage fractions (interior cells free, boundary cells via
    the planar intersection-area kernel)."""
    from mundipy_spark.operators import raster

    regions = pages_src.synth_regions(spark, step_deg=10.0).select("geometry", "region")
    out = raster.rasterize(regions, res=RASTER_RES, keep=["region"])
    return out.select(
        "cell", "region", F.round(F.col("coverage"), 6).alias("coverage")
    )


def q_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector side: classify the res-3 page-count grid into dense/sparse
    cells, dissolve cell rectangles per class, report exact planar
    areas (disjoint rect unions are area-preserving)."""
    from mundipy_spark.operators import raster

    geo = _geo_pages(spark, sf_dir)
    grid = (
        geo.withColumn("cell", st.cell_expr(F.col("lon"), F.col("lat"), 3))
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
        .withColumn("value", F.when(F.col("n") >= 3, "dense").otherwise("sparse"))
    )
    polys = raster.vectorize(grid, res=3, class_col="value")
    return polys.select(
        "value",
        F.round(st.st_area_planar(F.col("geometry")).cast("decimal(18,6)"), 2)
        .cast("double")
        .alias("area"),
    )


def q_geocode_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic (non-rectangular) PIP through the SAME tile-join
    machinery: regions split into SW/NE triangles whose membership the
    oracle re-derives as a half-plane sign test. Points on the shared
    diagonal belong to BOTH triangles (boundary-inclusive PIP)."""
    geo = _geo_pages(spark, sf_dir)
    tris = pages_src.synth_regions(spark, step_deg=10.0, triangles=True)
    out = joins.tile_join_points(geo, tris, res=8, how="inner")
    return out.groupBy("region").agg(F.count("*").alias("n"))


def q_overlap_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 catchment-style overlap-weighted aggregation: offset zones x
    region grid, weight = |zone∩region| / |region| (planar)."""
    zones = pages_src.synth_zones(spark)
    regions = pages_src.synth_regions(spark, step_deg=10.0)
    out = joins.overlap_weighted_join(zones, regions, "pop", zone_id="zone", res=6)
    return out.select(
        "zone",
        F.round(F.col("weighted_pop").cast("decimal(18,6)"), 4).cast("double").alias("wpop"),
    )


def q_dissolve_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dissolve (grouped geometric union): 10-degree regions unioned into
    30-degree blocks; oracle checks block keys + planar areas (each block
    = 9 disjoint-interior rectangles -> area 900)."""
    from mundipy_spark.operators.dissolve import dissolve

    regions = pages_src.synth_regions(spark, step_deg=10.0)
    gx = F.split(F.col("region"), "_").getItem(1).cast("long")
    gy = F.split(F.col("region"), "_").getItem(2).cast("long")
    blocks = regions.withColumn(
        "block",
        F.concat(F.lit("B_"), (gx / 3).cast("long").cast("string"), F.lit("_"),
                 (gy / 3).cast("long").cast("string")),
    )
    out = dissolve(blocks.select("block", "geometry"), "block")
    return out.select(
        "block",
        F.round(st.st_area_planar(F.col("geometry")).cast("decimal(18,6)"), 2)
        .cast("double").alias("area"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_geocode_regions(spark, "/root/testdata/sf0.001")


def q_gazetteer_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-word gazetteer geoparse (r5): place names tokenize through
    the SAME [^a-z0-9]+ tokenizer as page text and match as n-gram
    token windows, so 'zz-plaza' and 'zz  plaza' in text both match
    gazetteer 'Zz Plaza'. The synthetic mentions cycle separator
    variety (space / hyphen / double space) and lengths 1-3; overlap
    resolution is min-by-place (binary collation in both engines)."""
    pages = _pages(spark, sf_dir)
    sep = F.element_at(
        F.array(F.lit(" "), F.lit("-"), F.lit("  ")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    mention = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit(" zz"), sep, F.lit("plaza")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit(" qq"), sep, F.lit("port"), sep, F.lit("east")),
        )
        .when(F.col("doc_id") % 4 == 2, F.lit(" zz"))
        .otherwise(F.lit(""))
    )
    pages = pages.withColumn("text", F.concat(F.col("text"), mention))
    gaz = spark.createDataFrame(
        [
            ("Zz Plaza", -74.0, 40.71),
            ("qq port east", 4.48, 51.92),
            ("zz", 2.35, 48.86),
        ],
        "place string, glon double, glat double",
    )
    out = geoparse.parse_gazetteer(pages, gaz)
    return out.select("url", "place", "glon", "glat")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One callable per spatial driver row, keyed like oracle_sql()."""
    return {
        "geocode_regions": q_geocode_regions,
        "geocode_triangles": q_geocode_triangles,
        "geoparse_points": q_geoparse_points,
        "tile_cells": q_tile_cells,
        "cell_rollup": q_cell_rollup,
        "bbox_scan": q_bbox_scan,
        "bounds_agg": q_bounds_agg,
        "knn_cities": q_knn_cities,
        "within_radius": q_within_radius,
        "region_pop": q_region_pop,
        "crs_ingest": q_crs_ingest,
        "rasterize": q_rasterize,
        "vectorize": q_vectorize,
        "overlap_weighted": q_overlap_weighted,
        "dissolve_blocks": q_dissolve_blocks,
        "gazetteer": q_gazetteer,
        "gazetteer_multi": q_gazetteer_multi,
    }


def oracle_sql() -> dict[str, str]:
    region = pages_src.region_name_sql("lon", "lat", 10.0)
    cell = st.cell_sql("lon", "lat", CELL_RES)
    knn_dist = st.haversine_sql("lon", "lat", "c.clon", "c.clat")
    pair_dist = st.haversine_sql("g1.lon", "g1.lat", "g2.lon", "g2.lat")
    cities_values = ", ".join(f"('{n}', {lo}, {la})" for n, lo, la in CITIES)

    return {
        "geocode_regions": f"""
{GEO_SQL_CTE}
SELECT {region} AS region, count(*) AS n_pages
FROM geo GROUP BY 1 ORDER BY 1
""",
        "geoparse_points": f"""
{GEO_SQL_CTE}
SELECT url, lat, lon FROM geo
""",
        "tile_cells": f"""
{GEO_SQL_CTE}
SELECT {cell} AS cell, count(*) AS n FROM geo GROUP BY 1
""",
        "cell_rollup": f"""
{GEO_SQL_CTE}
SELECT {st.cell_sql("lon", "lat", 4)} AS cell, count(*) AS n FROM geo GROUP BY 1
""",
        "bbox_scan": f"""
{GEO_SQL_CTE}
SELECT url, lat, lon FROM geo
WHERE lon >= -10.0 AND lon <= 30.0 AND lat >= 35.0 AND lat <= 60.0
""",
        "bounds_agg": f"""
{GEO_SQL_CTE}
SELECT min(lon) AS minx, min(lat) AS miny, max(lon) AS maxx, max(lat) AS maxy,
       count(*) AS n
FROM geo
""",
        "knn_cities": f"""
{GEO_SQL_CTE},
cities(cname, clon, clat) AS (VALUES {cities_values}),
scored AS (
  SELECT geo.url, c.cname,
         row_number() OVER (
           PARTITION BY geo.url ORDER BY {knn_dist} ASC, c.cname ASC
         ) AS rn
  FROM geo, cities c
)
SELECT url, cname AS city FROM scored WHERE rn = 1
""",
        "within_radius": f"""
{GEO_SQL_CTE}
SELECT g1.doc_id AS a, g2.doc_id AS b
FROM geo g1, geo g2
WHERE g1.doc_id % 3 = 1 AND g2.doc_id % 3 = 1
  AND g1.doc_id < g2.doc_id
  AND {pair_dist} <= 750000.0
""",
        "region_pop": f"""
{GEO_SQL_CTE},
regions AS (
  SELECT {region} AS region, lang FROM geo
),
pop AS (
  SELECT region, lang,
         CAST((CAST(split_part(region, '_', 2) AS BIGINT) * 31 +
               CAST(split_part(region, '_', 3) AS BIGINT) * 17) % 1000 + 1 AS DOUBLE) AS pop
  FROM regions
)
SELECT lang, count(*) AS n, CAST(round(sum(CAST(pop AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_pop
FROM pop GROUP BY lang
""",
        "crs_ingest": _crs_ingest_sql(),
        "rasterize": _rasterize_sql(),
        "vectorize": f"""
{GEO_SQL_CTE},
grid AS (
  SELECT {st.cell_sql("lon", "lat", 3)} AS cell, count(*) AS n FROM geo GROUP BY 1
),
lab AS (
  SELECT CASE WHEN n >= 3 THEN 'dense' ELSE 'sparse' END AS value,
         count(*) AS ncells
  FROM grid GROUP BY 1
)
SELECT value,
       CAST(round(CAST(ncells * 506.25 AS DECIMAL(18,6)), 2) AS DOUBLE) AS area
FROM lab
""",
        "geocode_triangles": f"""
{GEO_SQL_CTE},
aug AS (
  SELECT least(greatest(CAST(floor((lon + 180.0) / 10.0) AS BIGINT), 0), 35) AS gx,
         least(greatest(CAST(floor((lat + 90.0) / 10.0) AS BIGINT), 0), 17) AS gy,
         lon, lat
  FROM geo
),
frac AS (
  SELECT gx, gy,
         (lon + 180.0) / 10.0 - gx AS fx,
         (lat + 90.0) / 10.0 - gy AS fy
  FROM aug
),
tri AS (
  SELECT 'T_' || gx || '_' || gy || '_sw' AS region FROM frac WHERE fx + fy <= 1.0 + 1e-6
  UNION ALL
  SELECT 'T_' || gx || '_' || gy || '_ne' AS region FROM frac WHERE fx + fy >= 1.0 - 1e-6
)
SELECT region, count(*) AS n FROM tri GROUP BY region
""",
        "overlap_weighted": """
WITH zones AS (
  SELECT 'Z_' || zx || '_' || zy AS zone,
         -175.0 + zx * 20.0 AS zx0, -85.0 + zy * 20.0 AS zy0
  FROM range(0, 17) t1(zx), range(0, 8) t2(zy)
),
regions AS (
  SELECT -180.0 + rx * 10.0 AS rx0, -90.0 + ry * 10.0 AS ry0,
         CAST((rx * 31 + ry * 17) % 1000 + 1 AS DOUBLE) AS pop
  FROM range(0, 36) t3(rx), range(0, 18) t4(ry)
),
pairs AS (
  SELECT z.zone, r.pop,
         greatest(0.0, least(z.zx0 + 20.0, r.rx0 + 10.0) - greatest(z.zx0, r.rx0)) *
         greatest(0.0, least(z.zy0 + 20.0, r.ry0 + 10.0) - greatest(z.zy0, r.ry0)) AS ia
  FROM zones z, regions r
)
SELECT zone, CAST(round(CAST(sum(pop * ia / 100.0) AS DECIMAL(18,6)), 4) AS DOUBLE) AS wpop
FROM pairs WHERE ia > 0 GROUP BY zone
""",
        "dissolve_blocks": """
SELECT 'B_' || bx || '_' || by AS block, CAST(900.00 AS DOUBLE) AS area
FROM range(0, 12) t1(bx), range(0, 6) t2(by)
""",
        "gazetteer": f"""
{GEO_SQL_CTE.rstrip()},
gaz(place) AS (VALUES {", ".join(f"('{p}')" for p, _, _ in GAZETTEER)}),
hits AS (
  SELECT p.url, g.place
  FROM pages p, gaz g
  WHERE list_contains(regexp_split_to_array(lower(p.text), '[^a-z0-9]+'), g.place)
)
SELECT url, min(place) AS place FROM hits GROUP BY url
""",
        "gazetteer_multi": f"""
{GEO_SQL_CTE.rstrip()},
mut AS (
  SELECT url,
         text || CASE doc_id % 4
           WHEN 0 THEN ' zz' || sep || 'plaza'
           WHEN 1 THEN ' qq' || sep || 'port' || sep || 'east'
           WHEN 2 THEN ' zz'
           ELSE '' END AS text
  FROM (
    SELECT *, CASE doc_id % 3 WHEN 0 THEN ' ' WHEN 1 THEN '-'
              ELSE '  ' END AS sep
    FROM pages
  )
), toks AS (
  SELECT url,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS l
  FROM mut
), g1 AS (
  SELECT url, unnest(l) AS g FROM toks
), g2 AS (
  SELECT url, array_to_string(l[i:i+1], ' ') AS g
  FROM (SELECT url, l, unnest(range(1, len(l))) AS i FROM toks)
), g3 AS (
  SELECT url, array_to_string(l[i:i+2], ' ') AS g
  FROM (SELECT url, l, unnest(range(1, len(l) - 1)) AS i FROM toks)
), allg AS (
  SELECT * FROM g1 UNION ALL SELECT * FROM g2 UNION ALL SELECT * FROM g3
), gaz(place, key, glon, glat) AS (VALUES
  ('Zz Plaza', 'zz plaza', -74.0, 40.71),
  ('qq port east', 'qq port east', 4.48, 51.92),
  ('zz', 'zz', 2.35, 48.86)
), ranked AS (
  SELECT a.url, g.place, g.glon, g.glat,
         row_number() OVER (PARTITION BY a.url ORDER BY g.place) AS rn
  FROM allg a JOIN gaz g ON g.key = a.g
)
SELECT url, place, glon, glat FROM ranked WHERE rn = 1
""",
    }
