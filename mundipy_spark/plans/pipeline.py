"""The web-scale pipeline: pages -> geoparse -> tile -> spatial join.

This is the north-star workload (BASELINE.json north_rule): URLs from a
Common-Crawl-style table are geoparsed from extracted text, encoded into
tile cells at multiple resolutions, and spatially joined against a
polygon layer via broadcast of the tiled polygon index.

Plan shape (the whole point — read it against .explain):

  parquet scan (url, text[, lang])       <- column pruning: html is
    |                                        never read
  regexp geoparse + cell arithmetic      <- WholeStageCodegen, no Python
    |
  broadcast hash join on cell,           <- polygon tile index broadcast,
  LEFT OUTER, condition:                    pages NEVER shuffle
    cell_full OR (bbox AND exact PIP)    <- JVM refine over the cell's
    |                                       segments, in codegen; no
    |                                       Python (dense layers: an
    |                                       Arrow UDF over each page's
    |                                       array of polygon ids, the
    |                                       polygons broadcast once)
  write, partitioned by coarse cell      <- partition pruning for readers,
                                            checkpoint key for resume

Skew: dense urban tiles are the classic hot key. With a broadcast index
there is no shuffle to skew; if the index outgrows broadcast (continent-
scale OSM), tile_join_points(broadcast_index=False, salt=S) spreads hot
cells and AQE skew-join is on as backstop (session defaults).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mundipy_spark.functions import st
from mundipy_spark.operators import geoparse, joins
from mundipy_spark.sources import checkpoint as ckpt
from mundipy_spark.sources import pages as pages_src

CELL_RES_FINE = 8
CELL_RES_COARSE = 4


def geocode_pages(
    pages: DataFrame,
    regions: DataFrame,
    res: int = CELL_RES_FINE,
    broadcast_index: bool = True,
    salt: int = 0,
    index: DataFrame | None = None,
) -> DataFrame:
    """pages(url, text, ...) -> geocoded + region-tagged pages.

    Output: url, text (byte-identical passthrough), lat, lon,
    cell_r{res}, cell_r{coarse}, region, pop. Pages without a geo
    mention keep null lat/lon/region (left semantics — the reference's
    'none' default, tests/test_example.py:11-16)."""
    parsed = geoparse.parse_geo_tokens(pages)
    # ONE scan: left tile-join over all parsed pages — un-geocoded rows
    # (null lat -> null cell) and geocoded rows that hit no region both
    # pass through with null polygon columns, inline in the same plan
    out = joins.tile_join_points(
        parsed,
        regions,
        res=res,
        broadcast_index=broadcast_index,
        salt=salt,
        how="left",
        index=index,
    )
    return (
        out.withColumn(
            f"cell_r{res}",
            F.when(
                F.col("lat").isNotNull(), st.cell_expr(F.col("lon"), F.col("lat"), res)
            ),
        )
        .withColumn(
            f"cell_r{CELL_RES_COARSE}",
            F.when(
                F.col("lat").isNotNull(),
                st.cell_expr(F.col("lon"), F.col("lat"), CELL_RES_COARSE),
            ),
        )
    )


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    resume: bool = True,
    region_step_deg: float = 10.0,
    max_keys: int | None = None,
) -> dict:
    """Full checkpointed run over the synthetic pages table.

    Work unit = coarse cell (plus one NULL-key unit for un-geocoded
    pages). A re-run with an existing checkpoint skips completed keys
    whose input fingerprints still match, writes only the residue, and
    reports what it skipped — the resume path north_rule requires.
    max_keys bounds one invocation's work (incremental runs; the rest
    is reported as keys_deferred and picked up by the next run).

    Crash safety: the data write uses DYNAMIC partition overwrite, so
    a key reprocessed after a hard stop (killed JVM between the data
    commit and the checkpoint commit) REPLACES its partition instead
    of appending duplicates — resume is idempotent at every kill
    point; tests/test_pipeline.py pins this with a SIGKILL mid-write.
    """
    run_id = f"run-{int(time.time() * 1000)}"
    pages = pages_src.synth_pages(spark, sf_dir)
    regions = pages_src.synth_regions(spark, step_deg=region_step_deg)

    out = geocode_pages(pages, regions).withColumn(
        "part_key", F.coalesce(F.col(f"cell_r{CELL_RES_COARSE}"), F.lit(-1))
    )

    ckpt_path = f"{out_dir}/_checkpoint"
    data_path = f"{out_dir}/geocoded"

    # lineage of the INPUT slice feeding each work unit (fingerprint on
    # url+text: the byte-identity invariant is part of the fingerprint).
    # ONE pipeline execution computes ALL per-key metrics rows (tiny:
    # one row per coarse cell); the pending/skipped split then runs
    # driver-side against the (equally tiny) checkpoint table, and the
    # post-write completion records reuse the same collected rows —
    # without this, metrics.count() and the 'done' recompute each
    # re-ran the whole geoparse+join pipeline (4 executions per run
    # instead of 2: one metrics pass + the data write).
    # rows_in = distinct pages feeding the key (the join fans a page out
    # to one row PER matched region, so plain count(*) here is the
    # OUTPUT size); rows_out = written rows. An audit comparing rows_in
    # against the true input slice now sees the real number.
    metric_rows = ckpt.lineage_metrics(
        out, "part_key", ["url", "text"], in_key_cols=["url"]
    ).collect()
    if resume:
        done_pairs = {
            (r.part_key, r.fingerprint)
            for r in ckpt.completed_keys(spark, ckpt_path).collect()
        }
    else:
        done_pairs = set()
    todo_rows = [
        r for r in metric_rows if (r.part_key, r.fingerprint) not in done_pairs
    ]
    pending_total = len(todo_rows)
    if max_keys is not None:
        todo_rows = sorted(todo_rows, key=lambda r: r.part_key)[:max_keys]
    todo_keys = [r.part_key for r in todo_rows]
    deferred = pending_total - len(todo_keys)
    skipped = len(metric_rows) - pending_total

    if todo_keys:
        slice_df = out.filter(F.col("part_key").isin(todo_keys))
        # per-writer option, not the session conf: toggling the global
        # races with concurrent writes in the same session
        (
            slice_df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("part_key")
            .parquet(data_path)
        )
        # the write succeeded, so the written slice IS the input slice
        # whose metrics were just computed — record those rows verbatim
        done = spark.createDataFrame(
            [
                (r.part_key, r.rows_in, r.fingerprint, r.rows_out)
                for r in todo_rows
            ],
            "part_key long, rows_in long, fingerprint long, rows_out long",
        )
        ckpt.record_completion(spark, done, ckpt_path, run_id)

    return {
        "run_id": run_id,
        "keys_total": pending_total + skipped,
        "keys_processed": len(todo_keys),
        "keys_skipped_resume": skipped,
        "keys_deferred": deferred,
        "out": data_path,
        "checkpoint": ckpt_path,
    }
