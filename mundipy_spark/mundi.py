"""Mundi.q — the row-wise dataflow engine (reference mundipy/mundi.py).

`q(process)` runs a user function over every feature of the main layer,
injecting side layers by PARAMETER NAME (the reference's reflection
trick, mundi.py:35-50) as broadcast LocalIndex objects. Execution is
mapInPandas over the main DataFrame: Arrow batches in, the user's
Python per row (that is the reference's contract — U1 is the one
deliberately row-wise operator), Arrow batches out. Rows are read as
plain tuples, not namedtuples, so property names stay as they are, and
stdout is captured once per batch. A side-layer probe with a Point is
one numpy pass over the layer LocalIndex prepared when it was built.

Before the run, the driver fixes the output schema by calling the fn on
the first rows only until every key of the first result has a type —
usually once. q() destroys the side-layer broadcasts after collecting;
q_df leaves them, with its cached main layer, to release().

Contract parity (judge-visible semantics, SURVEY §7.4):
- fn returning None drops the row (mundi.py:138-140);
- the first result fixes the property key set; deviation raises
  TypeError (mundi.py:149-159);
- per-row stdout is captured into `_stdout`, `_id` is the input ordinal
  (mundi.py:135,146-147);
- n_start/n_end slice the iteration (mundi.py:114,124);
- q returns a GeoJSON FeatureCollection (mundi.py:168-171); q_df
  returns the DataFrame (the Spark-first surface).
"""

from __future__ import annotations

import contextlib
import inspect
import io
import json

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import functions as F

from mundipy_spark.dataset import Map
from mundipy_spark.feature import Feature
from mundipy_spark.kernels import wkb as wkb_mod
from mundipy_spark.pcs import unit_scale


class Mundi:
    def __init__(self, mapdata: Map, main: str, units: str = "meters"):
        if main not in mapdata:
            raise KeyError(f"main layer {main!r} not in map")
        self.mapdata = mapdata
        self.main = main
        self.units = units
        self.scale = unit_scale(units)
        self._cache = None
        self._broadcasts = []
        self._progress_acc = None
        self._input_total = 0

    # --- parameter-name injection (reference mundi.py:35-50) ---
    def _resolve_layers(self, fn) -> list[str]:
        spec = inspect.getfullargspec(fn)
        params = spec.args
        if len(params) < 1:
            raise TypeError("process fn must take the main feature as first arg")
        layer_names = params[1:]
        for name in layer_names:
            if name not in self.mapdata:
                # exact message parity with the reference
                # (tests/test_mundi_q.py:50-56)
                raise TypeError(
                    f"mundi process() function requests dataset '{name}', "
                    "but no dataset was defined on Mundi"
                )
        return layer_names

    def q(self, fn, n_start: int | None = None, n_end: int | None = None,
          progress: bool = False, keys: dict[str, str] | None = None) -> dict:
        """progress=True meters rows processed (U6, the reference's tqdm
        role, mundi.py:124-135): an accumulator incremented per Arrow
        batch inside the executors, polled by a driver thread that
        writes `done/total` to stderr while the job runs."""
        try:
            df = self.q_df(fn, n_start, n_end, keys=keys, progress=progress)
            if progress:
                feats = self._collect_with_progress(df)
            else:
                feats = self._collect_features(df)
            return {"type": "FeatureCollection", "features": feats}
        finally:
            self.release()

    def _collect_with_progress(self, df) -> list[dict]:
        import sys
        import threading

        acc, total = self._progress_acc, self._input_total
        stop = threading.Event()

        def mon():
            while not stop.wait(0.5):
                sys.stderr.write(f"\rmundi.q: {acc.value}/{total} features")
                sys.stderr.flush()
            sys.stderr.write(f"\rmundi.q: {acc.value}/{total} features\n")
            sys.stderr.flush()

        th = threading.Thread(target=mon, daemon=True)
        th.start()
        try:
            return self._collect_features(df)
        finally:
            stop.set()
            th.join(timeout=2.0)

    def release(self) -> None:
        """Drop what q_df leaves behind: the cached ordinal-stamped main
        layer (the cache is what keeps q_df at ONE source scan) and the
        side-layer broadcasts, whose pickles stay in the SparkContext's
        temp dir until destroyed. q() frees both after collecting; q_df
        callers free them here or on the next q_df, after which the
        DataFrame q_df returned can no longer run."""
        cache = getattr(self, "_cache", None)
        if cache is not None:
            cache.unpersist()
            self._cache = None
        for bc in getattr(self, "_broadcasts", ()):
            bc.destroy()
        self._broadcasts = []

    def _collect_features(self, df) -> list[dict]:
        feats = []
        for r in df.collect():
            d = r.asDict()
            g = d.pop("geometry")
            feats.append(
                {
                    "type": "Feature",
                    "geometry": wkb_mod.to_geojson(wkb_mod.loads(bytes(g))),
                    "properties": d,
                }
            )
        return feats

    def q_df(self, fn, n_start: int | None = None, n_end: int | None = None,
             keys: dict[str, str] | None = None, progress: bool = False):
        """The distributed run; returns DataFrame(geometry, <keys>, _stdout, _id).

        ONE scan of the main layer: the `_mid`-stamped frame is persisted
        (memory-and-disk), the per-partition count job materializes it,
        and every later job — the driver schema probe, the sparse-output
        fallback probe, the real mapInPandas run — reads the cache, never
        the source (reference does one pass, mundi.py:114-161; asserted
        by tests/test_mundi.py::test_mundi_q_single_scan). The cache is
        released by q(), by the next q_df call, or by release().

        keys: optional {name: spark_type} escape hatch fixing the output
        key set up front (skips the schema probes entirely — useful when
        the process fn returns rows rarely and probing would be a second
        pass of fn over the data)."""
        layer_names = self._resolve_layers(fn)
        main_ds = self.mapdata[self.main]

        base_cols = [
            c
            for c in main_ds.df.columns
            if c not in ("minx", "miny", "maxx", "maxy")
        ]
        self.release()
        main_df, cache, total = _stamp_ordinal(main_ds.df.select(base_cols))
        self._cache = cache
        self._input_total = total
        self._progress_acc = (
            main_ds.df.sparkSession.sparkContext.accumulator(0) if progress else None
        )
        if n_start is not None:
            main_df = main_df.filter(F.col("_id") >= n_start)
        if n_end is not None:
            main_df = main_df.filter(F.col("_id") < n_end)
        if n_start is not None or n_end is not None:
            lo = max(n_start or 0, 0)
            hi = min(n_end if n_end is not None else total, total)
            self._input_total = max(hi - lo, 0)

        # side layers -> broadcast local indexes (carrying session units)
        sc = main_ds.df.sparkSession.sparkContext
        bc_layers = {
            name: sc.broadcast(self.mapdata[name].local_index().with_scale(self.scale))
            for name in layer_names
        }
        self._broadcasts = list(bc_layers.values())
        geom_col = main_ds.geom_col
        uscale = self.scale

        if keys is not None:
            key_fields, key_types = list(keys), dict(keys)
        else:
            # infer the output key set from the first NON-None result (the
            # reference fixes it from the first result the fn actually
            # returns, however deep in the input — mundi.py:149-159).
            # Two stages, both over the CACHE: (1) a driver-side probe of
            # the first 256 rows; (2) if the fn dropped all of them, a
            # distributed probe that stops at the first returned result
            # per partition and takes the globally-first one (so sparse-
            # output fns keep exact reference semantics at any depth).
            first = main_df.orderBy("_id").limit(256).collect()
            if not first:
                raise ValueError("main layer is empty")
            key_fields, key_types = None, {}
            for row in first:
                ret = _call_one(fn, row, geom_col, bc_layers, uscale)
                if ret is None:
                    continue
                # key NAMES are fixed by the first result (reference
                # rule); each key's TYPE comes from its first NON-null
                # value across the probe window — a null first value
                # (common in passthrough GeoJSON properties) must not
                # mis-type a later numeric. The probe stops once every
                # key is typed; all-null keys fall back to string,
                # matching how a null-only column reads anyway.
                if key_fields is None:
                    key_fields = list(ret.features.keys())
                for k in key_fields:
                    if k not in key_types:
                        t = _sql_type(ret.features.get(k))
                        if t is not None:
                            key_types[k] = t
                if len(key_types) == len(key_fields):
                    break
            if key_fields is not None:
                key_types = {k: key_types.get(k, "string") for k in key_fields}
            elif len(first) == 256:
                key_fields, key_types = _distributed_keyset_probe(
                    main_df.filter(F.col("_id") > first[-1]["_id"]),
                    fn, geom_col, bc_layers, layer_names, uscale,
                )
            else:  # whole (sliced) input probed driver-side: fn drops everything
                key_fields, key_types = [], {}
        schema_fields = ["geometry binary"]
        schema_fields += [f"`{k}` {key_types[k]}" for k in key_fields]
        schema_fields += ["_stdout string", "_id long"]
        schema = ", ".join(schema_fields)
        progress_acc = self._progress_acc

        def run(batches):
            layers = [bc_layers[n].value for n in layer_names]
            key_set = set(key_fields)
            for pdf in batches:
                if progress_acc is not None:
                    progress_acc.add(len(pdf))
                out_rows = []
                # one capture per batch, emptied before each row, so
                # each row's _stdout holds what that row printed
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    for feat, rid in _row_features(pdf, geom_col, uscale):
                        buf.seek(0)
                        buf.truncate()
                        ret = fn(feat, *layers)
                        if ret is None:
                            continue
                        if not isinstance(ret, Feature):
                            raise TypeError(
                                f"process fn must return a Feature or None, got {type(ret)}"
                            )
                        if set(ret.features) != key_set:
                            raise TypeError(
                                f"result properties {list(ret.features)} do not match "
                                f"first result {key_fields}"
                            )
                        out_rows.append(
                            {
                                "geometry": wkb_mod.dumps(ret.geom),
                                **{k: ret.features[k] for k in key_fields},
                                "_stdout": buf.getvalue(),
                                "_id": rid,
                            }
                        )
                yield pd.DataFrame(
                    out_rows,
                    columns=["geometry", *key_fields, "_stdout", "_id"],
                )

        return main_df.mapInPandas(run, schema)

    # --- single-row debug run + plot (U7, reference mundi.py:84-112) ---
    def plot(self, fn, element_index: int = 0) -> dict:
        layer_names = self._resolve_layers(fn)
        main_ds = self.mapdata[self.main]
        # element_index must identify a STABLE row: bare limit() has no
        # ordering guarantee across runs/partitions, so select by the
        # same input ordinal q_df stamps (reference: positional nth row)
        rows = (
            _with_input_ordinal(main_ds.df)
            .filter(F.col("_id") == element_index)
            .collect()
        )
        if not rows:
            raise IndexError(element_index)
        row = rows[0]
        from mundipy_spark import utils

        plotted: list[Feature] = []
        token = utils._plot_ctx.set(plotted.append)
        try:
            d = row.asDict()
            for k in ("minx", "miny", "maxx", "maxy", "_id"):
                d.pop(k, None)
            g = d.pop(main_ds.geom_col)
            feat = Feature(bytes(g), d, self.scale)
            idx = {n: self.mapdata[n].local_index().with_scale(self.scale) for n in layer_names}
            fn(feat, *[idx[n] for n in layer_names])
        finally:
            utils._plot_ctx.reset(token)
        geoms = []
        for p in plotted:
            for item in (p if isinstance(p, list) else [p]):
                g = item.geom if isinstance(item, Feature) else item
                if g[0] in ("Polygon", "MultiPolygon"):
                    from mundipy_spark.kernels import constructive

                    g = constructive.make_valid(g)  # buffer(0) hygiene, mundi.py:68-69
                geoms.append(g)
        return {
            "type": "GeometryCollection",
            "geometries": [wkb_mod.to_geojson(g) for g in geoms],
        }


def _stamp_ordinal(df, persist: bool = True, out: str = "_id"):
    """Input-ordinal `_id` (reference mundi.py:146-147 semantics: the
    row's position in partition-major scan order) WITHOUT a global
    single-task window: monotonically_increasing_id is
    (partitionId << 33) | rowInPartition, so per-partition counts (a
    tiny agg — one row per partition) become cumulative offsets. The
    counts are collected driver-side and broadcast-joined back from a
    LOCAL offsets table, so the stamped subtree is referenced exactly
    once; with persist=True the `_mid` frame is cached (memory+disk)
    and the counts job itself materializes it — every downstream job
    reads the cache, giving ONE source scan total. The main layer never
    shuffles and no stage runs single-task over the data.

    Returns (stamped_df, cache_handle_or_None, total_rows)."""
    mask = (1 << 33) - 1
    with_mid = df.withColumn("_mid", F.monotonically_increasing_id())
    if persist:
        with_mid = with_mid.persist(StorageLevel.MEMORY_AND_DISK)
    pid = F.shiftright(F.col("_mid"), 33)
    counts = sorted(
        with_mid.groupBy(pid.alias("_pid")).agg(F.count("*").alias("_n")).collect(),
        key=lambda r: r._pid,
    )
    offs, acc = [], 0
    for r in counts:
        offs.append((int(r._pid), acc))
        acc += int(r._n)
    offsets = df.sparkSession.createDataFrame(
        offs or [(0, 0)], "_pid long, _off long"
    )
    stamped = (
        with_mid.join(F.broadcast(offsets), pid == F.col("_pid"), "left")
        .withColumn(
            out,
            F.coalesce(F.col("_off"), F.lit(0)) + F.col("_mid").bitwiseAND(F.lit(mask)),
        )
        .drop("_pid", "_off", "_mid")
    )
    return stamped, (with_mid if persist else None), acc


def _with_input_ordinal(df, out: str = "_id"):
    """Uncached form of _stamp_ordinal (two passes of the source: the
    counts job + the consumer) for callers that must not leave a cache
    behind; Mundi.q uses the persisted form."""
    stamped, _, _ = _stamp_ordinal(df, persist=False, out=out)
    return stamped


def _sql_type(v) -> str | None:
    """Spark SQL type of a property value, or None when the value is
    null (type unknown — callers take the first non-null value per key
    across the probe window, falling back to string). Container values
    RAISE: a list/dict first value would fix a column type later scalar
    values corrupt, and the reference's dict properties have no Spark
    column analogue for them."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        return "long"
    if isinstance(v, float):
        return "double"
    if isinstance(v, str):
        return "string"
    raise TypeError(
        f"property value {v!r} ({type(v).__name__}) cannot fix a column "
        "type; properties must be null or scalar (bool/int/float/str)"
    )


def _distributed_keyset_probe(df, fn, geom_col, bc_layers, layer_names, uscale):
    """Executor-side key-set inference for sparse-output process fns:
    each partition runs fn row-by-row (scan order) and emits AT MOST one
    row — the ordinal + key/type list of its first non-None result —
    then stops; the globally-first result (min _id) fixes the key set,
    exactly the reference's first-returned-result rule (mundi.py:149-159)
    at any depth. Cost: fn runs on rows before each partition's first
    hit once more than strictly needed — only paid when the fn drops the
    entire 256-row driver probe. Reads the q_df cache, not the source."""

    def probe(batches):
        layers = [bc_layers[n].value for n in layer_names]
        for pdf in batches:
            found = None
            with contextlib.redirect_stdout(io.StringIO()):
                for feat, rid in _row_features(pdf, geom_col, uscale):
                    ret = fn(feat, *layers)
                    if ret is not None:
                        found = ret, rid
                        break
            if found is None:
                continue
            ret, rid = found
            if not isinstance(ret, Feature):
                raise TypeError(
                    f"process fn must return a Feature or None, got {type(ret)}"
                )
            spec = [
                # single-result probe: null values default to string
                # (same fallback as the driver probe's all-null case)
                (k, _sql_type(v) or "string")
                for k, v in ret.features.items()
            ]
            yield pd.DataFrame([{"_first_id": rid, "_keys": json.dumps(spec)}])
            return

    hits = df.mapInPandas(probe, "_first_id long, _keys string").collect()
    if not hits:
        return [], {}
    best = min(hits, key=lambda r: r._first_id)
    spec = json.loads(best._keys)
    return [k for k, _ in spec], dict(spec)


def _row_features(pdf: pd.DataFrame, geom_col: str, uscale: float = 1.0):
    """(Feature, _id) per row of an Arrow batch. Plain tuples, not
    namedtuples: those rename fields such as `class`, `my prop` and
    `_x`."""
    cols = list(pdf.columns)
    gi, ii = cols.index(geom_col), cols.index("_id")
    props = [(j, c) for j, c in enumerate(cols) if j not in (gi, ii)]
    for t in pdf.itertuples(index=False, name=None):
        yield Feature(bytes(t[gi]), {c: t[j] for j, c in props}, uscale), int(t[ii])


def _call_one(fn, spark_row, geom_col, bc_layers, uscale: float = 1.0):
    d = spark_row.asDict()
    d.pop("_id", None)
    g = d.pop(geom_col)
    feat = Feature(bytes(g), d, uscale)
    args = [bc.value for bc in bc_layers.values()]
    with contextlib.redirect_stdout(io.StringIO()):
        return fn(feat, *args)
