#!/usr/bin/env python3
"""Benchmark of the mundipy_spark spatial engine.

    python3 spatialbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout (the directory holding
``mundipy_spark/``). One process, one local Spark session of at most
four cores. Inputs come from the seed alone; every job's output is
checked against an oracle in ``spatialbench/oracles.py`` that shares no
code with the engine. The last line of standard output is one JSON
object: with ``--trace 0`` the end-to-end metrics, with ``--trace 1``
the per-layer metrics (spans go to ``.spatialbench/``). See
``spatialbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time
import traceback
from statistics import median

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".spatialbench")
MAX_CPUS = 4
DRIVER_MEM = "1g"
SETUP_ROUNDS = 3

# per-layer metric -> unit; the traced run reports every one of them,
# 0 where the workload does not exercise the layer
PER_LAYER = {
    "operators.geoparse.busy_s": "s",
    "operators.geoparse.hit_ratio": "ratio",
    "operators.joins.tile_index.busy_s": "s",
    "operators.joins.tile_index.rows": "count",
    "operators.joins.tile_index.boundary_ratio": "ratio",
    "operators.joins.tile_index.max_segs_per_cell": "count",
    "operators.joins.tile_index.builds": "count",
    "operators.joins.probe.busy_s": "s",
    "operators.joins.probe.candidates": "count",
    "operators.joins.probe.accept_ratio": "ratio",
    "functions.st.python_rows": "count",
    "functions.st.python_bytes_sent": "B",
    "functions.st.python_run_s": "s",
    "spark.broadcast_bytes": "B",
    "spark.shuffle_bytes_written": "B",
    "kernels.tiling.cover_polys_per_s": "1/s",
    "kernels.predicates.pip_points_per_s": "1/s",
    "kernels.wkb.loads_per_s": "1/s",
    "kernels.wkb.dumps_per_s": "1/s",
    "kernels.overlay.pairs_per_s": "1/s",
    "operators.joins.overlap.candidate_pairs": "count",
    "operators.joins.overlap.positive_ratio": "ratio",
    "mundi.q_df.plan_s": "s",
    "mundi.collect_s": "s",
    "mundi.user_fn.busy_s": "s",
    "dataset.local_index.build_s": "s",
    **{
        f"feature.LocalIndex.{op}.{m}": u
        for op in ("intersects", "nearest", "within")
        for m, u in (("busy_s", "s"), ("calls", "count"), ("hits_per_call", "count"))
    },
    "trace.overhead_ratio": "ratio",
}


def fail(msg: str) -> None:
    print(f"spatialbench: {msg}", file=sys.stderr)
    sys.exit(2)


def configure_env(cpus: int) -> dict:
    """Fit the session to the host and keep every file it writes inside
    the checkout. Set before the JVM starts; workers inherit it."""
    local, tmp = os.path.join(WORK, "local"), os.path.join(WORK, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # workers import the engine (and this package, for Mundi.q's
        # process function) from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        # the JVM's temp files, and no hsperfdata under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


def start_session(cpus: int):
    from mundipy_spark.session import get_spark

    spark = get_spark("spatialbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop Spark, end the gateway JVM and wait for every process this
    run started to exit."""
    from pyspark import SparkContext

    from spatialbench.trace import descendants

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while kids and time.monotonic() < deadline:
        kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for p in kids:
        while os.path.exists(f"/proc/{p}"):
            time.sleep(0.05)


def tail_percentile(samples: list[float]) -> tuple[int, float] | None:
    """Highest whole percentile with at least ten samples above it."""
    n = len(samples)
    if n < 11:
        return None
    s = sorted(samples)
    p = (100 * (n - 10)) // n
    return p, s[max(-(-p * n // 100) - 1, 0)]


def timed_loop(w, state, exp, seconds: float, tr, on_job=None):
    """Closed loop, one job at a time, for ``seconds``; returns
    (job times, attempted, failed)."""
    times, attempted, failed = [], 0, 0
    end = time.perf_counter() + seconds
    while True:
        attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span("job"):
                got = w.job(state, tr)
        except Exception:
            # a failed job counts against error_rate; the loop goes on
            traceback.print_exc()
            failed += 1
            got = None
        dt = time.perf_counter() - t0
        if got is not None:
            times.append(dt)
            errs = w.check(exp, got)
            if errs:
                failed += 1
                print(f"oracle mismatch: {errs}", file=sys.stderr)
            if on_job is not None:
                on_job(got, dt)
        if time.perf_counter() >= end and len(times) >= 3:
            return times, attempted, failed
        if attempted - len(times) > 3:
            raise RuntimeError("more than three jobs failed; giving up")


def traced_phase(spark, w, inp, exp, state, seconds, tr) -> tuple[dict, int, int]:
    """Per-layer numbers: per job from plan metrics and spans, medians
    over the jobs, then the workload's one-off layer probes."""
    from mundipy_spark.operators import joins

    from spatialbench.trace import PlanMetrics, plan_sum, python_metrics
    from spatialbench.workloads import counting

    plan = PlanMetrics(spark)
    counts: dict = {}
    per_job: list[dict] = []
    orig = counting(joins, "tile_index", counts)

    def on_job(got, dt):
        nodes = plan.new_nodes()
        py = python_metrics(nodes)
        rec = {
            "functions.st.python_rows": py["rows"],
            "functions.st.python_bytes_sent": py["bytes_sent"],
            "functions.st.python_run_s": py["run_s"],
            "spark.broadcast_bytes": plan_sum(nodes, "data size", ("BroadcastExchange",)),
            "spark.shuffle_bytes_written": plan_sum(nodes, "shuffle bytes written", ("Exchange",)),
            "_job_s": dt,
        }
        rec.update(w.job_layers(nodes, got, counts, state))
        per_job.append(rec)
        counts.clear()

    try:
        plan.new_nodes()
        counts.clear()
        _, attempted, failed = timed_loop(w, state, exp, seconds, tr, on_job)
    finally:
        joins.tile_index = orig
    out = {k: median(r[k] for r in per_job) for k in per_job[0]}
    out.update(w.probe_layers(spark, inp, state, tr))
    if "operators.joins.probe.candidates" in out:
        # the probe is what is left of a job once the index build done
        # inside it (and, for geocode, the geoparse pass) is taken out
        index_s = out["_index_in_job_s"]
        out["operators.joins.probe.busy_s"] = max(
            out["_job_s"] - index_s - out.get("operators.geoparse.busy_s", 0.0), 0.0
        )
        if index_s:
            out["operators.joins.tile_index.busy_s"] = index_s
    return out, attempted, failed


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "mundipy_spark", "__init__.py")):
        fail(f"no mundipy_spark package under {ROOT}; run from the source checkout")
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    env = configure_env(cpus)
    sys.path.insert(0, ROOT)

    from spatialbench.trace import RssSampler, Tracer
    from spatialbench.workloads import WORKLOADS, teardown

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    w = WORKLOADS[args.workload]
    run_id = f"{w.name}-seed{args.seed}-trace{args.trace}"
    untraced = Tracer(False, run_id)

    inp = w.generate(args.seed)
    exp = w.expect(inp)
    n_items = w.items(inp)
    attempted = failed = 0
    spark = None
    with RssSampler(top_workers=cpus) as rss:
        try:
            # set-up: session start, inputs into Spark and any prebuilt
            # index, first job. Loading + prebuilding runs SETUP_ROUNDS
            # times and its median counts. Each dropped round is
            # unpersisted before the next starts: equal inputs give equal
            # plans, which share one cache entry. The last round's state
            # is kept; the first job on it runs cold.
            t0 = time.perf_counter()
            spark = start_session(cpus)
            session_s = time.perf_counter() - t0
            rounds = []
            for r in range(SETUP_ROUNDS):
                t0 = time.perf_counter()
                state = w.setup(spark, inp, untraced)
                rounds.append(time.perf_counter() - t0)
                if r < SETUP_ROUNDS - 1:
                    teardown(state)
            t0 = time.perf_counter()
            got = w.job(state, untraced)
            first_job_s = time.perf_counter() - t0
            attempted += 1
            errs = w.check(exp, got)
            if errs:
                failed += 1
                print(f"oracle mismatch: {errs}", file=sys.stderr)
            setup_s = session_s + median(rounds) + first_job_s

            times, a, f = timed_loop(w, state, exp, args.seconds, untraced)
            attempted, failed = attempted + a, failed + f
            if args.trace:
                tr = Tracer(True, run_id)
                layers, a, f = traced_phase(spark, w, inp, exp, state, args.seconds, tr)
                attempted, failed = attempted + a, failed + f
        finally:
            if spark is not None:
                shutdown(spark)

    job_s = median(times)
    items_per_s = n_items / job_s
    tail = tail_percentile(times)
    tail_txt = f"p{tail[0]} {tail[1]:.4f} s" if tail else "no percentile with >=10 samples above it"
    print(
        f"{w.name}: seed {args.seed}, {n_items} {w.item}s per job, local[{cpus}], "
        f"driver {env['SPARK_DRIVER_MEM']}"
    )
    print(f"  job time: median {job_s:.4f} s over {len(times)} jobs ({tail_txt})")
    print(
        f"  setup_s      {setup_s:.4f} s (session {session_s:.2f} s + median of load rounds "
        f"{', '.join(f'{r:.2f}' for r in rounds)} s + first job {first_job_s:.2f} s)"
    )
    print(f"  items_per_s  {items_per_s:.1f} {w.item}s/s")
    print(
        f"  peak_rss_mb  {rss.peak_mb:.1f} MB (driver + JVM + {cpus} largest workers; "
        f"whole tree {rss.tree_peak_mb:.1f} MB with up to {rss.max_workers} worker processes)"
    )
    print(f"  error_rate   {failed / attempted:.4f} ({failed} of {attempted} jobs)")

    if args.trace:
        os.makedirs(WORK, exist_ok=True)
        span_file = os.path.join(WORK, f"spans-{run_id}.jsonl")
        tr.write(span_file)
        layers["trace.overhead_ratio"] = layers["_job_s"] / job_s - 1.0
        for name, s in sorted(tr.self_times().items()):
            print(f"  self time {name:48s} {s:.4f} s")
        print(f"  spans: {span_file}")
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "items_per_s": {"value": items_per_s, "unit": "1/s"},
            "peak_rss_mb": {"value": rss.peak_mb, "unit": "MB"},
        }
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )


if __name__ == "__main__":
    main()
