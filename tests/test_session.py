"""Session defaults fit the host and ship the package to Python workers."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from mundipy_spark.session import default_driver_mem

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _memtotal_bytes() -> int | None:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        return None
    return None


def test_default_driver_mem_below_memtotal():
    total = _memtotal_bytes()
    if total is None:
        pytest.skip("no /proc/meminfo")
    mem = default_driver_mem()
    assert mem.endswith("m")
    mb = int(mem[:-1])
    assert 0 < mb * 2**20 < total
    assert mb <= 24 * 1024


def test_workers_import_package_from_any_cwd(tmp_path):
    """The driver finds the package through sys.path alone; with no
    PYTHONPATH and a cwd outside the checkout, a pandas UDF that
    imports mundipy_spark must still run on the worker. collect(), not
    count(): Catalyst prunes an unused UDF column under count()."""
    script = tmp_path / "job.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import pandas as pd
        from pyspark.sql import functions as F
        from mundipy_spark.session import get_spark

        spark = get_spark("cwd_check", cpus=1)
        spark.sparkContext.setLogLevel("ERROR")

        @F.pandas_udf("long")
        def n_bytes(ids: pd.Series) -> pd.Series:
            from mundipy_spark.kernels import wkb
            return ids.map(lambda i: len(wkb.dumps(("Point", (float(i), 0.0)))))

        rows = spark.range(3).select(n_bytes("id").alias("n")).collect()
        print("RESULT", sorted(r.n for r in rows))
        spark.stop()
    """))
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env["SPARK_DRIVER_MEM"] = "512m"
    proc = subprocess.run(
        [sys.executable, str(script)],
        capture_output=True,
        text=True,
        env=env,
        cwd=str(tmp_path),
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "RESULT [21, 21, 21]" in proc.stdout, proc.stdout[-2000:]
