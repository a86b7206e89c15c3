"""Session-factory conf contracts.

1. The AQE advisory partition size is scale-dependent and comes from
   SPARK_GRAFT_ADVISORY_PARTITION_BYTES. Unset, it is Spark's own 64m:
   the same conf sizes AQE's skew-join splits, so a deployment that
   forgets the env var must not inherit the local bench's 1 MB target
   (bench.py exports 1m itself).
2. The env value is validated at the seam: a malformed size raises a
   ValueError naming the env var instead of an opaque JVM
   NumberFormatException at session creation.
3. PySpark's call-site capture is off, and errors still carry their
   condition.
4. get_spark ships the package to the Python workers once per
   context, so a driver started from any directory runs the
   Python-worker queries.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F

from mspr2_back_spark.session import _advisory_partition_bytes


def test_advisory_default_is_scale_safe(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", raising=False)
    assert _advisory_partition_bytes() == "64m"


@pytest.mark.parametrize(
    "val", ["1m", "64m", "256MB", "1048576", "2g", "512k", " 64m "]
)
def test_advisory_accepts_jvm_size_literals(monkeypatch, val):
    monkeypatch.setenv("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", val)
    assert _advisory_partition_bytes() == val.strip()


@pytest.mark.parametrize(
    "val", ["1 m", "1mib", "m", "-1m", "1.5m", "", "64bb"]
)
def test_advisory_rejects_malformed_sizes(monkeypatch, val):
    monkeypatch.setenv("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", val)
    with pytest.raises(ValueError, match="SPARK_GRAFT_ADVISORY_PARTITION_BYTES"):
        _advisory_partition_bytes()


def test_get_spark_turns_off_call_site_capture(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_column_division_by_zero_keeps_its_condition(spark):
    """Without call-site capture an error loses only its Python
    file:line context: the condition still raises."""
    with pytest.raises(ArithmeticException) as err:
        spark.range(2).select((F.lit(1) / F.col("id")).alias("q")).collect()
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_in(cwd, body: str) -> subprocess.CompletedProcess:
    """Run ``body`` in a fresh interpreter whose cwd is ``cwd``, with
    the repo on the driver's sys.path only. PYTHONPATH is dropped: the
    JVM passes it on to the Python workers, which would let them
    import the package without it being shipped."""
    script = f"import sys\nsys.path.insert(0, {_REPO!r})\n" + body
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    return subprocess.run(
        [sys.executable, "-c", script],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )


def test_get_spark_ships_the_package_to_workers_from_any_cwd(tmp_path, sf_dir):
    """A Python worker imports the package by itself: the query's
    mapInPandas function lives in mspr2_back_spark.operators, and
    neither the worker's cwd nor its sys.path holds the repo."""
    proc = _run_in(
        tmp_path,
        f"""
from mspr2_back_spark.plans import QUERIES
from mspr2_back_spark.session import get_spark
spark = get_spark(master="local[1]")
print("rows", QUERIES["multimodal_jpeg_meta"](spark, {sf_dir!r}).count())
""",
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.split()[-2:] == ["rows", "500"]


def test_package_ships_once_per_context(tmp_path):
    """A second get_spark and a newSession reuse the context, and with
    it the one zip already shipped."""
    proc = _run_in(
        tmp_path,
        """
from mspr2_back_spark.session import get_spark
spark = get_spark(master="local[1]")
get_spark(master="local[1]").newSession()
print("zips", sum(f.endswith(".zip") for f in spark.sparkContext.listFiles))
""",
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.split()[-2:] == ["zips", "1"]
