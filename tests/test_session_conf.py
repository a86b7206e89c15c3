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
"""

from __future__ import annotations

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
