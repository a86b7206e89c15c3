"""JSON marshalling parity (SURVEY F19, §7.4 trap 5).

The reference coerces query results row-by-row to JSON-safe values
(ref app/routes/data.py:14-48): NaN→null, numpy scalars→native,
Decimal→float, date/datetime→ISO-8601 strings. Here ``records`` does
the same: ``df.collect()`` brings the result to the driver as Rows, and
each value of each Row is converted in Python — the serving contract,
not the engine, owns presentation types.
"""

from __future__ import annotations

import datetime
import decimal
import math
from typing import Any

from pyspark.sql import DataFrame


def _to_json_safe(v: Any) -> Any:
    if v is None:
        return None
    if isinstance(v, float):
        return None if (math.isnan(v) or math.isinf(v)) else v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep="T")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return v


def records(df: DataFrame) -> list[dict[str, Any]]:
    """Collect a (small, serving-sized) result as JSON-safe dicts."""
    return [
        {k: _to_json_safe(v) for k, v in row.asDict().items()} for row in df.collect()
    ]
