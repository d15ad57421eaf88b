"""Power transform (Yeo-Johnson) as a vectorized pandas UDF.

Reference capability: the PowerTransformer normalization stage
(/root/reference/src/rad_ecg/scripts/ml/anomaly/ml_anom.py:798-821).
SURVEY §2.8 maps this scalar family to an Arrow-batched pandas UDF —
numpy on the whole batch, no per-row Python.

Oracle note: the registry query fixes lambda at 0.5, where both
branches reduce to sqrt (y = 2(sqrt(x+1)-1) for x>=0;
y = -((t*sqrt(t))-1)/1.5 with t = 1-x otherwise). IEEE sqrt is
correctly rounded in every engine, unlike pow, so the DuckDB twin
reproduces the doubles exactly; general lambda uses np.power and is
pytest-gated instead.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def yeojohnson_udf(lam: float = 0.5):
    """Returns a pandas UDF computing the Yeo-Johnson transform with
    FIXED lambda (I.-K. Yeo & R. Johnson, Biometrika 2000 — public)."""

    @pandas_udf("double")
    def yj(s: pd.Series) -> pd.Series:
        x = s.to_numpy(dtype=np.float64)
        out = np.empty_like(x)
        pos = x >= 0
        neg = ~pos
        if lam == 0.5:
            out[pos] = 2.0 * (np.sqrt(x[pos] + 1.0) - 1.0)
            t = 1.0 - x[neg]
            out[neg] = -((t * np.sqrt(t)) - 1.0) / 1.5
        else:
            if lam == 0.0:
                out[pos] = np.log1p(x[pos])
            else:
                out[pos] = (np.power(x[pos] + 1.0, lam) - 1.0) / lam
            if lam == 2.0:
                out[neg] = -np.log1p(-x[neg])
            else:
                out[neg] = -(np.power(1.0 - x[neg], 2.0 - lam) - 1.0) / (2.0 - lam)
        return pd.Series(out)

    return yj


def power_transform_query(events, lam: float = 0.5):
    """(event_id, yj_e6): Yeo-Johnson(value) x1e6 as bigint."""
    yj = yeojohnson_udf(lam)
    return events.select(
        "event_id",
        F.round(yj(F.col("value").cast("double")) * 1e6).cast("long").alias("yj_e6"),
    )


POWER_TRANSFORM_ORACLE = """
SELECT event_id,
       CAST(round((CASE WHEN value >= 0.0
            THEN 2.0 * (sqrt(value + 1.0) - 1.0)
            ELSE -(((1.0 - value) * sqrt(1.0 - value)) - 1.0) / 1.5 END) * 1e6)
            AS BIGINT) AS yj_e6
FROM events"""
