"""Statistical-kernel bundle UDF: one Arrow batch in, one metrics struct
out per group — the Spark shape of the reference's per-section SQI gate
bundle (kurtosis / entropy / spectral gates,
/root/reference/src/rad_ecg/scripts/peak_detect_v4.py:132-233), which
computes a dict of scalar stats over a signal window and gates validity.

Determinism policy (DuckDB-oracle hash gate):
- raw power sums s1..s4 are computed over ``floor(value)`` BIGINTs in
  exact integer arithmetic (value <= ~500 in the testdata, so s4 fits
  int64 with 10^7 headroom) — hash-exact by construction;
- kurtosis/skewness are derived from those exact integers with an
  arithmetic expression written IDENTICALLY here and in the SQL twin, so
  both engines execute the same IEEE double ops; outputs are rounded to
  1e-6 via floor(x*1e6 + 0.5) (round() differs between engines);
- entropy folds the per-bin terms in ascending bin order.

The kernel itself is vectorized numpy over the whole group — no per-row
Python — and the gate flag (kurt above threshold) mirrors the
reference's "gate before kernel" tiering (SURVEY.md §4).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BUNDLE_SCHEMA = (
    "event_type string, n long, s1 long, s2 long, s3 long, s4 long, "
    "mean_e6 long, var_e6 long, skew_e6 long, kurt_e6 long, "
    "entropy_e6 long, gate_high_kurtosis boolean"
)

ENTROPY_BIN = 100  # floor(value) DIV 100 buckets
KURT_GATE = -0.5  # excess-kurtosis gate threshold (reference-style SQI)


def _derive(n: int, s1: int, s2: int, s3: int, s4: int) -> tuple[float, float, float, float]:
    """Moment math from exact integer sums. The expression text below is
    mirrored verbatim in bundle_oracle_sql() — keep them in lockstep."""
    nf = float(n)
    mean = s1 / nf
    m2 = s2 / nf - (s1 / nf) * (s1 / nf)
    m3 = s3 / nf - 3.0 * (s1 / nf) * (s2 / nf) + 2.0 * (s1 / nf) * (s1 / nf) * (s1 / nf)
    m4 = (
        s4 / nf
        - 4.0 * (s1 / nf) * (s3 / nf)
        + 6.0 * (s1 / nf) * (s1 / nf) * (s2 / nf)
        - 3.0 * (s1 / nf) * (s1 / nf) * (s1 / nf) * (s1 / nf)
    )
    # m2*sqrt(m2), not m2**1.5: sqrt is IEEE-correctly-rounded in every
    # engine, pow is not guaranteed to be
    skew = m3 / (m2 * math.sqrt(m2)) if m2 > 0 else 0.0
    kurt = m4 / (m2 * m2) - 3.0 if m2 > 0 else 0.0
    return mean, m2, skew, kurt


def _e6(x: float) -> int:
    return int(math.floor(x * 1e6 + 0.5))


def stat_bundle(events: DataFrame) -> DataFrame:
    """Per-event_type metrics bundle of ``events(event_type, value)`` via
    groupBy().applyInPandas."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["v"].to_numpy(dtype=np.int64)
        n = len(v)
        s1 = int(v.sum())
        s2 = int((v * v).sum())
        s3 = int((v * v * v).sum())
        s4 = int((v * v * v * v).sum())
        mean, m2, skew, kurt = _derive(n, s1, s2, s3, s4)
        # Shannon entropy over value-bucket histogram, ascending-bin fold
        bins, counts = np.unique(v // ENTROPY_BIN, return_counts=True)
        ent = 0.0
        for c in counts:  # ~5 bins: a fold, not a hot loop
            p = c / float(n)
            ent = ent - p * math.log(p)
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n": [n],
                "s1": [s1],
                "s2": [s2],
                "s3": [s3],
                "s4": [s4],
                "mean_e6": [_e6(mean)],
                "var_e6": [_e6(m2)],
                "skew_e6": [_e6(skew)],
                "kurt_e6": [_e6(kurt)],
                "entropy_e6": [_e6(ent)],
                "gate_high_kurtosis": [kurt > KURT_GATE],
            }
        )

    prepared = events.select(
        "event_type", F.floor(F.col("value")).cast("long").alias("v")
    ).filter(F.col("v").isNotNull())
    return prepared.groupBy("event_type").applyInPandas(kernel, schema=BUNDLE_SCHEMA)


def bundle_oracle_sql() -> str:
    """DuckDB twin — the double expressions mirror _derive verbatim."""
    mean = "(s1 / nf)"
    m2 = "(s2 / nf - (s1 / nf) * (s1 / nf))"
    m3 = "(s3 / nf - 3.0 * (s1 / nf) * (s2 / nf) + 2.0 * (s1 / nf) * (s1 / nf) * (s1 / nf))"
    m4 = (
        "(s4 / nf - 4.0 * (s1 / nf) * (s3 / nf) "
        "+ 6.0 * (s1 / nf) * (s1 / nf) * (s2 / nf) "
        "- 3.0 * (s1 / nf) * (s1 / nf) * (s1 / nf) * (s1 / nf))"
    )
    skew = f"CASE WHEN {m2} > 0 THEN {m3} / ({m2} * sqrt({m2})) ELSE 0.0 END"
    kurt = f"CASE WHEN {m2} > 0 THEN {m4} / ({m2} * {m2}) - 3.0 ELSE 0.0 END"
    e6 = lambda x: f"CAST(floor(({x}) * 1e6 + 0.5) AS BIGINT)"  # noqa: E731
    return f"""
WITH base AS (
  SELECT event_type, CAST(floor(value) AS BIGINT) AS v FROM events
  WHERE value IS NOT NULL
), sums AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v) AS BIGINT) AS s1,
         CAST(sum(v*v) AS BIGINT) AS s2,
         CAST(sum(v*v*v) AS BIGINT) AS s3,
         CAST(sum(v*v*v*v) AS BIGINT) AS s4
  FROM base GROUP BY event_type
), ent AS (
  SELECT event_type, CAST(floor(value) AS BIGINT) // {ENTROPY_BIN} AS bin,
         count(*) AS c
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), ent2 AS (
  SELECT e.event_type,
         sum(-(c / nf) * ln(c / nf) ORDER BY bin) AS entropy
  FROM ent e JOIN (SELECT event_type, CAST(count(*) AS DOUBLE) AS nf
                   FROM base GROUP BY 1) t USING (event_type)
  GROUP BY e.event_type
), derived AS (
  SELECT event_type, n, s1, s2, s3, s4, CAST(n AS DOUBLE) AS nf FROM sums
)
SELECT d.event_type, n, s1, s2, s3, s4,
       {e6(mean)} AS mean_e6,
       {e6(m2)} AS var_e6,
       {e6(skew)} AS skew_e6,
       {e6(kurt)} AS kurt_e6,
       {e6("entropy")} AS entropy_e6,
       ({kurt}) > {KURT_GATE} AS gate_high_kurtosis
FROM derived d JOIN ent2 USING (event_type)"""
