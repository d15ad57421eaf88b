"""Grouped-map UDTF: per-group kernel emitting N rows per group.

This is the reference's single richest query shape — the per-section
beat extractor that takes one section of signal and emits one row per
detected beat (/root/reference/src/rad_ecg/scripts/porcine/
pig_extract.py:370-669, peak_detect_v4.py:1407-1567; SURVEY.md §2.10
calls it the canonical UDTF). Re-expressed Spark-first: the group is a
user's event history, the kernel detects "episodes" (maximal runs of
consecutive above-threshold events) and emits one row per episode.

Scale shape: the one keyed sweep (operators/sweep.py): one shuffle to
co-locate each user, then one ``mapInPandas`` pass that hands this
kernel frames of complete user runs, one Arrow batch plus the longest
run at a time. The kernel handles every user in a frame in a single
vectorized pass (mask -> run-break cumsum with user boundaries as
breaks -> one groupby agg for ALL users at once), so it computes the
same episodes as a per-user kernel with zero per-user Python calls. A
pathological mega-user is bounded by that user's row count — the same
contract the reference's per-section kernel has.

The kernel's arithmetic is exact-integer (cents) so the DuckDB oracle
(a gaps-and-islands SQL twin) reproduces every output bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from rad_ecg_spark.operators.sweep import sweep, user_series

EPISODE_SCHEMA = (
    "user_id long, episode_id int, n_events long, "
    "start_ms long, end_ms long, sum_cents long, peak_cents long"
)


def detect_episodes(events: DataFrame, threshold: float = 250.0) -> DataFrame:
    """One row per (user, episode) of ``events(user_id, ts, value,
    event_id)``: maximal run of consecutive events with value >
    threshold, in (ts, event_id) order."""
    thr_c = int(round(threshold * 100))

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        uid = pdf["uid"].to_numpy(dtype=np.int64)
        ts = pdf["ts_ms"].to_numpy(dtype=np.int64)
        cents = pdf["cents"].to_numpy(dtype=np.int64)
        valid = cents > thr_c
        # gaps-and-islands over ALL users at once: a run breaks where
        # valid flips OR the user changes (exactly the per-group runs)
        brk = np.empty(len(uid), dtype=bool)
        brk[0] = True
        brk[1:] = (uid[1:] != uid[:-1]) | (valid[1:] != valid[:-1])
        run = np.cumsum(brk)
        sub = pd.DataFrame(
            {
                "run": run[valid],
                "uid": uid[valid],
                "ts_ms": ts[valid],
                "cents": cents[valid],
            }
        )
        g = sub.groupby("run", sort=True).agg(
            uid=("uid", "first"),
            n_events=("cents", "size"),
            start_ms=("ts_ms", "min"),
            end_ms=("ts_ms", "max"),
            sum_cents=("cents", "sum"),
            peak_cents=("cents", "max"),
        )
        # run ids ascend along the (uid, position) sort, so the cumcount
        # per user is the per-group 1-based episode index
        ep = g.groupby("uid", sort=False).cumcount() + 1
        return pd.DataFrame(
            {
                "user_id": g["uid"].to_numpy(dtype=np.int64),
                "episode_id": ep.to_numpy(dtype=np.int32),
                "n_events": g["n_events"].to_numpy(dtype=np.int64),
                "start_ms": g["start_ms"].to_numpy(dtype=np.int64),
                "end_ms": g["end_ms"].to_numpy(dtype=np.int64),
                "sum_cents": g["sum_cents"].to_numpy(dtype=np.int64),
                "peak_cents": g["peak_cents"].to_numpy(dtype=np.int64),
            }
        )

    series = user_series(events)
    return sweep(series, "uid", ["ts_ms", "oid"], kernel, EPISODE_SCHEMA)


def episodes_oracle_sql(threshold: float = 250.0) -> str:
    """DuckDB twin: classic gaps-and-islands over the same cents ints."""
    thr_c = int(round(threshold * 100))
    return f"""
WITH e AS (
  SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms,
         CAST(round(value * 100) AS BIGINT) AS cents, event_id
  FROM events
), flagged AS (
  SELECT *, CASE WHEN cents > {thr_c} THEN 1 ELSE 0 END AS valid,
    sum(CASE WHEN cents > {thr_c} THEN 0 ELSE 1 END)
      OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS grp
  FROM e
), runs AS (
  SELECT user_id, grp, CAST(count(*) AS BIGINT) AS n_events,
         CAST(min(ts_ms) AS BIGINT) AS start_ms,
         CAST(max(ts_ms) AS BIGINT) AS end_ms,
         CAST(sum(cents) AS BIGINT) AS sum_cents,
         CAST(max(cents) AS BIGINT) AS peak_cents
  FROM flagged WHERE valid = 1 GROUP BY user_id, grp
)
SELECT user_id,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY start_ms, grp) AS INT) AS episode_id,
       n_events, start_ms, end_ms, sum_cents, peak_cents
FROM runs"""
