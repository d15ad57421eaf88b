"""Grouped-map UDTF: per-group kernel emitting N rows per group.

This is the reference's single richest query shape — the per-section
beat extractor that takes one section of signal and emits one row per
detected beat (/root/reference/src/rad_ecg/scripts/porcine/
pig_extract.py:370-669, peak_detect_v4.py:1407-1567; SURVEY.md §2.10
calls it the canonical UDTF). Re-expressed Spark-first: the group is a
user's event history, the kernel detects "episodes" (maximal runs of
consecutive above-threshold events) and emits one row per episode.

Scale shape: one shuffle to co-locate each group (repartition by
user + sortWithinPartitions), then ONE ``mapInPandas`` pass whose
kernel handles every group in the partition in a single vectorized
sweep (mask → run-break cumsum with user boundaries as breaks → one
groupby agg for ALL users at once). Per-task memory is the partition's
rows (size the partition count to the data on a cluster), a
pathological mega-user is bounded by that user's row count — the same
contract the reference's per-section kernel has.

Round-6 note (guide §4.1): this was ``groupBy().applyInPandas`` with a
per-user kernel. applyInPandas frames one Arrow batch and one Python
function call PER GROUP; at 15k small groups (sf1.0) the measured
per-group overhead was ~5 s for a TRIVIAL kernel, vs 0.8 s to stream
the same rows through mapInPandas. The rewrite computes identical
episodes (runs split at user boundaries exactly like per-group runs)
with zero per-group Python calls.

The kernel's arithmetic is exact-integer (cents) so the DuckDB oracle
(a gaps-and-islands SQL twin) reproduces every output bit-for-bit.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rad_ecg_spark.operators.graph_core import shuffle_partitions

EPISODE_SCHEMA = (
    "user_id long, episode_id int, n_events long, "
    "start_ms long, end_ms long, sum_cents long, peak_cents long"
)


def detect_episodes(
    events: DataFrame,
    threshold: float = 250.0,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_col: str = "event_id",
) -> DataFrame:
    """One row per (user, episode): maximal run of consecutive events
    with value > threshold, in (ts, event_id) order."""
    import numpy as np

    thr_c = int(round(threshold * 100))
    spark = events.sparkSession
    n_parts = shuffle_partitions(spark)

    def _empty() -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": pd.Series([], dtype="int64"),
                "episode_id": pd.Series([], dtype="int32"),
                "n_events": pd.Series([], dtype="int64"),
                "start_ms": pd.Series([], dtype="int64"),
                "end_ms": pd.Series([], dtype="int64"),
                "sum_cents": pd.Series([], dtype="int64"),
                "peak_cents": pd.Series([], dtype="int64"),
            }
        )

    def kernel(batches):
        frames = [b for b in batches if len(b)]
        if not frames:
            return  # empty partition: emit nothing
        pdf = pd.concat(frames, ignore_index=True)
        # cheap insurance: the feed is already (uid, ts_ms, oid)-sorted
        # by sortWithinPartitions; a stable mergesort over sorted input
        # is O(n)
        pdf = pdf.sort_values(["uid", "ts_ms", "oid"], kind="mergesort")
        uid = pdf["uid"].to_numpy(dtype=np.int64)
        ts = pdf["ts_ms"].to_numpy(dtype=np.int64)
        cents = pdf["cents"].to_numpy(dtype=np.int64)
        valid = cents > thr_c
        if not valid.any():
            yield _empty()
            return
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
        yield pd.DataFrame(
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

    prepared = events.select(
        F.col(user_col).alias("uid"),
        F.unix_millis(F.col(ts_col).cast("timestamp")).alias("ts_ms"),
        F.round(F.col(value_col) * 100).cast("long").alias("cents"),
        F.col(order_col).alias("oid"),
    )
    return (
        prepared.repartition(n_parts, "uid")
        .sortWithinPartitions("uid", "ts_ms", "oid")
        .mapInPandas(kernel, schema=EPISODE_SCHEMA)
    )


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
