"""Chunk-with-halo kernels over one giant ordered series
(operators/halo.py): exact equivalence to the global window, chunk-size
and parallelism invariance, and bounded per-task memory at 100k points.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from rad_ecg_spark.operators.halo import (
    global_row_number,
    halo_mp_discord,
    halo_rolling_median,
    with_halo_chunks,
)
from rad_ecg_spark.operators.matrixprofile import mp_discord_kernel

from .conftest import BATCH_ROWS, arrow_batch_rows


def _series(spark, n, n_parts=8):
    """Deterministic pseudo-random event series (one global series)."""
    return spark.range(0, n, 1, n_parts).select(
        F.col("id").alias("event_id"),
        F.timestamp_millis(F.lit(1700000000000) + F.col("id") * 250).alias("ts"),
        (F.pmod(F.xxhash64("id"), F.lit(40000)) / 100.0).alias("value"),
    )


class TestGlobalRowNumber:
    def test_dense_and_order_correct(self, spark):
        ev = _series(spark, 5000, n_parts=7)
        rn = global_row_number(
            ev.select("event_id", F.unix_millis("ts").alias("ts_ms")),
            ["ts_ms", "event_id"],
            n_parts=5,
        )
        rows = rn.orderBy("rn").collect()
        assert [r["rn"] for r in rows] == list(range(1, 5001))
        # ts is monotone in event_id here, so rn must equal event_id + 1
        assert all(r["rn"] == r["event_id"] + 1 for r in rows)

    def test_parallelism_invariant(self, spark):
        ev = _series(spark, 2000, n_parts=3)
        sel = ev.select("event_id", F.unix_millis("ts").alias("ts_ms"))
        a = {(r["event_id"], r["rn"]) for r in
             global_row_number(sel, ["ts_ms", "event_id"], n_parts=2).collect()}
        b = {(r["event_id"], r["rn"]) for r in
             global_row_number(sel, ["ts_ms", "event_id"], n_parts=17).collect()}
        assert a == b


def _global_window_median(ev, h):
    """The single global window (a one-partition Spark window — fine at
    test scale only)."""
    w = Window.orderBy("ts", "event_id").rowsBetween(-h, h)
    return {
        (r["event_id"], r["m"])
        for r in ev.select(
            "event_id",
            F.floor(
                F.expr("percentile(value, 0.5)").over(w) * 100 + F.lit(0.5)
            ).cast("long").alias("m"),
        ).collect()
    }


class TestHaloRollingMedian:
    @BATCH_ROWS
    def test_matches_global_window(self, spark, batch_rows):
        """Chunked+halo result == the single global window, also when
        chunks straddle Arrow batches."""
        ev = _series(spark, 3000)
        with arrow_batch_rows(spark, batch_rows):
            got = {
                (r["event_id"], r["roll_med_c"])
                for r in halo_rolling_median(ev, h=3, chunk_rows=256).collect()
            }
        assert got == _global_window_median(ev, 3)

    def test_chunk_smaller_than_halo_rejected(self, spark):
        """Halo rows come from the adjacent chunk only: a chunk of exactly
        h rows is still exact, a smaller one is refused (it used to give
        wrong medians for almost every row)."""
        ev = _series(spark, 200)
        got = {tuple(r) for r in halo_rolling_median(ev, h=3, chunk_rows=3).collect()}
        assert got == _global_window_median(ev, 3)
        with pytest.raises(ValueError, match="smaller than the halo"):
            halo_rolling_median(ev, h=3, chunk_rows=2)
        with pytest.raises(ValueError, match="smaller than the halo"):
            halo_mp_discord(ev, w=8, chunk_rows=6)
        rn = spark.range(1, 11).withColumnRenamed("id", "rn")
        with pytest.raises(ValueError):
            with_halo_chunks(rn, chunk_rows=0, halo_pre=0, halo_post=0)

    def test_chunk_size_invariant(self, spark):
        ev = _series(spark, 2000)
        a = {tuple(r) for r in halo_rolling_median(ev, h=3, chunk_rows=128).collect()}
        b = {tuple(r) for r in halo_rolling_median(ev, h=3, chunk_rows=700).collect()}
        assert a == b


class TestHaloMatrixProfile:
    W = 8
    R = 2048

    def _expected_sections(self, ev_pdf, n, w, R):
        """Direct per-section kernel on slices of the raw series."""
        cents = np.floor(ev_pdf["value"].to_numpy() * 100 + 0.5).astype(np.int64)
        out = {}
        for s in range((n - w) // R + 1):
            lo, hi = s * R, min(s * R + R + w - 1, n)
            sl = pd.DataFrame(
                {
                    "uid": np.full(hi - lo, s, dtype=np.int64),
                    "ts_ms": np.arange(lo, hi, dtype=np.int64),
                    "cents": cents[lo:hi],
                    "oid": np.arange(lo, hi, dtype=np.int64),
                }
            )
            res = mp_discord_kernel(sl, w)
            if len(res):
                out[s] = (
                    int(res["discord_idx"].iloc[0]) + s * R,
                    int(res["nn_idx"].iloc[0]) + s * R,
                    int(res["mp_e6"].iloc[0]),
                    int(res["n_windows"].iloc[0]),
                )
        return out

    def test_sections_match_direct_kernel(self, spark):
        n = 20_000
        ev = _series(spark, n)
        got = {
            r["section"]: (r["discord_idx"], r["nn_idx"], r["mp_e6"], r["n_windows"])
            for r in halo_mp_discord(ev, w=self.W, chunk_rows=self.R).collect()
        }
        ev_pdf = ev.orderBy("event_id").toPandas()
        want = self._expected_sections(ev_pdf, n, self.W, self.R)
        assert got == want
        assert len(got) == (n - self.W) // self.R + 1

    def test_100k_series_bounded_task_memory(self, spark):
        """The whole point of the halo layout: a 100k-point single series
        processes with per-task memory bounded by the blocked-NN buffer
        cap plus one chunk — verified (a) end-to-end through Spark and
        (b) directly on one full-size chunk under tracemalloc."""
        import tracemalloc

        n, R = 100_000, 8192
        ev = _series(spark, n)
        rows = halo_mp_discord(ev, w=self.W, chunk_rows=R).collect()
        assert len(rows) == (n - self.W) // R + 1  # 13 sections
        assert all(
            s["section"] * R < s["discord_idx"] <= (s["section"] + 1) * R
            for s in rows
        )
        # one full chunk (8192 own + 7 halo rows) under a hard cap
        rng = np.random.default_rng(7)
        sl = pd.DataFrame(
            {
                "uid": np.zeros(R + self.W - 1, dtype=np.int64),
                "ts_ms": np.arange(R + self.W - 1, dtype=np.int64),
                "cents": rng.integers(0, 40000, R + self.W - 1).astype(np.int64),
                "oid": np.arange(R + self.W - 1, dtype=np.int64),
            }
        )
        tracemalloc.start()
        res = mp_discord_kernel(sl, self.W)
        _, peak = tracemalloc.get_traced_memory()
        tracemalloc.stop()
        assert len(res) == 1
        assert peak < 200e6, f"per-chunk kernel peak {peak/1e6:.0f} MB"
