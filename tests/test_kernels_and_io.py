"""Grouped-map kernels, skew-aware joins, the spark.ml stage, the power
transform and blocked-kernel memory. Checkpoint/resume lives in
test_checkpoint_resume.py."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from .conftest import BATCH_ROWS, arrow_batch_rows


class TestEpisodesUDTF:
    @BATCH_ROWS
    def test_known_episode_structure(self, spark, batch_rows):
        import datetime as dt

        from rad_ecg_spark.operators.episodes import detect_episodes

        t0 = dt.datetime(2024, 1, 1)
        m = lambda k: t0 + dt.timedelta(minutes=k)  # noqa: E731
        rows = [
            # user 1: [300, 300], break, [400] -> two episodes
            (1, m(0), 1, "c", 300.0, ""),
            (2, m(1), 1, "c", 300.0, ""),
            (3, m(2), 1, "c", 100.0, ""),
            (4, m(3), 1, "c", 400.0, ""),
            # user 2: never above threshold -> zero episodes
            (5, m(0), 2, "c", 10.0, ""),
        ] + [
            # user 3: 20 events, [300, 300, 300] then a break, five times;
            # its run spans three or more 7-row batches
            (6 + k, m(k), 3, "c", 100.0 if k % 4 == 3 else 300.0, "")
            for k in range(20)
        ]
        ev = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        )
        with arrow_batch_rows(spark, batch_rows):
            got = {
                (r["user_id"], r["episode_id"]): (r["n_events"], r["sum_cents"], r["peak_cents"])
                for r in detect_episodes(ev, threshold=250.0).collect()
            }
        assert got == {
            (1, 1): (2, 60000, 30000),
            (1, 2): (1, 40000, 40000),
            **{(3, e): (3, 90000, 30000) for e in range(1, 6)},
        }


class TestStatBundle:
    def test_matches_spark_builtin_kurtosis(self, spark):
        """The exact-integer kernel must agree with F.kurtosis (excess,
        population) to float tolerance on the same floor(value) ints."""
        from rad_ecg_spark.functions.statkernel import stat_bundle

        ev = spark.range(0, 500).select(
            F.lit("t").alias("event_type"),
            (F.pmod(F.xxhash64("id"), F.lit(400)) + F.lit(0.25)).cast("double").alias("value"),
        )
        bundle = stat_bundle(ev).collect()[0]
        ref = (
            ev.select(F.floor("value").cast("double").alias("v"))
            .agg(F.kurtosis("v").alias("k"), F.skewness("v").alias("s"))
            .collect()[0]
        )
        assert abs(bundle["kurt_e6"] / 1e6 - ref["k"]) < 1e-4
        assert abs(bundle["skew_e6"] / 1e6 - ref["s"]) < 1e-4


def _record_hub_splits(monkeypatch) -> list:
    """Hub ids of every ``HubSplit`` the engine's rule builds from now on."""
    from rad_ecg_spark.operators import skew

    made: list = []

    class Recorded(skew.HubSplit):
        def __init__(self, *args):
            super().__init__(*args)
            made.append(set(self.hub_ids))

    monkeypatch.setattr(skew, "HubSplit", Recorded)
    return made


def _split_at(threshold):
    """A stand-in for ``skew.hub_split`` that always splits off the
    sources with at least ``threshold`` rows."""
    from rad_ecg_spark.operators.graph_core import out_degrees
    from rad_ecg_spark.operators.skew import HubSplit

    def split(edges, rows, P, max_rows=None):
        hubs = out_degrees(edges).filter(F.col("outdeg") >= threshold).collect()
        return HubSplit(edges, [r["src"] for r in hubs], P)

    return split


class TestSkewAwarePageRank:
    def test_star_graph_hub_path_balanced_and_exact(self, spark, monkeypatch):
        """100k-spoke star: the hub's edges ride the broadcast path in
        BALANCED partitioning (max/median task rows < 4x); pagerank()
        with no option takes that split by itself (the hub holds every
        edge, over |E| / P), and its ranks stay 1e-12-equal to the
        unsplit plan."""
        from rad_ecg_spark.operators import pagerank as pagerank_mod
        from rad_ecg_spark.operators.skew import HubSplit

        n = 100_000
        edges = spark.range(1, n + 1, 1, 8).select(
            F.lit(0).alias("src"), F.col("id").alias("dst")
        )
        hubs = HubSplit(edges, [0], 8)
        assert hubs.residual.count() == 0
        sizes = [
            r["n"]
            for r in hubs.hub_edges.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ]
        hubs.unpersist()
        assert max(sizes) / sorted(sizes)[len(sizes) // 2] < 4.0

        made = _record_hub_splits(monkeypatch)
        split = {
            r["id"]: r["rank"]
            for r in pagerank_mod.pagerank(edges, tol=0.0, max_iter=3).collect()
        }
        assert made == [{0}]
        monkeypatch.setattr(pagerank_mod, "hub_split", lambda *a, **k: None)
        base = {
            r["id"]: r["rank"]
            for r in pagerank_mod.pagerank(edges, tol=0.0, max_iter=3).collect()
        }
        assert made == [{0}]
        assert base.keys() == split.keys()
        assert all(abs(base[k] - split[k]) < 1e-12 for k in base)

    def test_hub_split_rule(self, spark):
        """``skew.hub_split`` splits exactly the sources above rows / P:
        none on the web-shaped pipeline graph (directed or symmetric,
        at 2 or 4 partitions), none without a job for a symmetric view
        at P == 2 (a vertex holds at most half its rows), and the star's
        centre in its symmetric view once P >= 3."""
        from rad_ecg_spark.operators.graph_core import (
            edge_set,
            free_local_checkpoint,
            symmetric,
        )
        from rad_ecg_spark.operators.skew import hub_split
        from rad_ecg_spark.sources.pages import expected_edges

        web, n = edge_set(
            spark.createDataFrame(expected_edges(6, 10), "src string, dst string")
        )
        for P in (2, 4):
            assert hub_split(web.repartition(P, "src"), n, P) is None
            assert hub_split(symmetric(web, P), 2 * n, P, max_rows=n) is None
        free_local_checkpoint(web)

        n = 1_000
        star = spark.range(1, n + 1, 1, 4).select(
            F.lit(0).alias("src"), F.col("id").alias("dst")
        )
        sc = spark.sparkContext
        sc.setJobGroup("hub-rule-p2", "hub-rule-p2")
        try:
            assert hub_split(symmetric(star, 2), 2 * n, 2, max_rows=n) is None
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup("hub-rule-p2")) == 0
        hubs = hub_split(symmetric(star, 3), 2 * n, 3, max_rows=n)
        assert hubs.hub_ids == [0]
        assert {tuple(r) for r in hubs.residual.collect()} == {(i, 0) for i in range(1, n + 1)}
        assert {tuple(r) for r in hubs.hub_edges.collect()} == {(0, i) for i in range(1, n + 1)}
        hubs.unpersist()

    def test_powerlaw_synth_is_skewed_deterministic_and_split_exact(
        self, spark, monkeypatch
    ):
        """src_skew='powerlaw' plants a genuine out-degree hot spot (the
        top source owns >3% of edges at alpha=6), the table is identical
        at any requested parallelism, and the hub-split PageRank (split
        at out-degree 500, below the engine's |E| / P share, which this
        hot spot does not reach at 2 partitions) stays 1e-12-equal to
        the unsplit plan on it — the small-scale twin of the 50M-edge
        headroom run in BENCH/BASELINE.md."""
        from rad_ecg_spark.operators import pagerank as pagerank_mod
        from rad_ecg_spark.sources.synth_graph import synth_edges

        n_edges = 200_000
        e4 = synth_edges(spark, n_edges, partitions=4, src_skew="powerlaw")
        e16 = synth_edges(spark, n_edges, partitions=16, src_skew="powerlaw")
        assert e4.exceptAll(e16).count() == 0 and e16.exceptAll(e4).count() == 0

        top = (
            e4.groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .orderBy(F.desc("d"))
            .limit(1)
            .collect()[0]
        )
        n_actual = e4.count()
        assert top["d"] / n_actual > 0.03, "powerlaw mode must plant a hot source"

        made = _record_hub_splits(monkeypatch)
        base = {
            r["id"]: r["rank"]
            for r in pagerank_mod.pagerank(e4, tol=0.0, max_iter=3).collect()
        }
        assert made == []
        monkeypatch.setattr(pagerank_mod, "hub_split", _split_at(500))
        split = {
            r["id"]: r["rank"]
            for r in pagerank_mod.pagerank(e4, tol=0.0, max_iter=3).collect()
        }
        assert len(made) == 1 and top["src"] in made[0]
        assert base.keys() == split.keys()
        assert all(abs(base[k] - split[k]) < 1e-12 for k in base)

    def test_labelprop_hub_split_is_bitwise_identical(self, spark, monkeypatch):
        """LP's supernode split must be BITWISE identical to the unsplit
        plan (messages are exact (dst, label) rows into an integer
        count — no float reordering), including per-round change
        counts."""
        from rad_ecg_spark.operators import labelprop as labelprop_mod
        from rad_ecg_spark.operators.labelprop import LabelPropStats
        from rad_ecg_spark.sources.synth_graph import synth_edges

        e = synth_edges(spark, 100_000, partitions=4, src_skew="powerlaw")
        s1, s2 = LabelPropStats(), LabelPropStats()
        made = _record_hub_splits(monkeypatch)
        base = labelprop_mod.label_propagation(e, max_iter=4, stats=s1)
        assert made == []
        monkeypatch.setattr(labelprop_mod, "hub_split", _split_at(500))
        split = labelprop_mod.label_propagation(e, max_iter=4, stats=s2)
        assert len(made) == 1 and made[0]
        d = base.withColumnRenamed("label", "l2").join(split, "id")
        assert d.count() == base.count()
        assert d.filter(F.col("label") != F.col("l2")).count() == 0
        assert s1.changes == s2.changes

    def test_salted_join_matches_plain_join(self, spark):
        from rad_ecg_spark.operators.skew import salted_join

        big = spark.range(0, 10_000).select(
            (F.col("id") % 3).alias("k"), F.col("id").alias("v")
        )
        small = spark.createDataFrame(
            [(0, "a"), (1, "b"), (2, "c")], "k long, tag string"
        )
        got = salted_join(big, small, "k", n_salts=8)
        exp = big.join(small, "k")
        assert got.count() == exp.count() == 10_000
        assert got.groupBy("tag").count().orderBy("tag").collect() == (
            exp.groupBy("tag").count().orderBy("tag").collect()
        )


class TestSparkMLStage:
    def test_linear_regression_matches_closed_form_ols(self, spark):
        """spark.ml LinearRegression (no regularization) on y = 3x + 7
        + deterministic noise must recover the closed-form OLS slope."""
        from pyspark.ml.feature import VectorAssembler
        from pyspark.ml.regression import LinearRegression

        df = spark.range(0, 200).select(
            F.col("id").cast("double").alias("x"),
            (
                F.col("id") * 3.0
                + 7.0
                + (F.pmod(F.xxhash64("id"), F.lit(100)).cast("double") - 50.0) / 50.0
            ).alias("y"),
        )
        # closed form from exact sums
        s = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        ).collect()[0]
        slope = (s["n"] * s["sxy"] - s["sx"] * s["sy"]) / (
            s["n"] * s["sxx"] - s["sx"] * s["sx"]
        )
        assembled = VectorAssembler(inputCols=["x"], outputCol="features").transform(df)
        model = LinearRegression(
            featuresCol="features", labelCol="y", regParam=0.0
        ).fit(assembled)
        assert abs(model.coefficients[0] - slope) < 1e-6
        assert abs(model.coefficients[0] - 3.0) < 0.01


class TestBlockedKernelMemory:
    def test_50k_group_within_memory_cap(self):
        """A 50k-row group streams through the blocked NN pass within a
        fixed buffer cap (the old (m x m) layout would allocate ~20 GB
        here). tracemalloc tracks numpy allocations; bound is the
        documented two-buffer footprint plus slack."""
        import tracemalloc

        import numpy as np
        import pandas as pd

        from rad_ecg_spark.operators import matrixprofile as mp

        rng = np.random.default_rng(123)
        n = 50_000
        pdf = pd.DataFrame(
            {
                "uid": np.full(n, 7, dtype=np.int64),
                "ts_ms": np.arange(n, dtype=np.int64) * 1000,
                "cents": rng.integers(0, 50000, n).astype(np.int64),
                "oid": np.arange(n, dtype=np.int64),
            }
        )
        old_cap = mp._MAX_BLOCK_ELEMS
        mp._MAX_BLOCK_ELEMS = 1_000_000  # 8 MB/buffer: tighter, faster bound
        try:
            tracemalloc.start()
            out = mp.mp_discord_kernel(pdf, 8)
            _, peak = tracemalloc.get_traced_memory()
        finally:
            tracemalloc.stop()
            mp._MAX_BLOCK_ELEMS = old_cap
        assert len(out) == 1 and out["n_windows"].iloc[0] == 49_993
        assert peak < 400e6, f"peak {peak/1e6:.0f} MB exceeds 400 MB cap"

    def test_blocked_equals_full_matrix_bitwise(self, monkeypatch):
        """Row-blocking (any block size) never changes a double: each
        pair's d2 is its own k-ordered scalar chain."""
        import numpy as np

        from rad_ecg_spark.operators import matrixprofile as mp

        rng = np.random.default_rng(5)
        x = rng.integers(0, 9000, 3000).astype(np.int64)
        idx, z = mp.znorm_windows(x, 8)
        m = len(idx)
        monkeypatch.setattr(mp, "_MAX_BLOCK_ELEMS", m * m)  # one block
        base = mp._blocked_nn(idx, z, 8)
        for cap in (7 * m, m):
            monkeypatch.setattr(mp, "_MAX_BLOCK_ELEMS", cap)
            got = mp._blocked_nn(idx, z, 8)
            for a, b in zip(base, got):
                assert np.array_equal(a, b)


class TestSaltedJoinBalance:
    def test_hot_key_spreads_with_unique_col_salt(self, spark):
        """A single hot key whose non-key columns are FULL duplicates
        still fans out over all n_salts subtasks when ``unique_col``
        names a primary key: salt = xxhash64(uid) is deterministic
        (retry-safe — see skew.py docstring) yet per-row. max/median
        subtask input < 4x; the join result equals the plain join."""
        from rad_ecg_spark.operators.skew import salted_join

        n_salts = 16
        # 40k rows on one hot key (payload duplicated, uid unique) + tail
        big = spark.range(0, 40_000).select(
            F.lit(1).alias("k"), F.lit(7).alias("v"), F.col("id").alias("uid")
        ).unionAll(
            spark.range(0, 400).select(
                (F.col("id") % 50 + 2).alias("k"),
                F.col("id").alias("v"),
                (F.col("id") + 100_000).alias("uid"),
            )
        )
        salt = F.pmod(F.xxhash64(F.col("uid")), F.lit(n_salts))
        counts = sorted(
            r["c"]
            for r in big.filter(F.col("k") == 1)
            .withColumn("s", salt)
            .groupBy("s")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        assert len(counts) == n_salts, "hot key must hit every salt"
        assert counts[-1] / counts[len(counts) // 2] < 4.0

        small = spark.range(1, 52).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("name")
        )
        got = (
            salted_join(big, small, "k", n_salts=n_salts, unique_col="uid")
            .groupBy("k", "name")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
            .collect()
        )
        want = (
            big.join(small, "k")
            .groupBy("k", "name")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
            .collect()
        )
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    def test_default_salt_spreads_distinct_rows_and_is_deterministic(self, spark):
        """Without unique_col the salt hashes ALL big-side columns:
        distinct rows of a hot key spread (< 4x max/median), and the
        same input always lands in the same buckets (retry-safe)."""
        from rad_ecg_spark.operators.skew import salted_join

        n_salts = 8
        big = spark.range(0, 20_000).select(
            F.lit(1).alias("k"), F.col("id").alias("v")
        )
        small = spark.createDataFrame([(1, "hot")], "k long, name string")

        def bucket_counts():
            return sorted(
                r["c"]
                for r in big.withColumn(
                    "s", F.pmod(F.xxhash64(F.col("k"), F.col("v")), F.lit(n_salts))
                )
                .groupBy("s")
                .agg(F.count(F.lit(1)).alias("c"))
                .collect()
            )

        c1, c2 = bucket_counts(), bucket_counts()
        assert c1 == c2, "default salt must be deterministic run-to-run"
        assert len(c1) == n_salts
        assert c1[-1] / c1[len(c1) // 2] < 4.0
        assert salted_join(big, small, "k", n_salts=n_salts).count() == 20_000


class TestPowerTransform:
    def test_general_lambda_matches_textbook_formula(self, spark):
        import numpy as np

        from rad_ecg_spark.functions.transforms import yeojohnson_udf

        xs = (-3.5, -1.0, 0.0, 0.2, 4.0)
        df = spark.createDataFrame([(float(x),) for x in xs], "x double")
        got = [r[0] for r in df.select(yeojohnson_udf(1.3)("x")).collect()]

        def ref(x, lam=1.3):
            if x >= 0:
                return ((x + 1) ** lam - 1) / lam
            return -(((1 - x) ** (2 - lam)) - 1) / (2 - lam)

        assert np.allclose(got, [ref(x) for x in xs])
