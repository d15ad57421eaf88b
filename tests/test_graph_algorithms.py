"""Graph algorithm correctness vs single-node oracles.

Mirrors the reference's fixture style: analytically-known structures
(ring → uniform PageRank; K4 → 4 triangles; islands → exact component
count) plus seeded random graphs (/root/reference/tests/test_rad_ecg.py:31-52)."""

from __future__ import annotations

import pytest

from rad_ecg_spark.operators import components
from rad_ecg_spark.operators.components import connected_components
from rad_ecg_spark.operators.labelprop import label_propagation
from rad_ecg_spark.operators.pagerank import PageRankStats, pagerank
from rad_ecg_spark.operators.triangles import triangle_count, triangles

from .conftest import edges_df
from .oracles import (
    components_oracle,
    label_prop_oracle,
    pagerank_oracle,
    random_graph,
    triangles_oracle,
)

RING = [(i, (i + 1) % 6) for i in range(6)]
K4 = [(a, b) for a in range(4) for b in range(4) if a != b]
CHAIN_DANGLING = [(0, 1), (1, 2), (2, 3)]  # 3 has no outlinks
ISLANDS = [(0, 1), (1, 2), (10, 11), (20, 21), (21, 22), (22, 20)]


def _rank_map(df):
    return {r["id"]: r["rank"] for r in df.collect()}


def _persisted_rdds(spark) -> int:
    """RDDs holding storage: persisted and localCheckpoint'd ones."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


class TestPageRank:
    def test_ring_uniform_converges_first_iteration(self, spark):
        stats = PageRankStats()
        ranks = _rank_map(pagerank(edges_df(spark, RING), tol=1e-9, stats=stats))
        assert len(ranks) == 6
        assert stats.converged
        for v in ranks.values():
            assert abs(v - 1 / 6) < 1e-12  # uniform is the exact fixpoint

    def test_dangling_chain_trajectory(self, spark):
        # exact fixed-iteration trajectory match vs oracle: same update
        # rule => same numbers to fp precision, no need to run 100+ iters
        stats = PageRankStats()
        got = _rank_map(
            pagerank(edges_df(spark, CHAIN_DANGLING), tol=0.0, max_iter=25, stats=stats)
        )
        exp = pagerank_oracle(CHAIN_DANGLING, tol=0.0, max_iter=25)
        assert stats.iterations == 25
        for v, r in exp.items():
            assert abs(got[v] - r) < 1e-12
        assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conservation

    def test_random_graph_trajectory(self, spark):
        pairs = random_graph(60, 300, seed=7)
        got = _rank_map(pagerank(edges_df(spark, pairs), tol=0.0, max_iter=15))
        exp = pagerank_oracle(pairs, tol=0.0, max_iter=15)
        assert set(got) == set(exp)
        for v in exp:
            assert abs(got[v] - exp[v]) < 1e-12

    def test_convergence_matches_oracle_fixpoint(self, spark):
        # damping 0.5 mixes fast enough to hit 1e-7 in ~25 iterations
        pairs = random_graph(40, 200, seed=8)
        stats = PageRankStats()
        got = _rank_map(
            pagerank(edges_df(spark, pairs), damping=0.5, tol=1e-7, stats=stats)
        )
        exp = pagerank_oracle(pairs, damping=0.5)
        assert stats.converged
        for v in exp:
            assert abs(got[v] - exp[v]) < 1e-6

    def test_tol_mode_rel_scale_invariant(self, spark):
        # rel mode = effective tolerance tol/n, the scale-invariant
        # criterion measured in BENCH/BASELINE.md 'Convergence
        # benchmark' (18 iters rel vs 7 abs at 10M edges / 1M verts).
        # Same protocol at test scale: iteration counts pinned to the
        # oracle under BOTH criteria, ranks to fp precision.
        pairs = random_graph(80, 400, seed=11)
        iters = {}
        for mode in ("abs", "rel"):
            stats = PageRankStats()
            got = _rank_map(
                pagerank(edges_df(spark, pairs), tol=1e-6, tol_mode=mode, stats=stats)
            )
            exp, exp_iters = pagerank_oracle(
                pairs, tol=1e-6, tol_mode=mode, return_iters=True
            )
            assert stats.converged
            assert stats.iterations == exp_iters
            for v in exp:
                assert abs(got[v] - exp[v]) < 1e-12
            iters[mode] = stats.iterations
        # the relative criterion is strictly harder than the absolute
        # one on the same graph (here: effective tol 1e-6 / n)
        assert iters["rel"] > iters["abs"]

    def test_tol_mode_rejects_unknown(self, spark):
        with pytest.raises(ValueError, match="tol_mode"):
            pagerank(edges_df(spark, RING), tol_mode="bogus")

    def test_star_skew(self, spark):
        # supernode: 50 spokes -> 1 hub; spokes are dangling-fed only
        pairs = [(i, 1000) for i in range(50)]
        got = _rank_map(pagerank(edges_df(spark, pairs), tol=0.0, max_iter=10))
        exp = pagerank_oracle(pairs, tol=0.0, max_iter=10)
        for v in exp:
            assert abs(got[v] - exp[v]) < 1e-12

    def test_duplicate_edges_do_not_inflate_outdeg(self, spark):
        got = _rank_map(
            pagerank(edges_df(spark, CHAIN_DANGLING * 3), tol=0.0, max_iter=10)
        )
        exp = pagerank_oracle(CHAIN_DANGLING, tol=0.0, max_iter=10)
        for v in exp:
            assert abs(got[v] - exp[v]) < 1e-12

    def test_empty_input_holds_no_storage(self, spark):
        before = _persisted_rdds(spark)
        ranks = pagerank(spark.createDataFrame([], "src long, dst long"))
        assert ranks.collect() == []
        assert ranks.schema.simpleString() == "struct<id:bigint,rank:double>"
        assert _persisted_rdds(spark) <= before


class TestConnectedComponents:
    def test_method_rejects_unknown(self, spark):
        with pytest.raises(ValueError, match="method"):
            connected_components(edges_df(spark, ISLANDS), method="Hybrid")

    @pytest.mark.parametrize("method", ["hashmin", "hybrid"])
    def test_materialized_labels_free_the_input_cut(self, spark, method):
        before = _persisted_rdds(spark)
        # an empty input: the cut's count is the one job, the cut is
        # freed, and the empty result keeps the input's id type
        sc = spark.sparkContext
        group = f"cc-empty-{method}"
        sc.setJobGroup(group, group)
        try:
            empty = connected_components(edges_df(spark, []), method=method)
            assert empty.collect() == []
            assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 1
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert empty.schema.simpleString() == "struct<id:bigint,component:bigint>"
        assert _persisted_rdds(spark) == before
        # after a round, the labels are checkpointed loop state: the
        # result holds their blocks only, not the input cut's
        comp = connected_components(edges_df(spark, ISLANDS), method=method)
        assert _persisted_rdds(spark) - before <= 1
        assert {r["id"]: r["component"] for r in comp.collect()} == components_oracle(ISLANDS)

    @pytest.mark.parametrize("method", ["star", "hashmin", "hybrid"])
    def test_islands_exact(self, spark, method):
        got = {
            r["id"]: r["component"]
            for r in connected_components(edges_df(spark, ISLANDS), method=method).collect()
        }
        exp = components_oracle(ISLANDS)
        assert got == exp

    @pytest.mark.parametrize("method", ["star", "hashmin", "hybrid"])
    def test_random_graph(self, spark, method):
        pairs = random_graph(80, 90, seed=3)  # sparse -> many components
        got = {
            r["id"]: r["component"]
            for r in connected_components(edges_df(spark, pairs), method=method).collect()
        }
        exp = components_oracle(pairs)
        assert got == exp

    def test_methods_agree(self, spark):
        pairs = random_graph(50, 60, seed=11)
        a = connected_components(edges_df(spark, pairs), method="star")
        b = connected_components(edges_df(spark, pairs), method="hashmin")
        assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}


    @pytest.mark.parametrize("rounds", [0, 1, 3])
    def test_hybrid_forced_contraction_random_graph(self, spark, rounds, monkeypatch):
        """Random sparse graph with the hashmin cap too small to
        converge: the star-on-contraction phase must finish exactly.
        rounds=0 is the degenerate identity contraction (star runs on
        the original graph)."""
        monkeypatch.setattr(components, "HASHMIN_ROUNDS", rounds)
        pairs = random_graph(120, 110, seed=11)
        got = {
            r["id"]: r["component"]
            for r in connected_components(
                edges_df(spark, pairs), method="hybrid"
            ).collect()
        }
        assert got == components_oracle(pairs)

    def test_hybrid_contraction_on_long_chain(self, spark, monkeypatch):
        """A 60-vertex chain with hashmin capped at 3 rounds cannot
        converge in phase 1 -> the star-on-contraction path must finish
        it exactly (plus a disjoint triangle for a second component)."""
        monkeypatch.setattr(components, "HASHMIN_ROUNDS", 3)
        chain = [(i, i + 1) for i in range(60)]
        tri = [(100, 101), (101, 102), (100, 102)]
        pairs = chain + tri
        got = {
            r["id"]: r["component"]
            for r in connected_components(
                edges_df(spark, pairs), method="hybrid"
            ).collect()
        }
        exp = components_oracle(pairs)
        assert got == exp


class TestLabelPropagation:
    def test_two_cliques_converge_to_min_labels(self, spark):
        cl1 = [(a, b) for a in range(4) for b in range(4) if a < b]
        cl2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
        pairs = cl1 + cl2
        got = {
            r["id"]: r["label"]
            for r in label_propagation(edges_df(spark, pairs), max_iter=10).collect()
        }
        exp = label_prop_oracle(pairs, max_iter=10)
        assert got == exp

    def test_random_graph_matches_sync_oracle(self, spark):
        pairs = random_graph(40, 120, seed=5)
        for k in (1, 3):
            got = {
                r["id"]: r["label"]
                for r in label_propagation(edges_df(spark, pairs), max_iter=k).collect()
            }
            exp = label_prop_oracle(pairs, max_iter=k)
            assert got == exp, f"mismatch at {k} iterations"


class TestTriangles:
    def test_k4_has_four(self, spark):
        assert triangle_count(edges_df(spark, K4)) == 4

    def test_ring_has_zero(self, spark):
        assert triangle_count(edges_df(spark, RING)) == 0

    def test_random_graph_exact(self, spark):
        pairs = random_graph(50, 400, seed=9)
        exp_total, exp_per = triangles_oracle(pairs)
        assert triangle_count(edges_df(spark, pairs)) == exp_total
        got = {r["id"]: r["tri_count"] for r in triangles(edges_df(spark, pairs)).collect()}
        for v, c in exp_per.items():
            assert got[v] == c
        assert sum(got.values()) == 3 * exp_total


class TestShufflePartitions:
    def test_size_partitions_follows_effective_default(self, spark):
        """A session that never sets spark.sql.shuffle.partitions shuffles
        into Spark's built-in default; partition sizing must cap at that
        value, not at a hard-coded fallback."""
        from rad_ecg_spark.operators.graph_core import size_partitions

        key = "spark.sql.shuffle.partitions"
        old = spark.conf.get(key)
        spark.conf.unset(key)
        try:
            agg = spark.range(10).selectExpr("id % 3 AS k").groupBy("k").count()
            effective = agg.rdd.getNumPartitions()
            assert size_partitions(spark, 10**9) == effective
        finally:
            spark.conf.set(key, old)
