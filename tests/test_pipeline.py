"""End-to-end pipeline composition: extraction -> dedup -> link rewrite
-> graph analytics. Planted mirrors must collapse to one vertex and the
outputs must land on disk with a consistent summary."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from rad_ecg_spark.functions.extract import pages_to_edges
from rad_ecg_spark.operators.graph_core import pinned_conf
from rad_ecg_spark.plans.pipeline import build_graph, dedup_pages, run_pipeline
from rad_ecg_spark.sources.pages import generate_pages


def _pages_with_mirrors(spark, n_sites=6, per_site=10):
    """Generated corpus + a full mirror of site 0 under mirror.example
    (identical html/text, different urls) — the classic crawl-dup case."""
    pages = generate_pages(spark, n_sites, per_site)
    mirror = pages.filter(F.col("url").contains("site0000")).withColumn(
        "url", F.regexp_replace("url", r"site0000\.example", "mirror0000.example")
    )
    return pages.unionByName(mirror), pages


# Near-dup fixture: word lists whose Jaccard similarities are set by hand
# against the pipeline's 9/10 threshold.
_BASE = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
         "kilo lima mike november oscar papa quebec romeo sierra tango").split()
_PLAIN = ("amber basalt cobalt dune ember fjord garnet harbor iris jade kelp "
          "lagoon marble nectar onyx pearl quartz reef slate tundra").split()
_TEN = "north south east west up down left right inner outer".split()


def _near_dup_pages(spark):
    """(pages, expected {url: rep}):
    - near/page-copy is near/page plus one word (J = 20/21, verified);
    - chain/a ~ chain/b (20/21) and chain/b ~ chain/c (20/22), while
      chain/a ~ chain/c is 19/22 < 9/10: only connected components joins
      a and c;
    - chain/d is an exact (upper-case, double-spaced) copy of chain/c;
    - pair/x and pair/y differ in one of ten words (J = 9/11): an LSH
      candidate that verification rejects;
    - solo/z shares nothing."""
    u = "https://{}.example/{}".format
    rows = [
        (u("near", "page"), " ".join(_PLAIN)),
        (u("near", "page-copy"), " ".join(_PLAIN + ["umber"])),
        (u("chain", "a"), " ".join(_BASE)),
        (u("chain", "b"), " ".join(_BASE + ["uniform"])),
        (u("chain", "c"), " ".join(_BASE[1:] + ["uniform", "victor"])),
        (u("chain", "d"), "  ".join(_BASE[1:] + ["uniform", "victor"]).upper()),
        (u("pair", "x"), " ".join(_TEN)),
        (u("pair", "y"), " ".join(_TEN[:-1] + ["middle"])),
        (u("solo", "z"), "nothing here resembles any other page at all"),
    ]
    expected = {
        u("near", "page"): u("near", "page"),
        u("near", "page-copy"): u("near", "page"),
        u("chain", "a"): u("chain", "a"),
        u("chain", "b"): u("chain", "a"),
        u("chain", "c"): u("chain", "a"),
        u("chain", "d"): u("chain", "a"),
        u("pair", "x"): u("pair", "x"),
        u("pair", "y"): u("pair", "y"),
        u("solo", "z"): u("solo", "z"),
    }
    return spark.createDataFrame(rows, "url string, text string"), expected


class TestDedupPages:
    def test_near_dups_chains_and_exact_copies_map_to_one_rep(self, spark):
        from rad_ecg_spark.operators.dedup import (
            minhash_lsh_candidates,
            token_set,
            verify_jaccard_pairs,
        )
        from rad_ecg_spark.plans.pipeline import (
            JACCARD_DEN,
            JACCARD_NUM,
            LSH_BANDS,
            MAX_BUCKET,
        )

        pages, expected = _near_dup_pages(spark)
        assert {r["url"]: r["rep"] for r in dedup_pages(pages).collect()} == expected
        # the fixture exercises each path it claims to
        u = "https://{}.example/{}".format
        toks = pages.select("url", token_set(F.col("text")).alias("toks"))
        cand = minhash_lsh_candidates(toks, "url", LSH_BANDS, MAX_BUCKET)
        verified = {
            (r["a"], r["b"])
            for r in verify_jaccard_pairs(cand, toks, "url", JACCARD_NUM, JACCARD_DEN).collect()
        }
        cands = {(r["a"], r["b"]) for r in cand.collect()}
        assert (u("pair", "x"), u("pair", "y")) in cands - verified
        assert {(u("chain", "a"), u("chain", "b")), (u("chain", "b"), u("chain", "c"))} <= verified
        assert (u("chain", "a"), u("chain", "c")) not in verified

    def test_dedup_job_budget(self, spark):
        """dedup_pages on 6 x 10 generated pages, materialized, in the
        test session (local[4], AQE off): 6 Spark jobs with one token set
        per page and two joins; 12 when every stage tokenized the text
        itself and five joins surrounded the near-dup clusters."""
        sc = spark.sparkContext
        pages = generate_pages(spark, 6, 10)
        group = "dedup-pages-jobs"
        sc.setJobGroup(group, group)
        try:
            dedup_pages(pages).collect()
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert jobs <= 9, jobs

    def test_mirrors_collapse_to_original(self, spark):
        both, orig = _pages_with_mirrors(spark)
        rep_map = dedup_pages(both)
        kept = rep_map.filter(F.col("url") == F.col("rep"))
        n_orig = orig.count()
        # every mirror url maps to the original (min-url rule: 'mirror...'
        # sorts after 'site...' only if... assert by fingerprint equality
        # instead: kept count equals the original corpus count)
        assert kept.count() == n_orig
        assert rep_map.count() == both.count()
        # every mirror url shares its representative with the original
        # page it mirrors (min-url rule makes the rep deterministic)
        m = rep_map.filter(F.col("url").contains("mirror0000")).select(
            F.regexp_replace(
                "url", r"mirror0000\.example", "site0000.example"
            ).alias("ourl"),
            F.col("rep").alias("mrep"),
        )
        o = rep_map.select(F.col("url").alias("ourl"), F.col("rep").alias("orep"))
        j = m.join(o, "ourl")
        assert j.count() > 0, "mirror urls must appear in the map"
        assert j.filter(F.col("mrep") != F.col("orep")).count() == 0

    def test_rewritten_graph_merges_mirror_vertices(self, spark):
        both, orig = _pages_with_mirrors(spark)
        rep_map = dedup_pages(both)
        edges = build_graph(both, rep_map)
        # no vertex from a collapsed mirror pair appears twice: every
        # endpoint must be its own representative
        eps = (
            edges.select(F.col("src").alias("u"))
            .unionByName(edges.select(F.col("dst").alias("u")))
            .distinct()
        )
        non_rep = eps.join(
            rep_map.filter(F.col("url") != F.col("rep")).select(
                F.col("url").alias("u")
            ),
            "u",
        )
        assert non_rep.count() == 0
        # and the deduped graph is no bigger than the raw original graph
        raw = (
            pages_to_edges(orig, dedupe=True)
            .filter(F.col("src_url") != F.col("dst_url"))
            .count()
        )
        assert edges.count() <= raw


class TestRunPipeline:
    def test_full_run_writes_outputs_and_summary(self, spark, tmp_path):
        both, orig = _pages_with_mirrors(spark, n_sites=4, per_site=8)
        out = str(tmp_path / "out")
        ck = str(tmp_path / "ck")
        summary = run_pipeline(
            spark,
            both,
            out,
            checkpoint_dir=ck,
            max_iter=12,
            verify_extract=True,
        )
        assert summary["extract_violations"] == 0
        assert summary["kept_after_dedup"] == orig.count()
        assert summary["edges"] > 0
        assert summary["pagerank"]["vertices"] > 0
        assert summary["components"] >= 1
        assert summary["triangles"] >= 0
        for name in ("rep_map", "pagerank", "components", "labels"):
            assert os.path.isdir(os.path.join(out, name)), name
        on_disk = json.load(open(os.path.join(out, "summary.json")))
        assert on_disk == summary
        # the durable checkpoint landed (resumable run)
        from rad_ecg_spark.plans.checkpoint import CheckpointManager

        cm = CheckpointManager(spark, ck, "pagerank")
        assert cm.last_complete() == summary["pagerank"]["iterations"]

    def test_rank_mass_conserved_on_deduped_graph(self, spark, tmp_path):
        both, _ = _pages_with_mirrors(spark, n_sites=3, per_site=6)
        out = str(tmp_path / "out2")
        run_pipeline(spark, both, out, algos=("pagerank",), max_iter=8)
        ranks = spark.read.parquet(os.path.join(out, "pagerank"))
        mass = ranks.agg(F.sum("rank")).collect()[0][0]
        assert abs(mass - 1.0) < 1e-9

    def test_pagerank_error_not_masked_by_failed_async_commit(
        self, spark, tmp_path, monkeypatch
    ):
        """pagerank() raises while its async checkpoint commit also
        fails: the pagerank error is the one that propagates."""
        import pytest

        from rad_ecg_spark.operators import pagerank as pr_mod
        from rad_ecg_spark.plans.checkpoint import CheckpointManager

        failed_commits = []

        def failing_write(self, *args, **kwargs):
            failed_commits.append(self._async)
            raise OSError("commit failed")

        def failing_pagerank(edges, checkpointer=None, **kwargs):
            checkpointer.commit(
                iteration=1, state=edges, rows=0, agg_value=0.0, delta_max=0.0
            )
            raise ValueError("pagerank failed")

        monkeypatch.setattr(CheckpointManager, "_commit_sync", failing_write)
        monkeypatch.setattr(pr_mod, "pagerank", failing_pagerank)
        both, _ = _pages_with_mirrors(spark, n_sites=2, per_site=4)
        with pytest.raises(ValueError, match="pagerank failed"):
            run_pipeline(
                spark, both, str(tmp_path / "out"), algos=("pagerank",),
                checkpoint_dir=str(tmp_path / "ck"),
            )
        assert failed_commits == [True]


    def test_unknown_algo_raises_before_any_spark_job(self, spark, tmp_path):
        """A misspelt algorithm name is a ValueError naming it, raised
        before the first Spark job, not a run with no graph stage."""
        import pytest

        pages = generate_pages(spark, 2, 2)

        def run():
            with pytest.raises(ValueError, match="'pagernk'"):
                run_pipeline(
                    spark, pages, str(tmp_path / "out"), algos=("components", "pagernk")
                )

        assert _jobs(spark, "unknown-algo", run) == 0
        assert not os.path.exists(tmp_path / "out")


class TestPipelineRound5:
    def test_null_text_pages_stay_in_rep_map(self, spark):
        """A NULL-text page must not fall out of rep_map (null fp !=
        null fp would drop it from every equi-join); NULL collapses
        with empty text by design."""
        from pyspark.sql import types as T

        pages = generate_pages(spark, 2, 5)
        extra = spark.createDataFrame(
            [
                ("https://nulltext.example/a", None, None, None, "en"),
                ("https://nulltext.example/b", None, None, "", "en"),
            ],
            T.StructType(
                [
                    T.StructField("url", T.StringType()),
                    T.StructField("warc_ts", T.TimestampType()),
                    T.StructField("html", T.BinaryType()),
                    T.StructField("text", T.StringType()),
                    T.StructField("lang", T.StringType()),
                ]
            ),
        )
        both = pages.unionByName(extra)
        rep_map = dedup_pages(both)
        assert rep_map.count() == both.count()
        covered = {
            r["url"]
            for r in rep_map.filter(
                F.col("url").contains("nulltext")
            ).collect()
        }
        assert covered == {
            "https://nulltext.example/a",
            "https://nulltext.example/b",
        }
        # NULL text and empty text share one representative (documented)
        reps = {
            r["rep"]
            for r in rep_map.filter(F.col("url").contains("nulltext")).collect()
        }
        assert len(reps) == 1

    def test_summary_reports_stage_walls_and_lp_convergence(self, spark, tmp_path):
        both, _ = _pages_with_mirrors(spark, n_sites=3, per_site=6)
        out = str(tmp_path / "out5")
        summary = run_pipeline(spark, both, out, max_iter=12)
        walls = summary["stage_wall_s"]
        for stage in (
            "dedup", "extract_build_graph", "pagerank", "components",
            "labelprop", "triangles", "total",
        ):
            assert walls[stage] >= 0.0, stage
        assert summary["labelprop"]["iterations"] >= 1
        assert isinstance(summary["labelprop"]["converged"], bool)
        assert summary["pagerank"]["resumed_from"] is None

    def test_tol_mode_flows_through(self, spark, tmp_path):
        """The rel convergence criterion is reachable from the composed
        pipeline: its PageRank stage stops where the operator does with
        tol_mode="rel" on the same graph, later than under "abs" (rel's
        effective tolerance, tol/n, is the stricter)."""
        from rad_ecg_spark.operators.pagerank import PageRankStats, pagerank

        both, _ = _pages_with_mirrors(spark, n_sites=4, per_site=8)
        out = str(tmp_path / "rel")
        summary = run_pipeline(
            spark, both, out, algos=("pagerank",), tol=1e-2, max_iter=30,
            tol_mode="rel",
        )
        graph = build_graph(both, spark.read.parquet(os.path.join(out, "rep_map")))
        rel, plain = PageRankStats(), PageRankStats()
        pagerank(graph, tol=1e-2, max_iter=30, tol_mode="rel", stats=rel)
        pagerank(graph, tol=1e-2, max_iter=30, stats=plain)
        assert rel.converged and plain.converged
        assert summary["pagerank"]["iterations"] == rel.iterations > plain.iterations


def _aqe_on(spark):
    """The engine default (the test session turns AQE off)."""
    return pinned_conf(spark, {"spark.sql.adaptive.enabled": "true"})


def _jobs(spark, group: str, fn) -> int:
    """Spark jobs that ``fn()`` runs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _graph_ops():
    from rad_ecg_spark.operators.components import connected_components
    from rad_ecg_spark.operators.labelprop import label_propagation
    from rad_ecg_spark.operators.pagerank import pagerank
    from rad_ecg_spark.operators.triangles import triangle_count

    return {
        "pagerank": lambda e: pagerank(e, tol=0.0, max_iter=3).collect(),
        "components": lambda e: connected_components(e, method="hybrid").collect(),
        "labelprop": lambda e: label_propagation(e, max_iter=3).collect(),
        "triangles": triangle_count,
    }


class TestGraphInputCut:
    def test_pipeline_edges_cost_no_more_jobs_than_a_flat_copy(self, spark):
        """Each graph operator reads its input once, through the edge-set
        cut (graph_core.edge_set): on the pipeline's persisted edges it
        runs exactly as many Spark jobs as on a flat copy of the same
        rows, instead of re-running the upstream extract/dedup plan in
        its joins. Under AQE, the engine default: with AQE off a cut
        carries its origin's size statistics and plans other joins than
        a flat copy does."""
        with _aqe_on(spark):
            pages = generate_pages(spark, 6, 10)
            rep_map = dedup_pages(pages)
            edges = build_graph(pages, rep_map).persist()
            edges.count()
            flat = spark.createDataFrame(edges.collect(), edges.schema)
            jobs: dict[str, dict[str, int]] = {"pipeline": {}, "flat": {}}
            for name, op in _graph_ops().items():
                for which, e in (("pipeline", edges), ("flat", flat)):
                    jobs[which][name] = _jobs(
                        spark, f"input-cut-{name}-{which}", lambda: op(e)
                    )
            edges.unpersist()
        assert jobs["pipeline"] == jobs["flat"], jobs

    def test_a_lent_edge_set_costs_no_cut_and_outlives_the_operators(self, spark):
        """An EdgeSet passed to an operator is lent: the operator runs
        exactly one job fewer than on the raw frame (the cut's count),
        and leaves the cut's blocks in place for the next operator."""
        from rad_ecg_spark.operators.graph_core import edge_set, free_local_checkpoint

        with _aqe_on(spark):
            pages = generate_pages(spark, 6, 10)
            graph = build_graph(pages, dedup_pages(pages))
            flat = spark.createDataFrame(graph.collect(), graph.schema)
            es = edge_set(flat)
            cut_rdd = es.cut._jdf.queryExecution().analyzed().rdd().id()
            jobs: dict[str, dict[str, int]] = {"flat": {}, "edge_set": {}}
            for name, op in _graph_ops().items():
                for which, e in (("flat", flat), ("edge_set", es)):
                    jobs[which][name] = _jobs(
                        spark, f"lent-cut-{name}-{which}", lambda: op(e)
                    )
        assert {k: v - 1 for k, v in jobs["flat"].items()} == jobs["edge_set"], jobs
        assert spark.sparkContext._jsc.getPersistentRDDs().containsKey(cut_rdd)
        assert es.cut.count() == es.n_edges
        free_local_checkpoint(es.cut)
        assert not spark.sparkContext._jsc.getPersistentRDDs().containsKey(cut_rdd)

    def test_run_pipeline_cuts_its_link_graph_once(self, spark, tmp_path, monkeypatch):
        """run_pipeline cuts its link graph once and lends the EdgeSet to
        all four graph stages, which take no cut of their own. Cuts are
        counted from build_graph on: the dedup stage's connected
        components, over its verified pairs, cut that separate input
        inside dedup_pages."""
        from rad_ecg_spark.operators import components, graph_core, labelprop
        from rad_ecg_spark.operators import pagerank, triangles
        from rad_ecg_spark.plans import pipeline

        built: list[bool] = []
        cuts: list[int] = []
        real_build, real_cut = pipeline.build_graph, graph_core.edge_set

        def build(*args):
            built.append(True)
            return real_build(*args)

        def cut(edges):
            es = real_cut(edges)
            if built and es is not edges:
                cuts.append(es.n_edges)
            return es

        monkeypatch.setattr(pipeline, "build_graph", build)
        for mod in (pipeline, pagerank, components, labelprop, triangles):
            monkeypatch.setattr(mod, "edge_set", cut, raising=False)
        both, _ = _pages_with_mirrors(spark)
        summary = run_pipeline(spark, both, str(tmp_path / "out"), max_iter=3)
        assert built == [True]
        assert cuts == [summary["edges"]]
