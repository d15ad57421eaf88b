"""End-to-end web corpus pipeline — the north-star narrative as ONE
composable artifact:

    pages(url, warc_ts, html, text, lang)
      -> byte-exact text + outlink extraction (Arrow UDFs)
      -> corpus dedup, one token pass: each page is projected once to
         (url, fp, toks) — its content fingerprint and its token set
         (operators/dedup.token_set). The exact stage groups by fp and
         carries the representative's token set; the near-dup stage
         (MinHash-LSH candidates -> exact Jaccard verify -> connected
         components -> min-id representative) reads only those sets
      -> link rewrite: every url (src AND dst) maps to its dup-cluster
         representative, so mirror pages merge into one vertex instead
         of splitting rank mass
      -> link-graph analytics on the deduped graph: PageRank (durable,
         resumable checkpoints), connected components, label
         propagation, triangle count
      -> per-stage parquet outputs + a machine-readable run summary.

Each stage's input is computed once and handed to every consumer, and
nothing is persisted: ``rep_map`` is written and read back from its
parquet, and the link graph is cut once (``graph_core.edge_set``), lent
to all four graph stages as one ``EdgeSet`` and freed after the last.

Every stage is the same operator the registry queries exercise (so the
pipeline is covered by the same oracles); this module only composes
them. Scale shape: the dedup candidate joins are banded (never O(n²)),
the rewrite joins broadcast the rep map when small, and the iterative
stages keep their one-exchange-per-round discipline.

Reference capability donor: the reference's end-to-end run script shape
(/root/reference/src/rad_ecg/scripts/peak_detect_v4.py main flow:
load -> clean/dedup -> per-section analytics -> checkpointed outputs).
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rad_ecg_spark.operators.graph_core import edge_set, free_local_checkpoint


# near-dup: word-set Jaccard >= 9/10 over 4-band MinHash-LSH candidates,
# buckets above MAX_BUCKET members dropped (see dedup_pages)
JACCARD_NUM, JACCARD_DEN, LSH_BANDS, MAX_BUCKET = 9, 10, 4, 1_000
ALGOS = ("pagerank", "components", "labelprop", "triangles")  # run in this order


def check_algos(algos) -> None:
    """ValueError naming the entries of ``algos`` not in ``ALGOS``."""
    if unknown := [a for a in algos if a not in ALGOS]:
        raise ValueError(f"unknown algos {unknown}: choose from {list(ALGOS)}")


def dedup_pages(pages: DataFrame) -> DataFrame:
    """rep_map(url, rep): collapse exact and near duplicates.

    rep_map covers EVERY input url (identity rows included), so
    consumers can unconditionally join through it; the kept pages are
    its ``url = rep`` rows.

    Each page is projected once to ``(url, fp, toks)``; the exact stage
    carries its representative's token set to the near-dup stage.

    ``MAX_BUCKET`` (LSH mega-bucket cap) is 1000 — an UNCAPPED-ish 10k
    ceiling melts on boilerplate-heavy corpora: measured on the
    100k-page synthetic crawl (34-word template vocabulary), band
    buckets reach 13k docs and a 10k cap still keeps ~486M candidate
    pairs with single join tasks carrying |bucket|^2/2 ≈ 3e7 pairs (one
    core pegged for over an hour); at 1000 the kept candidate set is a
    few million pairs and the per-task bound is 500k. A bucket that big
    means the band key is boilerplate, i.e. uninformative — dropping it
    improves precision, exact mirrors are already collapsed by the
    fingerprint stage, and true near-dups keep their other
    ``LSH_BANDS - 1`` chances.
    """
    from rad_ecg_spark.functions.textstats import fingerprint
    from rad_ecg_spark.operators.dedup import near_dup_components, token_set

    # NULL text is read as empty text: fingerprint(NULL) is NULL, and a
    # NULL fp would fall out of the equi-join below (null != null),
    # silently dropping the page from rep_map and breaking the every-url
    # contract. Collapsing NULL with '' is deliberate — both carry zero
    # extractable text, and the near-dup stage treats them identically
    # (no tokens).
    text = F.coalesce(F.col("text"), F.lit(""))
    facts = pages.select("url", fingerprint(text).alias("fp"), token_set(text).alias("toks"))
    # exact stage first: identical fingerprints collapse to their min url
    # before the more expensive near-dup machinery
    # sees the corpus. groupBy(fp) gets map-side partial aggregation, so
    # a mega-cluster of identical boilerplate reduces before the shuffle.
    # Pages sharing a fingerprint share their word set, so min_by keeps
    # the representative's.
    exact = facts.groupBy("fp").agg(
        F.min("url").alias("exact_rep"), F.min_by("toks", "url").alias("toks")
    )
    exact_map = facts.join(exact, "fp").select("url", "exact_rep")
    # near-dup clusters over the exact representatives
    near = near_dup_components(
        exact.select(F.col("exact_rep").alias("url"), "toks"), "url",
        LSH_BANDS, JACCARD_NUM, JACCARD_DEN, MAX_BUCKET,
    )
    # url -> exact rep -> near rep
    return exact_map.join(near, F.col("exact_rep") == F.col("id"), "left").select(
        "url", F.coalesce(F.col("component"), F.col("exact_rep")).alias("rep")
    )


def build_graph(pages: DataFrame, rep_map: DataFrame) -> DataFrame:
    """Deduped link graph: outlinks of ALL pages with both endpoints
    rewritten to cluster representatives; self-loops (mirror links
    inside one cluster) and duplicate edges drop out."""
    from rad_ecg_spark.functions.extract import pages_to_edges

    edges = pages_to_edges(pages, dedupe=False).withColumnsRenamed(
        {"src_url": "src", "dst_url": "dst"}
    )
    src_map = rep_map.select(F.col("url").alias("src"), F.col("rep").alias("src_rep"))
    dst_map = rep_map.select(F.col("url").alias("dst"), F.col("rep").alias("dst_rep"))
    return (
        edges.join(src_map, "src")
        # left: a link to an URL outside the crawl keeps its target as-is
        .join(dst_map, "dst", "left")
        .select(
            F.col("src_rep").alias("src"),
            F.coalesce(F.col("dst_rep"), F.col("dst")).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    algos: tuple[str, ...] = ALGOS,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    tol: float = 1e-6,
    max_iter: int = 100,
    verify_extract: bool = False,
    tol_mode: str = "abs",
) -> dict:
    """Run the full pipeline; returns a summary dict (also written to
    ``<out_dir>/summary.json``). ``summary["stage_wall_s"]`` carries
    per-stage wall-clock so a bench-scale run is self-reporting.

    ``algos``: a subset of ``ALGOS`` (else ValueError, before any Spark
    job). PageRank and label propagation split off power-law supernode
    hubs themselves (``operators.skew.hub_split``; ~2x/iteration at
    extreme out-degree skew, BENCH/BASELINE.md 'Hub-split supernode path').
    ``tol_mode``: "abs" or "rel" PageRank convergence criterion
    (operators/pagerank.py — "rel" is the scale-invariant form)."""
    import json
    import os
    import time

    from rad_ecg_spark.functions.extract import text_invariant_violations

    check_algos(algos)
    summary: dict = {}
    walls: dict[str, float] = {}
    t_total = time.monotonic()

    def _stage(name: str, t0: float) -> None:
        walls[name] = round(time.monotonic() - t0, 3)

    if verify_extract:
        t0 = time.monotonic()
        bad = text_invariant_violations(pages).count()
        summary["extract_violations"] = bad
        _stage("verify_extract", t0)
        if bad:
            raise RuntimeError(f"{bad} pages fail the byte-exact text invariant")

    t0 = time.monotonic()
    n_pages = pages.count()
    # read back flat: build_graph over the written rows plans fewer jobs
    # than over a frame whose lineage reads the dedup components
    rep_path = os.path.join(out_dir, "rep_map")
    dedup_pages(pages).write.mode("overwrite").parquet(rep_path)
    rep_map = spark.read.parquet(rep_path)
    n_kept = rep_map.filter(F.col("url") == F.col("rep")).count()
    summary.update({"pages": n_pages, "kept_after_dedup": n_kept})
    _stage("dedup", t0)

    t0 = time.monotonic()
    # the one cut of the link graph, lent to every graph stage below
    graph = edge_set(build_graph(pages, rep_map))
    summary["edges"] = graph.n_edges
    _stage("extract_build_graph", t0)

    if "pagerank" in algos:
        from rad_ecg_spark.operators.pagerank import PageRankStats, pagerank
        from rad_ecg_spark.plans.checkpoint import CheckpointManager

        t0 = time.monotonic()
        ck = (
            CheckpointManager(spark, checkpoint_dir, "pagerank", async_write=True)
            if checkpoint_dir
            else None
        )
        # the manager's exit drains an in-flight async commit, even on
        # error, without letting a failed drain replace an exception
        # already propagating from pagerank()
        with ck if ck is not None else contextlib.nullcontext():
            st = PageRankStats()
            ranks = pagerank(
                graph, tol=tol, tol_mode=tol_mode, max_iter=max_iter,
                checkpointer=ck, resume=resume, stats=st,
            )
            ranks.write.mode("overwrite").parquet(os.path.join(out_dir, "pagerank"))
        summary["pagerank"] = {
            "iterations": st.iterations,
            "converged": st.converged,
            "vertices": st.num_vertices,
            "resumed_from": st.resumed_from,
        }
        _stage("pagerank", t0)
    if "components" in algos:
        from rad_ecg_spark.operators.components import connected_components

        t0 = time.monotonic()
        cc = connected_components(graph)
        cc.write.mode("overwrite").parquet(os.path.join(out_dir, "components"))
        summary["components"] = cc.select("component").distinct().count()
        _stage("components", t0)
    if "labelprop" in algos:
        from rad_ecg_spark.operators.labelprop import LabelPropStats, label_propagation

        t0 = time.monotonic()
        lst = LabelPropStats()
        lp = label_propagation(graph, max_iter=min(max_iter, 30), stats=lst)
        lp.write.mode("overwrite").parquet(os.path.join(out_dir, "labels"))
        # a capped, non-converged LP run must be visible in the summary,
        # not silently reported like a converged one
        summary["labels"] = lp.select("label").distinct().count()
        summary["labelprop"] = {
            "iterations": lst.iterations,
            "converged": lst.converged,
        }
        _stage("labelprop", t0)
    if "triangles" in algos:
        from rad_ecg_spark.operators.triangles import triangle_count

        t0 = time.monotonic()
        summary["triangles"] = triangle_count(graph)
        _stage("triangles", t0)

    free_local_checkpoint(graph.cut)
    walls["total"] = round(time.monotonic() - t_total, 3)
    summary["stage_wall_s"] = walls
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "summary.json"), "w") as f:
        json.dump(summary, f, indent=2, sort_keys=True)
    return summary
