"""Pages generator determinism + byte-identical text extraction +
end-to-end pages→edges→pagerank pipeline on analytically-known motifs."""

from __future__ import annotations

from pyspark.sql import functions as F

from rad_ecg_spark.functions.extract import (
    pages_to_edges,
    text_invariant_violations,
)
from rad_ecg_spark.operators.pagerank import pagerank
from rad_ecg_spark.operators.triangles import triangle_count
from rad_ecg_spark.sources.pages import (
    expected_edges,
    generate_pages,
    outlinks_of,
    text_of,
    url_of,
)

from .oracles import pagerank_oracle

N_SITES, PAGES = 5, 8  # 40 pages


class TestGenerator:
    def test_deterministic_across_parallelism(self, spark):
        a = generate_pages(spark, N_SITES, PAGES, partitions=1).orderBy("url").collect()
        b = generate_pages(spark, N_SITES, PAGES, partitions=7).orderBy("url").collect()
        assert len(a) == N_SITES * PAGES
        for ra, rb in zip(a, b):
            assert ra == rb

    def test_schema(self, spark):
        df = generate_pages(spark, 2, 5)
        assert [f.name for f in df.schema.fields] == ["url", "warc_ts", "html", "text", "lang"]
        assert dict(df.dtypes)["html"] == "binary"
        assert dict(df.dtypes)["warc_ts"] == "timestamp"

    def test_dangling_last_page(self, spark):
        assert outlinks_of(0, PAGES - 1, N_SITES, PAGES) == []


class TestExtraction:
    def test_byte_identical_text(self, spark):
        pages = generate_pages(spark, N_SITES, PAGES)
        assert text_invariant_violations(pages).count() == 0

    def test_text_of_known_row(self):
        t = text_of(0, 0, PAGES)
        assert t.startswith("page 0 of site0000\n")

    def test_edges_match_planted_oracle(self, spark):
        pages = generate_pages(spark, N_SITES, PAGES)
        got = {(r["src_url"], r["dst_url"]) for r in pages_to_edges(pages).collect()}
        exp = set(expected_edges(N_SITES, PAGES))
        assert got == exp

    def test_malformed_and_empty_html(self, spark):
        rows = [
            ("u1", b"<html><head><title>t</title></head><body><p>x y</p></body></html>"),
            ("u2", b"<html>no title<p>only para</p>"),
            ("u3", b"garbage \xff\xfe bytes"),
            ("u4", b'<a href="https://x/">x</a><a href="https://y/">y</a>'),
        ]
        df = spark.createDataFrame(rows, "url string, html binary")
        from rad_ecg_spark.functions.extract import extract_outlinks, extract_text

        out = {r["url"]: (r["t"], r["l"]) for r in df.select(
            "url", extract_text("html").alias("t"), extract_outlinks("html").alias("l")
        ).collect()}
        assert out["u1"] == ("t\nx y", [])
        assert out["u2"][0] == "\nonly para"
        assert out["u4"][1] == ["https://x/", "https://y/"]
        assert out["u3"][0] == "\n"  # survives undecodable bytes


class TestEndToEnd:
    def test_pipeline_pagerank_matches_oracle(self, spark):
        pages = generate_pages(spark, N_SITES, PAGES)
        edges = pages_to_edges(pages).withColumnRenamed("src_url", "src").withColumnRenamed(
            "dst_url", "dst"
        )
        got = {r["id"]: r["rank"] for r in pagerank(edges, tol=0.0, max_iter=12).collect()}
        exp = pagerank_oracle(expected_edges(N_SITES, PAGES), tol=0.0, max_iter=12)
        assert set(got) == set(exp)
        for v in exp:
            assert abs(got[v] - exp[v]) < 1e-12

    def test_k4_triangles_per_site(self, spark):
        pages = generate_pages(spark, N_SITES, PAGES)
        edges = pages_to_edges(pages).withColumnRenamed("src_url", "src").withColumnRenamed(
            "dst_url", "dst"
        )
        from .oracles import triangles_oracle

        exp_total, _ = triangles_oracle(expected_edges(N_SITES, PAGES))
        assert triangle_count(edges) == exp_total
        assert exp_total >= 4 * N_SITES  # at least the planted K4s

    def test_hub_is_top_indegree(self, spark):
        pages = generate_pages(spark, 10, 10)
        edges = pages_to_edges(pages)
        top = (
            edges.groupBy("dst_url").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), "dst_url")
            .limit(1)
            .collect()[0]
        )
        assert top["dst_url"] == url_of(0, 0)
