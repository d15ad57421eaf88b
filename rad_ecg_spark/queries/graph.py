"""Graph queries over a deterministic edge table derived from the
TPC-H-ish testdata, so the DuckDB oracle can check the graph engine.

The edge table is pure integer arithmetic over ``orders``/``customer``
(same rows in Spark and DuckDB):

    src = o_custkey
    dst = 1 + (o_orderkey * 2654435761) % max(c_custkey)

2654435761 is Knuth's multiplicative-hash constant (public). The product
stays < 2^63 at every scale factor, so ANSI mode never overflows.

PageRank/label-propagation oracles are the SAME update rules unrolled to
a fixed iteration count as chained SQL CTEs — integer-exact where
possible; ranks are exported as round(rank*1e9) bigints so last-ulp sum
ordering differences between engines can't flip the value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rad_ecg_spark.operators.components import connected_components
from rad_ecg_spark.operators.labelprop import label_propagation
from rad_ecg_spark.operators.pagerank import pagerank
from rad_ecg_spark.operators.triangles import triangle_count

KNUTH = 2654435761

# shared oracle CTE prologue (DuckDB); 'orders'/'customer' are views
EDGES_CTE = f"""
cmax AS (SELECT max(c_custkey) AS c FROM customer),
edges AS (
  SELECT DISTINCT o_custkey AS src,
         1 + (o_orderkey * {KNUTH}) % c AS dst
  FROM orders, cmax
  WHERE o_custkey <> 1 + (o_orderkey * {KNUTH}) % c
),
verts AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
sym AS (SELECT src AS a, dst AS b FROM edges
        UNION SELECT dst, src FROM edges)
""".strip()


def derived_edges(spark: SparkSession, sf_dir: str, dedup: bool = True) -> DataFrame:
    """``dedup=False`` skips the edge-set DISTINCT (a full shuffle of
    |orders| rows) for the graph operators, whose one input path
    (``graph_core.edge_set``) deduplicates anyway. Same edge SET either
    way."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    cmax = customer.agg(F.max("c_custkey")).collect()[0][0]
    e = orders.select(
        F.col("o_custkey").alias("src"),
        (F.lit(1) + (F.col("o_orderkey") * F.lit(KNUTH)) % F.lit(int(cmax))).alias(
            "dst"
        ),
    ).filter(F.col("src") != F.col("dst"))
    return e.distinct() if dedup else e


# ---------------------------------------------------------------- queries

def q_indegree_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        derived_edges(spark, sf_dir)
        .groupBy("dst")
        .agg(F.count(F.lit(1)).alias("indeg"))
        .orderBy(F.desc("indeg"), F.asc("dst"))
        .limit(10)
    )


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = triangle_count(derived_edges(spark, sf_dir, dedup=False))
    return spark.createDataFrame([(n,)], "n_triangles long")


def q_pagerank_5iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranks = pagerank(derived_edges(spark, sf_dir, dedup=False), tol=0.0, max_iter=5)
    return ranks.select(
        "id", F.round(F.col("rank") * 1e9).cast("long").alias("rank_e9")
    )


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hybrid (the default): hashmin (the measured 2x fast path on this
    # low-diameter graph) capped at HASHMIN_ROUNDS, star-on-contraction
    # as the worst-case net — see operators/components.py docstring and
    # BENCH/BASELINE.md
    return connected_components(derived_edges(spark, sf_dir, dedup=False))


def q_labelprop_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return label_propagation(derived_edges(spark, sf_dir, dedup=False), max_iter=3)


# ---------------------------------------------------------------- oracles

def _pagerank_sql(iters: int = 5) -> str:
    parts = [
        EDGES_CTE + ",",
        "deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),",
        """v AS (SELECT id, coalesce(outdeg, 0) AS outdeg
       FROM verts LEFT JOIN deg ON verts.id = deg.src),""",
        "nn AS (SELECT count(*) AS n FROM v),",
        "r0 AS (SELECT id, outdeg, 1.0 / nn.n AS rank FROM v, nn),",
    ]
    for k in range(1, iters + 1):
        p = k - 1
        parts.append(
            f"""d{k} AS (SELECT coalesce(sum(CASE WHEN outdeg = 0 THEN rank END), 0) AS dm
        FROM r{p}),
s{k} AS (SELECT e.dst AS id, sum(r.rank / r.outdeg) AS s
        FROM edges e JOIN r{p} r ON e.src = r.id AND r.outdeg > 0
        GROUP BY e.dst),
r{k} AS (SELECT v.id, v.outdeg,
               0.15 / nn.n + 0.85 * (coalesce(s{k}.s, 0) + d{k}.dm / nn.n) AS rank
        FROM v LEFT JOIN s{k} ON v.id = s{k}.id, nn, d{k}),"""
        )
    body = "\n".join(parts).rstrip(",")
    return (
        "WITH " + body + f"""
SELECT id, CAST(round(rank * 1e9) AS BIGINT) AS rank_e9 FROM r{iters}"""
    )


def _labelprop_sql(iters: int = 3) -> str:
    parts = [EDGES_CTE + ",", "l0 AS (SELECT id, id AS label FROM verts),"]
    for k in range(1, iters + 1):
        p = k - 1
        parts.append(
            f"""m{k} AS (SELECT s.b AS id, l.label, count(*) AS c
        FROM sym s JOIN l{p} l ON s.a = l.id GROUP BY s.b, l.label),
p{k} AS (SELECT id, label,
               row_number() OVER (PARTITION BY id ORDER BY c DESC, label) AS rn
        FROM m{k}),
l{k} AS (SELECT v.id, coalesce(p.label, v.id) AS label
        FROM verts v LEFT JOIN (SELECT id, label FROM p{k} WHERE rn = 1) p
        USING (id)),"""
        )
    body = "\n".join(parts).rstrip(",")
    return "WITH " + body + f"\nSELECT id, label FROM l{iters}"


GRAPH_QUERIES = {
    "graph_indegree_top10": q_indegree_top10,
    "graph_triangle_count": q_triangle_count,
    "graph_pagerank_5iter": q_pagerank_5iter,
    "graph_connected_components": q_connected_components,
    "graph_labelprop_3iter": q_labelprop_3iter,
}

GRAPH_ORACLES = {
    "graph_indegree_top10": f"""
WITH {EDGES_CTE}
SELECT dst, CAST(count(*) AS BIGINT) AS indeg
FROM edges GROUP BY dst
ORDER BY indeg DESC, dst ASC LIMIT 10""",
    "graph_triangle_count": f"""
WITH {EDGES_CTE},
und AS (SELECT a, b FROM sym WHERE a < b)
SELECT CAST(count(*) AS BIGINT) AS n_triangles
FROM und e1
JOIN und e2 ON e1.b = e2.a
JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b""",
    "graph_pagerank_5iter": _pagerank_sql(5),
    "graph_connected_components": f"""
WITH RECURSIVE {EDGES_CTE},
reach(id, lbl) AS (
  SELECT id, id FROM verts
  UNION
  SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.id
)
SELECT id, min(lbl) AS component FROM reach GROUP BY id""",
    "graph_labelprop_3iter": _labelprop_sql(3),
}
