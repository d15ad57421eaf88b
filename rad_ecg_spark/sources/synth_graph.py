"""Deterministic synthetic edge tables at bench scale — pure JVM-side
arithmetic (xxhash64 over spark.range), no Python in the loop, so a
10^7-edge table materializes in seconds and the same (seed, E, V) always
yields the same graph at any parallelism.

Degree distribution (default): 90% uniform targets + 10% routed to a
100-vertex hub set — the power-law-ish IN-degree supernode skew the
north_rule requires the engine to survive. The partial-aggregation
groupBy absorbs in-degree skew for free, so a second knob plants
OUT-degree skew, the case that actually stresses the per-iteration
edges⋈ranks join: ``src_skew="powerlaw"`` draws the source via an
inverse-CDF power law, src = floor(V * u^alpha) with u uniform on
[0,1), giving P(src < x) = (x/V)^(1/alpha) — i.e. out-degree(v) ∝
v^(1/alpha - 1), a genuine heavy-tailed web-graph out-degree. At
alpha=6, V=E/10 the single hottest source owns ~V^(-1/6) ≈ 7-8% of ALL
edges — the straggler shape the hub-split path
(operators/skew.py hub_split) exists for; the engine takes it once a
source's share exceeds 1/P of the edges (P the loop's partitions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rad_ecg_spark.operators.graph_core import shuffle_partitions


def synth_edges(
    spark: SparkSession,
    n_edges: int,
    n_vertices: int | None = None,
    hub_fraction_pct: int = 10,
    n_hubs: int = 100,
    partitions: int | None = None,
    seed: int = 42,
    src_skew: str = "uniform",
    powerlaw_alpha: float = 6.0,
) -> DataFrame:
    if src_skew not in ("uniform", "powerlaw"):
        raise ValueError(f"src_skew must be uniform|powerlaw, got {src_skew!r}")
    if n_vertices is None:
        n_vertices = max(10, n_edges // 10)
    if partitions is None:
        partitions = shuffle_partitions(spark)
    base = spark.range(0, n_edges, 1, partitions)
    h = lambda salt: F.abs(F.xxhash64(F.col("id"), F.lit(seed), F.lit(salt)))  # noqa: E731
    if src_skew == "powerlaw":
        # u in [0,1) from 30 hash bits — deterministic at any parallelism
        u = (h(29) % F.lit(1 << 30)).cast("double") / F.lit(float(1 << 30))
        src = F.least(
            F.floor(F.lit(float(n_vertices)) * F.pow(u, F.lit(powerlaw_alpha))).cast(
                "long"
            ),
            F.lit(n_vertices - 1),
        )
    else:
        src = h(13) % n_vertices
    uniform_dst = h(17) % n_vertices
    hub_dst = h(19) % n_hubs
    dst = F.when(h(23) % 100 < hub_fraction_pct, hub_dst).otherwise(uniform_dst)
    return (
        base.select(src.alias("src"), dst.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
