"""PageRank: power iteration with dangling-mass redistribution.

Semantics (matches the standard Brin-Page formulation and the NumPy
oracle in tests/oracles.py):

    rank_{k+1}(v) = (1-d)/N + d * ( sum_{u->v} rank_k(u)/outdeg(u)
                                    + dangling_mass_k / N )
    dangling_mass_k = sum of rank_k over vertices with outdeg == 0
    converged when  max_v |rank_{k+1}(v) - rank_k(v)| < tol

Scale design (what must survive 10^12 documents; measured numbers from
local[32] @ 10M edges):

- ONE shuffle per iteration — the contribution groupBy("dst"). Edges
  (the input cut, ``graph_core.edge_set``) are hash-partitioned by
  ``src`` once and persisted; the ranks state is
  hash-partitioned by vertex id, so both per-iteration joins
  (edges⋈ranks on src, ranks⋈contribs on id=dst) reuse existing
  partitionings with no Exchange.
- SHUFFLE_HASH join hints on the small/state side: the default
  sort-merge join would re-sort the 10M-edge table EVERY iteration
  (sort is not cached with the partitioning). Hash join builds a map
  over the per-partition ranks slice instead — measured ~2x faster
  per iteration.
- The convergence delta is a COLUMN, not a join: the state table
  carries (id, outdeg, rank) and the new state is produced by joining
  contributions back to it, so |new-old| is computed row-local. One
  aggregate scan per iteration returns (delta_max, dangling_next,
  mass) — the driver holds 3 scalars, never vertex-sized data.
- Partial (map-side) aggregation makes the groupBy-sum skew-tolerant:
  a supernode dst key reduces to one partial row per map partition
  before the shuffle (10^8-in-degree hub => P partial rows, not 10^8
  shuffled rows). AQE skew-join handles src-side skew in the join;
  AQE partition coalescing is disabled inside the loop so the state's
  partitioning stays aligned across iterations.
- The loop itself (pinned conf, lazy per-iteration localCheckpoint
  materialized by the one summary aggregate, wait-before-free, stats,
  checkpoint commits, resume start) is ``graph_core.iterate``; this
  module supplies ``pagerank_step`` and the delta < tol test.
- Optional durable checkpointing via plans.checkpoint.CheckpointManager:
  per-iteration snapshot + _meta lineage row; ``resume=True`` restarts
  from the last complete iteration (north_rule requirement).

Reference capability donor: history-driven iteration with convergence
gating (/root/reference/src/rad_ecg/scripts/peak_detect_v4.py:1733-1756)
and skip-if-done resume (peak_detect_v4.py:1850-1853).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from rad_ecg_spark.operators.graph_core import (
    EdgeSet,
    IterStats,
    edge_set,
    free_local_checkpoint,
    iterate,
    messages,
    out_degrees,
    size_partitions,
)
from rad_ecg_spark.operators.skew import HubSplit, hub_split
from rad_ecg_spark.plans.checkpoint import CheckpointManager


@dataclass
class PageRankStats(IterStats):
    deltas: list[float] = field(default_factory=list)
    setup_wall_s: float = 0.0
    num_vertices: int = 0
    num_edges: int = 0
    resumed_from: int | None = None

    def record(self, row) -> None:
        self.deltas.append(float(row["delta"]))


def pagerank_step(
    ranks: DataFrame,
    edges: DataFrame,
    dangling: float,
    n: int,
    damping: float,
    hubs: HubSplit | None = None,
) -> DataFrame:
    """One power iteration: (id, outdeg, rank) -> (id, outdeg, rank,
    delta). ``dangling`` is the current state's dangling mass."""
    d = float(damping)
    base = (1.0 - d) / n
    msgs = messages(
        edges,
        ranks.filter(F.col("outdeg") > 0),
        [F.col("dst"), (F.col("rank") / F.col("outdeg")).alias("w")],
        hubs,
    )
    contribs = msgs.groupBy("dst").agg(F.sum("w").alias("in_sum"))
    new_rank = F.lit(base) + F.lit(d) * (
        F.coalesce(F.col("in_sum"), F.lit(0.0)) + F.lit(dangling / n)
    )
    return ranks.join(
        contribs.hint("shuffle_hash"), ranks.id == contribs.dst, "left"
    ).select(
        ranks.id,
        ranks.outdeg,
        new_rank.alias("rank"),
        F.abs(new_rank - ranks.rank).alias("delta"),
    )


def _prepare(cut: DataFrame, num_partitions: int):
    """(edges, verts) of an edge-set cut (``graph_core.edge_set``): the
    edges hash-partitioned by src, and the (id, outdeg) state table
    hash-partitioned by id — the one partitioning the loop's joins
    share, which the cut itself does not record. Both persisted, not yet
    materialized."""
    edges = cut.repartition(num_partitions, "src").persist(StorageLevel.MEMORY_AND_DISK)
    # state table carries the static outdeg so the loop never re-joins a
    # separate degree table. Vertex set = dst side ∪ degree table keys:
    # out_degrees reuses the cached edges' HashPartitioning(src) with no
    # exchange, so only the dst projection is shuffled (half the rows the
    # old union-both-sides-then-distinct moved), and the full-outer join
    # is co-partitioned.
    deg = out_degrees(edges)
    dsts = edges.select(F.col("dst").alias("id")).distinct()
    verts = (
        dsts.join(deg, dsts.id == deg.src, "full_outer")
        .select(
            F.coalesce(F.col("id"), F.col("src")).alias("id"),
            F.coalesce(F.col("outdeg"), F.lit(0)).alias("outdeg"),
        )
        .repartition(num_partitions, "id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return edges, verts


def pagerank(
    edges: DataFrame | EdgeSet,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    checkpointer: CheckpointManager | None = None,
    resume: bool = False,
    stats: PageRankStats | None = None,
    tol_mode: str = "abs",
) -> DataFrame:
    """Returns DataFrame(id, rank). ``edges`` needs columns src, dst;
    PageRank runs on their edge set (``graph_core.edge_set``), so a
    duplicate (src, dst) row does not inflate outdeg. An ``EdgeSet``
    ``edges`` is read, not freed.

    Ranks sum to 1.0 at every iteration (dangling mass redistributed).

    ``checkpointer``: commits every iteration's ranks (see
    ``plans.checkpoint.CheckpointManager`` for why there is one
    cadence). ``resume=True`` starts from its last complete iteration,
    or from ``max_iter`` when that is lower (the checkpoint generation
    holds every iteration up to the last), or from 0 over an empty
    directory, and needs a ``checkpointer`` (ValueError otherwise: there
    is nothing to resume from).

    ``tol_mode``: convergence criterion for ``tol``.
      - ``"abs"`` (default): max_v |rank_{k+1}(v) - rank_k(v)| < tol.
        Mechanically EASIER as the graph grows — with rank mass 1 over
        n vertices, per-vertex ranks are themselves ~1/n, so at n=1e6
        the absolute 1e-6 bar sits at the scale of the ranks.
      - ``"rel"``: the scale-invariant form — converged when the max
        delta is below ``tol`` RELATIVE to the uniform rank 1/n, i.e.
        effective absolute tolerance tol/n. This is the honest
        "iterations-to-1e-6" at bench scale and beyond (measured: 18
        iterations vs abs-mode's 7 at 10M edges / 1M vertices —
        BENCH/BASELINE.md 'Convergence benchmark').

    Supernodes: a source with more than |E| / P of the edges (P the
    loop's partitions) takes ``operators.skew.hub_split``'s path: its
    edges stay in balanced natural partitioning and join a BROADCAST
    slice of the rank state. Results match the unsplit plan up to float
    summation order (~1e-12, not bitwise — tests/test_kernels_and_io.py
    star-graph check).
    """
    import time as _time

    if tol_mode not in ("abs", "rel"):
        raise ValueError(f"tol_mode must be 'abs' or 'rel', got {tol_mode!r}")
    if resume and checkpointer is None:
        raise ValueError("resume=True needs a checkpointer to resume from")
    t_setup = _time.monotonic()
    if stats is None:
        stats = PageRankStats()

    lent = isinstance(edges, EdgeSet)
    cut, n_edges = edge_set(edges)
    spark = cut.sparkSession
    # size partitions to the data: tiny graphs at full parallelism pay
    # ~6s/iteration of pure task overhead (measured)
    num_partitions = size_partitions(spark, n_edges)
    edges, verts = _prepare(cut, num_partitions)
    # the vertex count materializes verts; the max out-degree rides along
    n, max_outdeg = verts.agg(F.count(F.lit(1)), F.max("outdeg")).collect()[0]
    stats.num_vertices = n
    stats.num_edges = n_edges
    if not lent:
        free_local_checkpoint(cut)  # the vertex count materialized edges
    if n == 0:  # a result that reads none of the caches
        schema = verts.select("id", F.lit(0.0).alias("rank")).schema
        edges.unpersist()
        verts.unpersist()
        return spark.createDataFrame([], schema)

    hubs = hub_split(edges, n_edges, num_partitions, max_rows=max_outdeg)

    start_iter = 0
    ranks = None
    if resume:
        last = checkpointer.last_complete()
        if last is not None:
            start_iter = min(last, max_iter)  # 0: the initial state
            stats.resumed_from = start_iter
        if start_iter > 0:
            loaded = checkpointer.load_state(start_iter).select(
                F.col("id").alias("cid"), "rank"
            )
            ranks = (
                verts.join(loaded, verts.id == F.col("cid"))
                .select("id", "outdeg", "rank")
                .repartition(num_partitions, "id")
                .localCheckpoint(eager=True)
            )
    if ranks is None:
        # lazy: the dangling-mass seed agg below materializes it
        ranks = verts.select(
            "id", "outdeg", (F.lit(1.0) / F.lit(float(n))).alias("rank")
        ).localCheckpoint(eager=False)

    # one action to seed the loop's dangling mass
    dangling = ranks.filter(F.col("outdeg") == 0).agg(
        F.coalesce(F.sum("rank"), F.lit(0.0))
    ).collect()[0][0]

    # resolve the criterion once n is known; the loop compares against
    # an absolute threshold either way
    eff_tol = float(tol) if tol_mode == "abs" else float(tol) / n
    stats.setup_wall_s = _time.monotonic() - t_setup
    ranks = iterate(
        ranks,
        lambda state, prev: pagerank_step(
            state, edges, prev["dangling"], n, damping, hubs
        ),
        # convergence delta + next dangling mass + total mass
        [
            F.max("delta").alias("delta"),
            F.sum(F.when(F.col("outdeg") == 0, F.col("rank")).otherwise(0.0)).alias(
                "dangling"
            ),
            F.sum("rank").alias("mass"),
        ],
        lambda row, prev: row["delta"] < eff_tol,
        stats,
        num_partitions,
        max_iter,
        start=start_iter,
        prev={"dangling": dangling},
        checkpointer=checkpointer,
        snapshot=lambda state, row: dict(
            state=state.select("id", "rank"),
            rows=n,
            agg_value=float(row["mass"]),
            delta_max=float(row["delta"]),
        ),
    )
    result = ranks.select("id", "rank")
    edges.unpersist()
    verts.unpersist()
    if hubs is not None:
        hubs.unpersist()
    return result
