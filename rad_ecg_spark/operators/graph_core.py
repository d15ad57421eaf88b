"""Shared graph plumbing: the one input path (``edge_set``), the
symmetric view, vertices, degrees, and the ``iterate`` loop driver every
iterative graph algorithm runs on.

Canonical edge schema everywhere in the engine: ``src``, ``dst`` (any
orderable type — string urls or long ids). All operators accept a frame
with those two columns and are agnostic to the vertex type.

Input-cut invariant, one cut per caller: every graph operator
(``pagerank``, ``connected_components``, ``label_propagation``,
``triangle_count``, ``triangles``) takes its input only through
``edge_set``, which returns an ``EdgeSet``: the deduplicated edge set
behind a lazy ``localCheckpoint`` that its own count materializes, and
that count. Given a DataFrame, an operator takes the cut itself (the
input is read exactly once) and frees it; given an ``EdgeSet``, it
borrows the caller's cut, runs no job for it and leaves it in place,
so a caller that runs several operators on one graph (``run_pipeline``)
reads its input once and frees the cut after the last of them. Either
way nothing the operator plans sees the input's lineage. The reason is
join planning, not caching: over a persisted-and-counted DataFrame
whose plan is a deep upstream derivation (the pipeline's extract/dedup
edges), every self-join re-runs the broadcast jobs of that upstream
plan, while a plain ``select … distinct`` reads the cache in one job.
Measured on a 4-core host (``local[4]``, AQE on): on the pipeline graph
of 6 × 10 generated pages, ``triangle_count`` ran 99 Spark jobs before
the cut and 9 after, as many as on a flat copy of the same rows; in the
traced perfbench ``web_pipeline`` pass (1,000 pages) Spark jobs fell
from 478 to 132 (triangles 208 -> 10, label propagation 65 -> 13,
components 47 -> 12, PageRank 71 -> 39) and the untraced pass wall from
46.7 to 25.0 s (medians of 3). The cut is executor-local, like the
loops' per-iteration state: an executor lost mid-operator fails the
operator.

Scale notes:
- ``vertices_of`` is a union + distinct — one shuffle over the cut.
- ``symmetric`` is the one undirected view: both directions on ONE
  exchange (repartition by src; the dedup reuses that partitioning).
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable, NamedTuple

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F


# target rows per partition for iterative graph state/edges: small enough
# to fit comfortably in executor memory at 100TB scale, large enough that
# per-task overhead doesn't dominate (measured: a 15k-edge graph at 32
# partitions spends ~6s/iter on pure task overhead; at 2 partitions <1s).
# Round 6 re-measurement: 500k rows/partition undersubscribed the local
# machine at mid scale (3M-row sym table -> 7 partitions on 32 cores,
# hashmin rounds 1.2 s; at 16-32 partitions the same rounds run 0.45 s)
# and left the 10M-edge bench at 21 tasks (steady iter 1.11 s -> 0.77-1.0
# at 32). 150k keeps tiny graphs at 2 partitions while saturating the
# configured parallelism cap (spark.sql.shuffle.partitions, sized to the
# cluster) from ~5M rows up.
EDGE_ROWS_PER_PARTITION = 150_000


def shuffle_partitions(spark) -> int:
    """The session's effective ``spark.sql.shuffle.partitions``.

    No fallback value: ``conf.get(key, default)`` returns the default
    whenever the session never set the key explicitly, while Spark itself
    shuffles into its built-in default (200) — so a typed fallback sizes
    work for a parallelism the session does not have."""
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def size_partitions(spark, n_rows: int) -> int:
    """Partition count proportional to data size, capped by the session
    shuffle-partition setting (which on a real cluster is sized to
    executor count). The one sizing rule of the graph operators."""
    return max(2, min(shuffle_partitions(spark), n_rows // EDGE_ROWS_PER_PARTITION + 1))


@contextmanager
def pinned_conf(spark, conf: dict[str, str]):
    """Runs the block under ``conf``, then restores each key's previous
    value, or unsets it if the session had not set it (a fallback written
    back would override the built-in default for the rest of the session)."""
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def pinned_loop_conf(spark, shuffle_partitions: int | None = None):
    """``pinned_conf`` with AQE off, for the duration of an iterative loop.

    Two reasons, both measured at 10M edges on local[32]:
    - partition coalescing changes the state's partitioning between
      iterations, forcing re-exchanges;
    - AQE's per-stage re-planning + query-stage materialization adds
      irregular multi-second stalls (34-42s spikes every few
      iterations; steady 0.8M -> 1.6M edges/sec/iter with AQE off).
    The loop's plans are fixed and hand-partitioned, so AQE has nothing
    to improve here; skew is handled structurally (map-side partial
    aggregation; degree-ordered orientation in triangles). AQE stays on
    for ad-hoc relational queries (session default).

    ``shuffle_partitions``: when the loop's state is hand-partitioned to
    N, pin spark.sql.shuffle.partitions = N too, so natural shuffles
    inside the loop (a plain groupBy) land on the SAME partition count
    as the state and the write-back joins stay exchange-free. Without
    this, a loop sized below the session default pays one extra
    vertex-sized exchange per iteration re-aligning the aggregate output
    to the state's partitioning (guide §2.4: share one exchange).
    """
    conf = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    return pinned_conf(spark, conf)


def free_local_checkpoint(df: DataFrame | None) -> None:
    """Explicitly release a localCheckpoint'd DataFrame's storage blocks.

    Iterative loops checkpoint every iteration; the superseded RDDs are
    only reclaimed on JVM GC otherwise, and on a long run the storage
    region fills up and iteration times degrade 5-10x (measured: steady
    ~4s/iter collapsing to 40s/iter by iteration 7 at 10M edges).
    DataFrame.unpersist() does NOT cover checkpoint blocks — we reach the
    LogicalRDD's underlying RDD and unpersist it directly.
    """
    if df is None:
        return
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith("LogicalRDD"):
            plan.rdd().unpersist(False)
    except Exception:
        pass  # best-effort: a leaked block degrades perf, not correctness


class EdgeSet(NamedTuple):
    """A graph's input cut (``cut``, columns src, dst; distinct pairs,
    materialized) and its row count. Passed to an operator it is lent:
    the operator reads the cut and never frees it; its owner, whoever
    called ``edge_set`` on a DataFrame, frees it with
    ``free_local_checkpoint(es.cut)`` once no result it handed out still
    reads it."""

    cut: DataFrame
    n_edges: int


def edge_set(edges: DataFrame | EdgeSet) -> EdgeSet:
    """``EdgeSet(cut, n_edges)``: the input's distinct (src, dst) pairs
    behind a lazy ``localCheckpoint`` that the count materializes — one
    job, one read of the input (see the module docstring). The only way
    a graph operator takes input; the caller frees the cut
    (``free_local_checkpoint``) once the DataFrame it returns no longer
    reads it. An ``EdgeSet`` comes back as is, with no job.

    The cut records no key partitioning, on purpose: a self-join
    re-instances the checkpoint, and a copy whose recorded partitioning
    names the new attributes no longer matches plans cached over the
    original, so every cache downstream of a self-join misses (measured:
    a ``triangle_count`` that persisted its canonical edge set ran that
    distinct again, 30 jobs instead of 17). Taken under AQE the
    checkpoint records none; taken with AQE off, which makes it one job
    instead of three, the narrow ``coalesce`` drops it. A consumer that
    needs a partitioning (PageRank's loop) repartitions the cut."""
    if isinstance(edges, EdgeSet):
        return edges
    spark = edges.sparkSession
    with pinned_loop_conf(spark):
        cut = (
            edges.select("src", "dst")
            .dropDuplicates(["src", "dst"])
            .coalesce(shuffle_partitions(spark))
            .localCheckpoint(eager=False)
        )
        return EdgeSet(cut, cut.count())


@dataclass
class IterStats:
    """What ``iterate`` records per loop: iterations run (counting any
    resumed-from prefix), per-iteration wall and the converged flag."""

    iterations: int = 0
    iter_wall_s: list[float] = field(default_factory=list)
    converged: bool = False

    def record(self, row: Row) -> None:
        """Keep the iteration's convergence signal (subclasses)."""


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, Any], DataFrame],
    summary: list[Column],
    done: Callable[[Row, Any], bool],
    stats: IterStats,
    num_partitions: int,
    max_iter: int,
    start: int = 0,
    prev: Any = None,
    checkpointer=None,
    snapshot: Callable[[DataFrame, Row], dict] | None = None,
) -> DataFrame:
    """Run ``state = step(state, prev)`` from iteration ``start`` until
    ``done(row, prev)`` or ``max_iter``; returns the final state.

    ``row`` is the one-row ``summary`` aggregate over the new state and
    ``prev`` the previous iteration's row (on the first iteration, the
    ``prev`` argument: a summary of the initial state, or None).

    The loop discipline every iterative graph algorithm shares, stated
    once here:
    - ``pinned_loop_conf(num_partitions)`` for the whole loop, so the
      state's hand partitioning survives and natural shuffles land on it;
    - the new state's lineage is truncated with localCheckpoint EVERY
      iteration. Not optional: a new-state plan references the old state
      ~2x, so without truncation the logical plan grows exponentially
      (measured 2.4 s/iter -> 140 s/iter by iteration 8); persist() does
      not help, it caches execution, not the logical plan. The checkpoint
      is LAZY and the summary ``collect`` is the action that materializes
      it, so a steady iteration is ONE Spark job (a checkpoint job plus
      an agg job measured ~2-3% slower). The summary is a column
      aggregate, never a join, so the driver holds scalars only;
    - ``checkpointer.wait()`` before ``free_local_checkpoint(old)``: an
      async commit may still be writing the superseded state;
    - ``stats`` gets the iteration count, the wall (durable commit time
      excluded), ``stats.record(row)`` and the converged flag;
    - every iteration ``checkpointer.commit`` gets ``snapshot(state,
      row)``, and the last commit lands before return;
    - ``stats.iterations`` counts from ``start``, so a resume at or past
      ``max_iter`` reports the resumed-from iteration, not 0;
    - a run from iteration 0 that commits starts a new checkpoint
      generation (``checkpointer.clear()``): a later resume reads it only.
    """
    if checkpointer is not None and start == 0 < max_iter:
        checkpointer.clear()
    stats.iterations = start
    with pinned_loop_conf(state.sparkSession, num_partitions):
        for it in range(start, max_iter):
            t_iter = time.monotonic()
            new_state = step(state, prev).localCheckpoint(eager=False)
            row = new_state.agg(*summary).collect()[0]
            if checkpointer is not None:
                checkpointer.wait()
            free_local_checkpoint(state)
            state = new_state
            stats.iterations = it + 1
            stats.record(row)
            stats.iter_wall_s.append(round(time.monotonic() - t_iter, 3))
            if checkpointer is not None:
                checkpointer.commit(iteration=it + 1, **snapshot(state, row))
            if done(row, prev):
                stats.converged = True
                break
            prev = row
    if checkpointer is not None:
        checkpointer.wait()  # the final snapshot must land before return
    return state


def messages(edges: DataFrame, state: DataFrame, cols: list, hubs=None) -> DataFrame:
    """Per-edge messages src -> dst: ``cols`` selected from
    ``edges ⋈ state`` on ``edges.src == state.id``.

    ``edges`` is hash-partitioned by src and ``state`` by id, so the join
    is co-partitioned; shuffle_hash builds a map over the per-partition
    state slice, where sort-merge would re-sort the edge table every
    iteration. ``hubs`` (an ``operators.skew.HubSplit`` of ``edges``)
    routes supernode edges through its broadcast path instead."""
    if hubs is not None:
        return hubs.messages(state, cols)
    return edges.join(state.hint("shuffle_hash"), edges.src == state.id).select(*cols)


def vertices_of(edges: DataFrame) -> DataFrame:
    """Distinct vertex set, column ``id``."""
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def out_degrees(edges: DataFrame) -> DataFrame:
    return edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))


def both_directions(edges: DataFrame) -> DataFrame:
    """Both directions of every edge, self-loops dropped, duplicates
    kept (a min-aggregation does not see them)."""
    return edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).filter(F.col("src") != F.col("dst"))


def symmetric(edges: DataFrame, num_partitions: int) -> DataFrame:
    """The undirected view: ``both_directions`` hash-partitioned by src
    and deduplicated on that partitioning — ONE exchange (subset rule),
    where a distinct-then-repartition pays two."""
    return (
        both_directions(edges)
        .repartition(num_partitions, "src")
        .dropDuplicates(["src", "dst"])
    )
