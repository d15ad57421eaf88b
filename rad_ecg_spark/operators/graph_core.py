"""Shared graph plumbing: canonical edge frames, vertices, degrees,
dictionary encoding, and the ``iterate`` loop driver every iterative
graph algorithm runs on.

Canonical edge schema everywhere in the engine: ``src``, ``dst`` (any
orderable type — string urls or long ids). All operators accept a frame
with those two columns and are agnostic to the vertex type.

Scale notes:
- ``vertices_of`` is a union + distinct — one shuffle, done once per job
  and persisted by callers.
- ``encode_vertices`` maps arbitrary vertex keys to dense longs with a
  deterministic global ordering. Joins on 8-byte longs beat 40+-byte url
  strings in every shuffle of every iteration, so iterative algorithms
  should run on encoded edges at scale; the mapping is a one-time
  range-sort that pays for itself after ~1 iteration.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F


def normalize_edges(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    return edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))


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


def size_partitions(spark, n_rows: int, configured: int | None = None) -> int:
    """Partition count proportional to data size, capped by the session
    shuffle-partition setting (which on a real cluster is sized to
    executor count)."""
    if configured is None:
        configured = shuffle_partitions(spark)
    return max(2, min(configured, n_rows // EDGE_ROWS_PER_PARTITION + 1))


@contextmanager
def pinned_loop_conf(spark, shuffle_partitions: int | None = None):
    """Disable AQE for the duration of an iterative loop.

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
    keys = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    if shuffle_partitions is not None:
        keys["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # capture via no-default get (returns the conf's own default when the
    # session never set it) — a typed fallback string would be written
    # back verbatim on restore and corrupt e.g. shuffle.partitions in
    # sessions that rely on the built-in default
    old: dict[str, str | None] = {}
    for k in keys:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)



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
    checkpoint_every: int = 1,
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
    - every ``checkpoint_every`` iterations ``checkpointer.commit`` gets
      ``snapshot(state, row)``, and the last commit lands before return.
    """
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
            if checkpointer is not None and (it + 1) % checkpoint_every == 0:
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


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected view: both directions, distinct, self-loops dropped."""
    sym = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return sym.filter(F.col("src") != F.col("dst")).distinct()


def encode_vertices(
    edges: DataFrame, partitions: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """Dictionary-encode vertex keys to dense longs ``0..V-1``.

    Returns (encoded_edges(src:long, dst:long), mapping(id:long, key)).

    Deterministic AND distributed: a two-phase zipWithIndex — range-
    partition the sorted vertex set, count rows per partition on the
    driver (tiny: one long per partition), then assign
    ``vid = partition_offset + local_row_number`` inside ``mapInPandas``.
    No single-partition global window, so this survives 10^11 vertices.
    Same input graph → same encoding at any parallelism (bitwise-stable
    outputs across local[8]/local[32], SURVEY.md §7.3).
    """
    spark = edges.sparkSession
    if partitions is None:
        partitions = shuffle_partitions(spark)
    verts = vertices_of(edges)
    key_type = verts.schema["id"].dataType.simpleString()

    vs = (
        verts.repartitionByRange(partitions, "id")
        .sortWithinPartitions("id")
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    counts = {
        r["pid"]: r["cnt"]
        for r in vs.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    b_offsets = spark.sparkContext.broadcast(offsets)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        seen = 0
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"key": pdf["id"], "vid": np.array([], dtype=np.int64)})
                continue
            base = b_offsets.value[int(pdf["pid"].iloc[0])]
            vid = np.arange(seen, seen + len(pdf), dtype=np.int64) + base
            seen += len(pdf)
            yield pd.DataFrame({"key": pdf["id"].to_numpy(), "vid": vid})

    mapping = vs.mapInPandas(assign, schema=f"key {key_type}, vid long").persist()

    enc = (
        edges.join(mapping.withColumnRenamed("key", "src"), "src")
        .withColumnRenamed("vid", "src_vid")
        .join(mapping.withColumnRenamed("key", "dst"), "dst")
        .withColumnRenamed("vid", "dst_vid")
        .select(F.col("src_vid").alias("src"), F.col("dst_vid").alias("dst"))
    )
    return enc, mapping.select(F.col("vid").alias("id"), F.col("key").alias("key"))
