"""Synchronous label propagation with deterministic min-label tie-break.

Every vertex starts labeled with its own id; each round every vertex
simultaneously adopts the most frequent label among its neighbors,
breaking frequency ties by the SMALLEST label (not hash order) — that is
what makes the output identical at any parallelism (local[8] == local[32]
bitwise, SURVEY.md §7.3).

Plan shape of one round (the loop itself — pinned conf, lazy
per-round localCheckpoint materialized by the changed-count aggregate,
freeing superseded state, stats — is ``graph_core.iterate``):
- the symmetric edge table (``graph_core.symmetric`` of the input cut)
  is hash-partitioned by ``src`` ONCE and persisted; the per-round
  labels join (sym.src == labels.id) is co-partitioned with a
  shuffle_hash hint, so the 2|E| edge rows are never re-shuffled or
  re-sorted inside the loop;
- ONE exchange per round: messages repartition(P, dst). Both mode
  aggregations (groupBy(dst,label) then argmax per dst) run on that
  partitioning with no further exchange (HashPartitioning(dst) satisfies
  the (dst,label) grouping — the subset rule);
- the join of the per-dst argmax back onto labels is co-partitioned
  (HashPartitioning(dst) vs HashPartitioning(id), same count) — no
  exchange;
- change detection is a COLUMN (`changed`), not a self-join: the new
  state row carries old-vs-new inline and one aggregate scan returns the
  round's change count — the driver holds a single scalar;
- the argmax is min_by over a packed (-cnt, label) struct, a single
  hash-agg with partial aggregation — skew-safe for supernodes (a
  window row_number would sort every dst group).

Reference capability donor: mode aggregation with deterministic pick
(/root/reference/src/rad_ecg/scripts/porcine/pig_extract.py:1007) and
bounded-round iteration (peak_detect_v4.py:1733-1756).
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
    size_partitions,
    symmetric,
    vertices_of,
)
from rad_ecg_spark.operators.skew import HubSplit, hub_split


@dataclass
class LabelPropStats(IterStats):
    changes: list[int] = field(default_factory=list)

    def record(self, row) -> None:
        self.changes.append(int(row["changed"]))


def label_propagation_step(
    labels: DataFrame, sym: DataFrame, num_partitions: int, hubs: HubSplit | None = None
) -> DataFrame:
    """One synchronous round: (id, label[, changed]) -> (id, label,
    changed)."""
    # messages flow src -> dst (sym by src, labels by id: co-partitioned)
    msgs = messages(sym, labels, ["dst", "label"], hubs)
    # THE round's single exchange; both groupBys below are satisfied
    # by HashPartitioning(dst) (subset rule) — no further shuffle.
    counts = (
        msgs.repartition(num_partitions, "dst")
        .groupBy("dst", "label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # argmax by (cnt desc, label asc): min_by over struct(-cnt, label).
    # Round-6 audit note: the struct buffer makes this a partial+final
    # SortAggregate pair (not hash-aggregable). Two rewrites were
    # measured and REJECTED: max-then-filter-then-min re-planned the
    # equality filter into the join key (5 live exchanges/round), and
    # a decimal-packed max (hash-aggregable) timed identical to
    # min_by at 3M messages/round (0.48-0.52 s both) — the sort runs
    # on the post-exchange partition stream and is not the wall.
    best = counts.groupBy("dst").agg(
        F.min_by("label", F.struct((-F.col("cnt")).alias("nc"), F.col("label"))).alias(
            "new_label"
        )
    )
    new_label = F.coalesce(F.col("new_label"), labels.label)
    return labels.join(best.hint("shuffle_hash"), labels.id == best.dst, "left").select(
        labels.id,
        new_label.alias("label"),
        # change detection inline — no self-join, one agg scan
        (new_label != labels.label).cast("long").alias("changed"),
    )


def label_propagation(
    edges: DataFrame | EdgeSet,
    max_iter: int = 10,
    stats: LabelPropStats | None = None,
) -> DataFrame:
    """DataFrame(id, label). Converges when no vertex changes label
    (synchronous LP can 2-cycle on bipartite structures — max_iter bounds
    that; the fixed iteration count is itself deterministic).

    Supernodes: PageRank's split (``operators.skew.hub_split``) on the
    symmetric view, for vertices with more than 2|E| / P rows. A vertex
    holds at most half the view, so at P == 2 no job checks; at P >= 3
    one groupBy builds the cache round 1 reads. LP messages are exact
    (dst, label) rows feeding an integer count, so the split output is
    BITWISE identical to the unsplit plan (asserted in tests), not
    merely 1e-12-close.
    """
    if stats is None:
        stats = LabelPropStats()

    lent = isinstance(edges, EdgeSet)
    edges, n_edges = edge_set(edges)
    # sized on the symmetric table (2|E|), as connected components
    rows = n_edges * 2
    num_partitions = size_partitions(edges.sparkSession, rows)
    # lazy persist: the hub check (P >= 3) or round 1's join materializes it
    sym = symmetric(edges, num_partitions).persist(StorageLevel.MEMORY_AND_DISK)
    hubs = hub_split(sym, rows, num_partitions, max_rows=n_edges)
    # select BEFORE repartition: localCheckpoint records only the FIRST
    # partitioning of a PartitioningCollection, and selecting
    # id->label AFTER the repartition makes that hash(label), which the
    # loop's join on id can't reuse (measured: one extra vertex-sized
    # exchange per round).
    initial = (
        vertices_of(edges)
        .select("id", F.col("id").alias("label"))
        .repartition(num_partitions, "id")
        # lazy: round 1's join materializes it
        .localCheckpoint(eager=False)
    )
    labels = iterate(
        initial,
        lambda state, prev: label_propagation_step(state, sym, num_partitions, hubs),
        # coalesce: sum over zero rows is NULL (empty vertex set)
        [F.coalesce(F.sum("changed"), F.lit(0)).alias("changed")],
        lambda row, prev: row["changed"] == 0,
        stats,
        num_partitions,
        max_iter,
    )
    sym.unpersist()
    # a lent cut is its owner's; an unmaterialized initial still reads it
    if not lent and labels is not initial:
        free_local_checkpoint(edges)
    # without this the hub-split path leaked ~2|E|+ cached rows per call
    # in a long-lived driver (ADVICE r05), and in run_pipeline the leaked
    # blocks squat on storage while components/triangles run afterwards
    # in the same session
    if hubs is not None:
        hubs.unpersist()
    return labels.select("id", "label")
