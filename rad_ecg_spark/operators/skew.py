"""Skew mitigation for supernode joins (north_rule: "salted joins and
broadcast handling for high-degree supernodes").

Two structural tools:

- ``salted_join(big, small, key, n_salts)``: generic salted inner
  equi-join.
  The big side gets a per-row salt (hash of a disambiguating column mod
  n_salts), the small side is replicated n_salts times, and the join key
  becomes (key, salt) — a single hot key fans out over n_salts tasks
  instead of one straggler. Use when the small side is too big to
  broadcast but the big side has hot keys.

- ``HubSplit(edges, hub_ids, num_partitions)``: hub/residual split for
  iterative message passing. Edges whose src is one of ``hub_ids`` go to a
  ``hub`` table in balanced round-robin partitioning and are joined
  per-iteration against a BROADCAST slice of the rank state (the slice
  has one row per hub); residual edges keep the co-partitioned
  shuffle-hash path, where no source outweighs an average partition.
  ``hub_split`` is the one rule for when PageRank and label propagation
  take it: split off the sources holding more than an average
  partition's share of the edges (BENCH/BASELINE.md 'Hub-split
  supernode path').

Reference capability donor: the work-queue rebalancing idea
(/root/reference/src/rad_ecg/scripts/peak_detect_v4.py:1664-1679) —
oversized work units are routed to a different execution path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from rad_ecg_spark.operators.graph_core import messages, out_degrees


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 16,
    unique_col: str | None = None,
) -> DataFrame:
    """Inner equi-join big⋈small on ``key`` with the hot-key fan-out
    spread over ``n_salts`` subtasks. Output rows equal
    ``big.join(small, key)``. Inner only: the small side is replicated
    n_salts times, so an outer join would emit each unmatched small row
    n_salts times.

    Salt derivation is DETERMINISTIC — this matters under stage retries:
    Spark only guards round-robin repartition against indeterminate-stage
    recomputation, so a nondeterministic salt (row id / rand) feeding a
    shuffle-join key can duplicate or drop rows if a map stage is
    recomputed after some reducers committed. Two modes:

    - ``unique_col`` given: salt = xxhash64(that column) — per-row
      spread even when the hot key's other columns are duplicated.
      Use a primary key / event id.
    - default: salt = xxhash64(all big-side columns). Fully duplicate
      rows of a hot key then share a salt bucket (bounded residual skew
      proportional to the duplicate multiplicity, documented tradeoff);
      distinct rows spread uniformly.
    """
    salt_src = (
        [F.col(unique_col)] if unique_col is not None else [F.col(c) for c in big.columns]
    )
    salt = F.pmod(F.xxhash64(*salt_src), F.lit(n_salts))
    big_s = big.withColumn("_salt", salt)
    salts = F.explode(F.array(*[F.lit(i) for i in range(n_salts)])).alias("_salt")
    small_s = small.select("*", salts)
    return big_s.join(small_s, [key, "_salt"]).drop("_salt")


class HubSplit:
    """The split of a src-partitioned edge table at the source ids
    ``hub_ids`` (a few: ``hub_split`` collects at most P - 1), persisted
    and materialized once for an iterative loop; ``unpersist()`` after
    it. The ids are literals in the plans (``isin``), so neither the
    split nor an iteration broadcasts them."""

    def __init__(self, edges: DataFrame, hub_ids: list, num_partitions: int):
        self.hub_ids = hub_ids
        is_hub = F.col("src").isin(hub_ids)
        # residual keeps HashPartitioning(src) (a filter preserves it;
        # a NULL src, which never joins a state row, is dropped); hub
        # edges get BALANCED round-robin partitioning — that is the point.
        self.residual = edges.filter(~is_hub).persist(StorageLevel.MEMORY_AND_DISK)
        self.hub_edges = (
            edges.filter(is_hub)
            .repartition(num_partitions)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        self.residual.count(), self.hub_edges.count()

    def messages(self, state: DataFrame, cols: list) -> DataFrame:
        """graph_core.messages over the split: residual edges keep the
        co-partitioned path with bounded per-key rows, hub edges join a
        broadcast state slice (one row per hub)."""
        hub_slice = state.filter(F.col("id").isin(self.hub_ids))
        m_hub = self.hub_edges.join(
            F.broadcast(hub_slice), self.hub_edges.src == F.col("id")
        ).select(*cols)
        return messages(self.residual, state, cols).unionByName(m_hub)

    def unpersist(self) -> None:
        for df in (self.residual, self.hub_edges):
            df.unpersist()


def hub_split(
    edges: DataFrame, rows: int, num_partitions: int, max_rows: int | None = None
) -> HubSplit | None:
    """A ``HubSplit`` of the src-partitioned ``edges`` whose hubs are the
    sources with more than ``rows / num_partitions`` rows (``rows``: the
    edge count the loop is sized on), or None when there are none.
    ``max_rows``, a bound on one source's rows the caller holds without
    a job, skips the check when within that share; otherwise one groupBy
    by src, with no exchange, finds the hubs."""
    share = rows // num_partitions
    if max_rows is not None and max_rows <= share:
        return None
    hubs = out_degrees(edges).filter(F.col("outdeg") > share).collect()
    if not hubs:
        return None
    return HubSplit(edges, [r["src"] for r in hubs], num_partitions)
