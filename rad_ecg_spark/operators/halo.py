"""Chunk-with-halo kernels over ONE giant ordered series.

Reference capability: the reference's rolling median slides over a
single long signal (/root/reference/src/rad_ecg/scripts/utils.py:54-76)
and its matrix-profile/FLUSS engines run per-section over one signal
(porcine/stumpy_discord.py:310-470). The keyed kernels in
operators/matrixprofile.py assume bounded per-key groups; this module
is the layout for the UNBOUNDED case — one series larger than any
executor.

Spark-first halo exchange: Spark has no peer-to-peer partition
exchange, so the idiomatic halo exchange is (1) a parallelism-invariant
global row number rn (range partition + per-partition offsets — never a
single-partition window), (2) each boundary row DUPLICATED into the
neighboring chunk's group with own=false, (3) the one keyed sweep by
chunk id (operators/sweep.py), which holds one Arrow batch plus one
chunk at a time; the vectorized kernel computes over own+halo rows and
emits only own rows. Chunks are defined by rn, so
results are invariant to the physical partition count (property-tested)
and to the chunk size (for the rolling median — exact equivalence to
the global window; for MP the section IS the semantic unit, as in the
reference).

At 100 TB: rows move exactly twice (range exchange for rn, chunk
exchange for the kernel) plus a P-row offsets job; per-task memory is
chunk_rows + halo for the median and the blocked-NN buffer cap for MP
(operators/matrixprofile.py). Aligning chunk boundaries to the range
partitions would remove the second exchange; kept separate here so the
chunk size is a semantic knob, not a physical one.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rad_ecg_spark.operators.graph_core import shuffle_partitions
from rad_ecg_spark.operators.sweep import per_run, sweep


def global_row_number(
    df: DataFrame,
    order_cols: list[str],
    n_parts: int,
) -> DataFrame:
    """Adds ``rn`` (1-based, dense, by ``order_cols``) without ever
    funneling the series through one task: range-partition + sort within
    partitions, count rows per partition (a P-row job), then a pure JVM
    projection adds offset[pid] + local position. ``order_cols`` must be
    a unique key (ties would make rn nondeterministic).

    The local position comes from ``monotonically_increasing_id`` over
    the CHECKPOINTED layout: its documented contract is partition id in
    the upper bits and the consecutive record number within the
    partition in the lower 33 bits, so ``mid & (2^33 - 1)`` is the
    intra-partition row index (valid below 2^33 ≈ 8.5B rows/partition).
    Round 6: this replaces a mapInPandas pass that shipped every row
    JVM→Python→JVM just to add two integers (guide §4.1: stay in the
    JVM when built-ins suffice) — measured ~0.7 s off each halo query
    at sf1.0."""
    d = (
        df.repartitionByRange(n_parts, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        # pin the partitioning: the counts job and the rn projection
        # below MUST observe the identical physical layout
        .localCheckpoint(eager=True)
    )
    counts = {r["_pid"]: r["cnt"] for r in
              d.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    max_pid = max(counts, default=0)
    offsets, acc = [], 0
    for pid in range(max_pid + 1):
        offsets.append(acc)
        acc += counts.get(pid, 0)

    local = F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
    base = F.get(F.array(*[F.lit(o) for o in offsets]), F.col("_pid"))
    keep = [f.name for f in d.schema.fields if f.name != "_pid"]
    return d.select(*keep, (base + local + 1).alias("rn"))


def with_halo_chunks(
    df_rn: DataFrame,
    chunk_rows: int,
    halo_pre: int,
    halo_post: int,
) -> DataFrame:
    """Explodes each row into its own chunk (own=true) plus halo copies:
    chunk c owns rn in [c*R+1, (c+1)*R]; the last ``halo_pre`` rows of a
    chunk are copied to chunk c+1 (its leading halo) and the first
    ``halo_post`` rows to chunk c-1 (its trailing halo). All JVM
    expressions; the downstream sweep by chunk is the halo exchange.

    Halo rows come only from the ADJACENT chunk, so a chunk must hold at
    least max(halo_pre, halo_post) rows: a smaller one would leave
    windows short of rows two chunks away. ValueError otherwise."""
    if chunk_rows < max(1, halo_pre, halo_post):
        raise ValueError(
            f"chunk_rows={chunk_rows} is smaller than the halo "
            f"(pre {halo_pre}, post {halo_post})"
        )
    R = chunk_rows
    c = ((F.col("rn") - 1) / R).cast("long")
    p = (F.col("rn") - 1) % R  # position within own chunk
    targets = F.array_compact(
        F.array(
            F.struct(c.alias("chunk"), F.lit(True).alias("own")),
            F.when(
                (p < halo_post) & (c > 0),
                F.struct((c - 1).alias("chunk"), F.lit(False).alias("own")),
            ),
            F.when(
                p >= R - halo_pre,
                F.struct((c + 1).alias("chunk"), F.lit(False).alias("own")),
            ),
        )
    )
    return df_rn.select("*", F.explode(targets).alias("_t")).select(
        *df_rn.columns, F.col("_t.chunk").alias("chunk"), F.col("_t.own").alias("own")
    )


def halo_rolling_median(
    events: DataFrame, h: int = 3, chunk_rows: int = 512
) -> DataFrame:
    """Centered (-h,+h) rolling median over the ONE global series of all
    ``events(ts, event_id, value)`` ordered by (ts, event_id) — exactly
    the plain-window semantics ``median(value) OVER (ORDER BY ts,
    event_id ROWS BETWEEN h PRECEDING AND h FOLLOWING)``, clipped at the
    global series edges only. Interior chunk edges see a full window via
    the h-row halos, so the output is chunk-size- and
    parallelism-invariant (property-tested)."""
    series = events.select(
        F.col("event_id").alias("eid"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        F.col("value").cast("double").alias("v"),
    )
    rn = global_row_number(
        series, ["ts_ms", "eid"], shuffle_partitions(events.sparkSession)
    )
    # ts_ms is dead once rn exists — drop it before the chunk exchange
    # (guide §2.3: project before the exchange)
    chunked = with_halo_chunks(
        rn.select("eid", "v", "rn"), chunk_rows, halo_pre=h, halo_post=h
    )

    schema = "eid long, roll_med_c long"

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        med = (
            pdf["v"]
            .rolling(window=2 * h + 1, center=True, min_periods=1)
            .median()
        )
        own = pdf["own"].to_numpy()
        return pd.DataFrame(
            {
                "eid": pdf["eid"].to_numpy()[own],
                "roll_med_c": np.floor(
                    med.to_numpy()[own] * 100 + 0.5
                ).astype(np.int64),
            }
        )

    return sweep(chunked, "chunk", ["rn"], per_run(kernel, "chunk"), schema).select(
        F.col("eid").alias("event_id"), "roll_med_c"
    )


def halo_rolling_median_oracle_sql(h: int = 3) -> str:
    """DuckDB twin: the plain global window the halo layout reproduces."""
    return f"""
SELECT event_id,
       CAST(floor(median(value) OVER (ORDER BY ts, event_id
            ROWS BETWEEN {h} PRECEDING AND {h} FOLLOWING) * 100 + 0.5)
            AS BIGINT) AS roll_med_c
FROM events"""


def halo_mp_discord(events: DataFrame, w: int = 8, chunk_rows: int = 512) -> DataFrame:
    """Per-SECTION matrix-profile discord over the ONE global series of
    ``events(ts, event_id, value)`` in (ts, event_id) order (the
    reference's per-section contract, stumpy_discord.py:310-470):
    windows are GLOBAL length-w windows of the full series (a window may
    span the section boundary — that is what the w-1 trailing halo rows
    provide); each section searches nearest neighbors among its own
    windows. Indices in the output are global 1-based window starts.

    Reuses mp_discord_kernel (blocked, memory-capped) with the section
    as the group key; only the index offset differs."""
    from rad_ecg_spark.operators.matrixprofile import mp_discord_kernel

    # long-typed output indices: the GLOBAL window starts here are
    # unbounded (one series larger than any executor), so the keyed
    # MP_SCHEMA's int32 discord_idx/nn_idx would overflow past 2^31 rows
    halo_mp_schema = (
        "user_id long, discord_idx long, nn_idx long, mp_e6 long, n_windows int"
    )

    R = chunk_rows
    series = events.select(
        F.col("event_id").alias("eid"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    rn = global_row_number(
        series, ["ts_ms", "eid"], shuffle_partitions(events.sparkSession)
    )
    # ts_ms and eid are dead once rn exists (the kernel keys on rn) —
    # drop them before the chunk exchange (guide §2.3)
    chunked = with_halo_chunks(
        rn.select("cents", "rn"), R, halo_pre=0, halo_post=w - 1
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        section = int(pdf["chunk"].iloc[0])
        local = pd.DataFrame(
            {
                "uid": np.full(len(pdf), section, dtype=np.int64),
                "ts_ms": pdf["rn"].to_numpy(),
                "cents": pdf["cents"].to_numpy(),
                "oid": pdf["rn"].to_numpy(),
            }
        )
        out = mp_discord_kernel(local, w)
        # local 1-based window start -> global window start, in int64
        # (int32 would overflow past 2^31 global rows)
        base = np.int64(section) * np.int64(R)
        out["discord_idx"] = out["discord_idx"].astype(np.int64) + base
        out["nn_idx"] = out["nn_idx"].astype(np.int64) + base
        return out

    return sweep(
        chunked, "chunk", ["rn"], per_run(kernel, "chunk"), halo_mp_schema
    ).select(
        F.col("user_id").alias("section"),
        "discord_idx",
        "nn_idx",
        "mp_e6",
        "n_windows",
    )


def halo_mp_oracle_sql(w: int = 8, chunk_rows: int = 512) -> str:
    """DuckDB twin of halo_mp_discord: GLOBAL windows over the one
    series, sectioned by window start, NN within section — the same
    explicit k-ordered d2 sum chain as the keyed MP oracle."""
    terms = " + ".join(
        f"((a.arr[{k}] - a.mu) / a.sig - (b.arr[{k}] - b.mu) / b.sig) * "
        f"((a.arr[{k}] - a.mu) / a.sig - (b.arr[{k}] - b.mu) / b.sig)"
        for k in range(1, w + 1)
    )
    return f"""
WITH o AS (
  SELECT CAST(round(value*100) AS BIGINT) AS cents,
         row_number() OVER (ORDER BY ts, event_id) AS rn,
         count(*) OVER () AS n
  FROM events
), win AS (
  SELECT rn AS i,
         list(cents) OVER (ORDER BY rn
                           ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS arr,
         CAST(sum(cents) OVER (ORDER BY rn
                           ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS BIGINT) AS s1,
         CAST(sum(cents*cents) OVER (ORDER BY rn
                           ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS BIGINT) AS s2,
         n
  FROM o
), stats AS (
  SELECT CAST(i AS BIGINT) AS i,
         CAST((i - 1) // {chunk_rows} AS BIGINT) AS section, arr,
         s1 / {w}.0 AS mu,
         sqrt((s2 - (s1 / {w}.0) * s1) / {w}.0) AS sig,
         (s2 - (s1 / {w}.0) * s1) / {w}.0 AS var
  FROM win WHERE i <= n - {w} + 1
), zwin AS (
  SELECT * FROM stats WHERE var > 0
), pair AS (
  SELECT a.section, a.i AS i, b.i AS j, ({terms}) AS d2
  FROM zwin a JOIN zwin b
    ON a.section = b.section AND abs(a.i - b.i) >= {w}
), mp AS (
  SELECT section, i, j AS nn, d2 AS mpv FROM (
    SELECT *, row_number() OVER (PARTITION BY section, i ORDER BY d2, j) AS rk
    FROM pair
  ) WHERE rk = 1
), cnt AS (
  SELECT section, CAST(count(*) AS INT) AS n_windows FROM zwin GROUP BY section
), discord AS (
  SELECT section, i, nn, mpv,
         row_number() OVER (PARTITION BY section ORDER BY mpv DESC, i ASC) AS rk
  FROM mp
)
SELECT d.section, CAST(i AS BIGINT) AS discord_idx, CAST(nn AS BIGINT) AS nn_idx,
       CAST(floor(mpv * 1e6 + 0.5) AS BIGINT) AS mp_e6, c.n_windows
FROM discord d JOIN cnt c USING (section)
WHERE rk = 1"""
