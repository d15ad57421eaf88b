"""One streaming partition sweep for the keyed Python kernels.

Every keyed kernel (episodes, MP discord, FLUSS, both halo kernels)
runs the same way: ONE shuffle co-locates each key (``repartition`` by
key + ``sortWithinPartitions``), then ONE ``mapInPandas`` pass walks the
task's key-sorted Arrow batches and hands the kernel frames of COMPLETE
key runs as soon as they close. The run still open at the end of a batch
is carried as a list of pieces and concatenated once, when it closes, so
a run spanning k batches is copied once, not k times. Per-task Python
memory is one Arrow batch plus the longest run — not the partition —
the same contract as the reference's one-section-at-a-time kernels
(peak_detect_v4.py:1407-1567).

Round-6 note (guide §4.1): these kernels were ``groupBy().applyInPandas``,
which frames one Arrow batch and one Python call PER GROUP; at 15k small
groups (sf1.0) that overhead alone measured ~5 s for a trivial kernel,
vs 0.8 s to stream the same rows through ``mapInPandas``. The sweep
crosses the Python boundary once per task and feeds each kernel the
same sorted per-key rows, so outputs are identical.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rad_ecg_spark.operators.graph_core import shuffle_partitions

Kernel = Callable[[pd.DataFrame], pd.DataFrame]


def _join(pieces: list[pd.DataFrame]) -> pd.DataFrame:
    return pieces[0] if len(pieces) == 1 else pd.concat(pieces, ignore_index=True)


def key_runs(batches: Iterator[pd.DataFrame], key: str) -> Iterator[pd.DataFrame]:
    """Frames of complete ``key`` runs from key-sorted ``batches``, in
    order; no key lands in two frames, and no frame holds more than the
    longest run plus one batch."""
    open_run: list[pd.DataFrame] = []  # pieces of the run not yet closed
    for b in batches:
        if not len(b):
            continue
        k = b[key].to_numpy()
        tail = int(np.flatnonzero(np.r_[True, k[1:] != k[:-1]])[-1])
        if tail:  # the open run and every run before the batch's last are complete
            yield _join(open_run + [b.iloc[:tail]])
            open_run = []
        elif open_run and open_run[-1][key].iat[-1] != k[0]:
            yield _join(open_run)  # the open run closed at the batch edge
            open_run = []
        open_run.append(b.iloc[tail:])
    if open_run:
        yield _join(open_run)


def per_run(kernel_one: Kernel, key: str) -> Kernel:
    """Lifts a one-group kernel to a frame of complete ``key`` runs."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        k = pdf[key].to_numpy()
        bounds = np.flatnonzero(np.r_[True, k[1:] != k[:-1], True])
        return pd.concat(
            [kernel_one(pdf.iloc[a:b]) for a, b in zip(bounds[:-1], bounds[1:])],
            ignore_index=True,
        )

    return kernel


def sweep(
    df: DataFrame, key: str, order: list[str], kernel: Kernel, schema: str
) -> DataFrame:
    """``kernel`` over every frame of complete ``key`` runs, each run
    sorted by ``order``; empty kernel outputs are dropped."""

    def run(batches):
        for frame in key_runs(batches, key):
            out = kernel(frame)
            if len(out):
                yield out

    return (
        df.repartition(shuffle_partitions(df.sparkSession), key)
        .sortWithinPartitions(key, *order)
        .mapInPandas(run, schema=schema)
    )


def user_series(events: DataFrame) -> DataFrame:
    """The per-user series the keyed kernels read from
    ``events(user_id, ts, value, event_id)``: uid, ts_ms, exact integer
    cents and the tie-break order id."""
    return events.select(
        F.col("user_id").alias("uid"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.col("event_id").alias("oid"),
    )
