"""Mid-iteration resume: idempotent per-(iteration, partition) state
writes (SURVEY.md §7.3; north_rule "resumes mid-iteration").

The plain CheckpointManager is iteration-granular: a job killed during
the snapshot write redoes the WHOLE iteration. Here each task writes its
own ``part-<pid>.parquet`` via tmp-file + atomic rename and SKIPS if the
file already exists, so re-running the write job after a kill recomputes
only the partitions whose files are missing — the Spark analog of the
reference's skip-if-done section loop
(/root/reference/src/rad_ecg/scripts/peak_detect_v4.py:1850-1853).

Commit protocol stays two-phase (write parts idempotently, THEN append
the _meta 'complete' row), so a torn iteration directory is invisible to
readers until every partition landed.

On a real cluster the same shape maps to task-committed files on object
storage (each task's rename is a PUT-if-absent) or Iceberg's file-level
commit manifest.
"""

from __future__ import annotations

import os
import uuid
from typing import Iterator

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from rad_ecg_spark.plans.checkpoint import CheckpointManager


def write_state_partwise(state: DataFrame, out_dir: str) -> list[dict]:
    """Write one parquet file per partition of ``state`` into out_dir,
    atomically and idempotently. Returns per-partition statuses
    [{pid, rows, skipped}]. Re-running after a partial failure writes
    ONLY the missing partitions."""
    os.makedirs(out_dir, exist_ok=True)
    out_schema = "pid int, rows long, skipped boolean"
    # captured by the closure (pickled by value) so empty partitions can
    # still write a schema-correct file
    arrow_schema = to_arrow_schema(state)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        final = os.path.join(out_dir, f"part-{pid:05d}.parquet")

        status_schema = pa.schema(
            [("pid", pa.int32()), ("rows", pa.int64()), ("skipped", pa.bool_())]
        )

        def status(rows: int, skipped: bool) -> pa.RecordBatch:
            return pa.RecordBatch.from_pydict(
                {"pid": [pid], "rows": [rows], "skipped": [skipped]},
                schema=status_schema,
            )

        if os.path.exists(final):
            # a completed task from the killed attempt — skip (resume)
            for _ in batches:
                pass
            yield status(0, True)
            return
        tmp = final + f".tmp-{uuid.uuid4().hex}"
        writer = None
        n = 0
        try:
            for b in batches:
                if writer is None:
                    writer = pq.ParquetWriter(tmp, b.schema)
                writer.write_batch(b)
                n += b.num_rows
            if writer is None:  # empty partition still commits a file
                writer = pq.ParquetWriter(tmp, arrow_schema)
            writer.close()
            writer = None
            os.rename(tmp, final)  # atomic commit of this partition
        finally:
            if writer is not None:
                writer.close()
            if os.path.exists(tmp):
                os.remove(tmp)
        yield status(n, False)

    statuses = state.mapInArrow(fn, out_schema).collect()
    return [r.asDict() for r in statuses]


def to_arrow_schema(df: DataFrame) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema as _tas

    return _tas(df.schema)


class PartwiseCheckpointManager(CheckpointManager):
    """CheckpointManager whose state snapshots are per-partition
    idempotent files — drop-in for pagerank(checkpointer=...), giving
    mid-iteration resume: re-running a killed iteration's commit only
    writes partitions that didn't land. Everything else (async worker,
    _meta append, resume) is the base class's."""

    def _write_state(self, state: DataFrame, out_dir: str) -> None:
        write_state_partwise(state, out_dir)
