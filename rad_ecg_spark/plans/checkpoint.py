"""Per-iteration checkpoint / lineage / resume for iterative graph jobs.

Iceberg-snapshot semantics on plain partitioned parquet (no Iceberg jars
in this sandbox — the layout maps 1:1 onto ``df.writeTo(tbl).append()``
plus a snapshot-metadata table when a catalog is available):

    <root>/<algo>/state/iteration=<k>/   parquet state for iteration k
    <root>/<algo>/_meta/                 append-only lineage table

``_meta`` schema (FIXTURES.md F4):
    algo, iteration, rows, agg_value (e.g. sum of ranks), delta_max,
    wall_ms, status

Commit protocol: two steps in order, each seen by a reader in full or
not at all.
  1. the state directory for iteration k, written with Spark's overwrite
     (a re-run replaces the same path; a torn directory is never read,
     because no _meta row acknowledges it);
  2. then the _meta row with status='complete', written to a dot-named
     temp file under _meta and moved to its final name. Spark's reader
     skips dot-named files, so a kill during the write leaves _meta
     readable.
Resume is iteration-granular: it reads max(iteration) WHERE
status='complete' and overwrites any torn k+1 directory. A run from
iteration 0 first removes ``<root>/<algo>`` (``clear``), so the rows a
resume reads all belong to one run. Every driver-side file operation
resolves the root through ``_resolve``, so plain paths, ``file://`` and
object-store roots behave alike. This mirrors
the reference's skip-if-done + cache reload (peak_detect_v4.py:1850-1853,
porcine/stumpy_fluss_phase_angle.py:688-721).

``IcebergSink`` is the catalog side of the same seam: the state write
and load through public Spark APIs only (DataFrameWriterV2 ``writeTo``).
Its constructor refuses a session with no configured Iceberg catalog
(``spark.sql.catalog.<name>`` conf), so nothing silently pretends a
catalog exists. Each stand-in call and its Iceberg equivalent:

| stand-in call                         | Iceberg call |
|---|---|
| ``commit``: state parquet write       | ``df.writeTo(f"{cat}.{ns}.{algo}_state").overwritePartitions()`` into a table ``PARTITIONED BY (iteration)`` (``IcebergSink.append_state``) |
| ``commit``: ``_meta`` append          | ``meta.writeTo(f"{cat}.{ns}.{algo}_meta").append()`` (or Iceberg's own snapshot log + summary props) |
| ``last_complete``                     | ``SELECT max(iteration) FROM ..._meta WHERE status='complete'``, or the metadata table ``..._state.snapshots`` |
| ``load_state(k)``                     | ``SELECT * FROM ..._state WHERE iteration = k``, partition-pruned (``IcebergSink.load_state``), or time travel ``VERSION AS OF <snapshot>`` |
| torn-write protection by the dir protocol | Iceberg's ACID snapshot isolation |
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CheckpointManager:
    """Snapshot state per iteration; resume from the last complete one.

    ``async_write=True`` overlaps the durable snapshot with the NEXT
    iteration's compute: commit() submits the (state parquet -> meta
    append) sequence to a single worker thread and returns immediately.
    Correctness invariants preserved:
      - the meta 'complete' row is still appended only AFTER the state
        write, inside the same worker task (crash -> torn dir without an
        acknowledging meta row, exactly as in sync mode);
      - at most ONE commit is in flight (commit() waits for the previous
        one first), so meta rows land in iteration order;
      - callers that free superseded state blocks (localCheckpoint) must
        call wait() first — the iterative loops in operators/ do.
    One commit cadence, every iteration, because a sparser one buys
    nothing: measured at 10M edges to 1e-6 convergence (BENCH/BASELINE.md
    round-4), async commits every iteration cost 1.07x the plain wall,
    against 1.10x for sync commits every 5 iterations (sync every
    iteration: 1.15x). That is with the driver-side pyarrow ``_meta``
    append (``_append_meta_row``); the round-3 protocol, a coalesce(1)
    Spark job per row, cost 3.9x.
    """

    def __init__(
        self, spark: SparkSession, root: str, algo: str, async_write: bool = False
    ):
        self.spark = spark
        self.root = root
        self.algo = algo
        self._dir = f"{root.rstrip('/')}/{algo}"
        self._t0 = time.monotonic()
        self._async = async_write
        # async worker: ONE daemon thread per in-flight commit (never
        # more than one — commit() drains the previous first). Daemon,
        # so a loop that raises before wait() can't leave a non-daemon
        # writer pinning interpreter exit; a commit cut off at exit
        # leaves a torn state dir without its acknowledging _meta row,
        # which the crash-safe resume protocol already treats as
        # not-committed (module docstring).
        self._pending: tuple | None = None  # (thread, [exception])

    def _state_dir(self, iteration: int) -> str:
        return f"{self._dir}/state/iteration={iteration}"

    def _meta_dir(self) -> str:
        return f"{self._dir}/_meta"

    def _resolve(self) -> tuple:
        """(filesystem, base): the driver-side pyarrow view of
        ``<root>/<algo>``. Object-store and ``file://`` roots resolve
        through ``FileSystem.from_uri``, the same driver-side path an
        Iceberg catalog commit takes; plain paths use the local FS."""
        from pyarrow import fs as pafs

        if "://" in self._dir:
            return pafs.FileSystem.from_uri(self._dir)
        return pafs.LocalFileSystem(), self._dir

    def clear(self) -> None:
        """Start a new checkpoint generation: remove ``<root>/<algo>``.
        ``graph_core.iterate`` calls this before a run from iteration 0
        commits, so a later resume never reads the rows or state of an
        earlier run over the same directory."""
        from pyarrow import fs as pafs

        filesystem, base = self._resolve()
        if filesystem.get_file_info(base).type != pafs.FileType.NotFound:
            filesystem.delete_dir(base)

    def commit(
        self,
        iteration: int,
        state: DataFrame,
        rows: int,
        agg_value: float,
        delta_max: float,
    ) -> None:
        wall_ms = int((time.monotonic() - self._t0) * 1000)
        self._t0 = time.monotonic()
        if not self._async:
            self._commit_sync(iteration, state, rows, agg_value, delta_max, wall_ms)
        else:
            import threading

            self.wait()  # <=1 in flight; propagate a failed prior commit
            errs: list[BaseException] = []

            def _run() -> None:
                try:
                    self._commit_sync(
                        iteration, state, rows, agg_value, delta_max, wall_ms
                    )
                except BaseException as e:  # surfaced by the next wait()
                    errs.append(e)

            t = threading.Thread(
                target=_run, name=f"ckpt-{self.algo}-{iteration}", daemon=True
            )
            t.start()
            self._pending = (t, errs)

    def wait(self) -> None:
        """Block until the in-flight async commit (if any) has landed.
        MUST be called before freeing the committed state's blocks and
        before reading _meta for convergence bookkeeping. Re-raises a
        failed background commit."""
        if self._pending is not None:
            (thread, errs), self._pending = self._pending, None
            thread.join()
            if errs:
                raise errs[0]

    def close(self) -> None:
        """Drain the in-flight commit (if any). Safe to call twice;
        use as a context manager for exception-path cleanup."""
        self.wait()

    def __enter__(self) -> "CheckpointManager":
        return self

    def __exit__(self, *exc) -> None:
        # don't mask an in-flight exception with a commit failure
        try:
            self.close()
        except Exception:
            if exc == (None, None, None):
                raise

    def _commit_sync(
        self,
        iteration: int,
        state: DataFrame,
        rows: int,
        agg_value: float,
        delta_max: float,
        wall_ms: int,
    ) -> None:
        state.write.mode("overwrite").parquet(self._state_dir(iteration))
        self._append_meta_row(iteration, rows, agg_value, delta_max, wall_ms)

    def _append_meta_row(
        self, iteration: int, rows: int, agg_value: float, delta_max: float, wall_ms: int
    ) -> None:
        """Append ONE lineage row. Driver-side pyarrow write, not a Spark
        job: ``meta.coalesce(1).write`` costs a full job (~2-3 s of pure
        scheduling per iteration — measured, BENCH/BASELINE.md round-4)
        to move one row; an Iceberg catalog commit is likewise a
        driver/catalog-side metadata operation (the module docstring
        maps this call to the snapshot-commit API). These Arrow types are
        the one definition of the _meta schema, so spark.read.parquet
        sees one schema across all rows. The root resolves through
        ``_resolve``. The row lands under a dot-named temp name and is
        moved to its final name, so readers never see a torn row."""
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.table(
            {
                "algo": pa.array([self.algo], pa.string()),
                "iteration": pa.array([iteration], pa.int32()),
                "rows": pa.array([rows], pa.int64()),
                "agg_value": pa.array([float(agg_value)], pa.float64()),
                "delta_max": pa.array([float(delta_max)], pa.float64()),
                "wall_ms": pa.array([wall_ms], pa.int64()),
                "status": pa.array(["complete"], pa.string()),
            }
        )
        # unique filename: concurrent algos/retries never clobber a row
        fname = f"meta-{iteration:06d}-{uuid.uuid4().hex}.parquet"
        filesystem, base = self._resolve()
        meta = f"{base}/_meta"
        filesystem.create_dir(meta, recursive=True)
        tmp = f"{meta}/.{fname}.tmp"
        pq.write_table(table, tmp, filesystem=filesystem)
        filesystem.move(tmp, f"{meta}/{fname}")

    def last_complete(self) -> int | None:
        """Max complete iteration, or None if no checkpoint exists.

        Only "no checkpoint yet" is swallowed; a corrupt/unreadable _meta
        must PROPAGATE — treating it as 'no checkpoint' would silently
        restart from iteration 0 and overwrite good snapshots."""
        from pyarrow import fs as pafs
        from pyspark.errors import AnalysisException

        self.wait()
        filesystem, base = self._resolve()
        if filesystem.get_file_info(f"{base}/_meta").type == pafs.FileType.NotFound:
            return None
        try:
            meta = self.spark.read.parquet(self._meta_dir())
        except AnalysisException as e:
            if "PATH_NOT_FOUND" in str(e) or "UNABLE_TO_INFER_SCHEMA" in str(e):
                return None  # dir exists but holds no data yet
            raise
        row = (
            meta.filter(F.col("status") == "complete")
            .agg(F.max("iteration").alias("it"))
            .collect()[0]
        )
        return None if row["it"] is None else int(row["it"])

    def load_state(self, iteration: int) -> DataFrame:
        return self.spark.read.parquet(self._state_dir(iteration))

    def meta(self) -> DataFrame:
        self.wait()
        return self.spark.read.parquet(self._meta_dir())


def iceberg_catalogs(spark: SparkSession) -> list[str]:
    """Names of Iceberg catalogs configured on this session (the
    public config contract: spark.sql.catalog.<name> = <impl class>).

    Probes BOTH config surfaces: the SparkContext conf (builder.config
    at context creation) and the session RuntimeConfig via ``SET``
    (spark.conf.set on a live session, or builder.config when the
    SparkContext was reused and only the session picked the entry up).
    Missing the latter would refuse IcebergSink on a correctly
    configured session."""
    confs: dict[str, str] = {}
    try:
        confs.update(dict(spark.sparkContext.getConf().getAll()))
    except Exception:
        pass
    try:
        confs.update(
            (r["key"], r["value"]) for r in spark.sql("SET").collect()
        )
    except Exception:
        pass
    names = []
    for k, v in confs.items():
        if k.startswith("spark.sql.catalog.") and k.count(".") == 3:
            if "iceberg" in str(v).lower():
                names.append(k.rsplit(".", 1)[-1])
    return sorted(set(names))


def create_state_table_sql(table: str, state_df: DataFrame) -> str:
    """CREATE TABLE for an iteration-partitioned Iceberg state table.

    Partitioning by iteration makes load_state(k) a partition-pruned
    scan and lets ``overwritePartitions`` re-run a torn iteration
    idempotently — the same layout contract as the parquet stand-in's
    ``state/iteration=<k>/`` directories."""
    cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in state_df.schema)
    return (
        f"CREATE TABLE IF NOT EXISTS {table} "
        f"({cols}, iteration int) USING iceberg PARTITIONED BY (iteration)"
    )


class IcebergSink:
    """The catalog backend of the state write and load. Every method
    body is the real public-API call; the constructor refuses to run
    without a configured catalog so this cannot silently no-op."""

    def __init__(self, spark: SparkSession, catalog: str | None = None, namespace: str = "rad_ecg"):
        cats = iceberg_catalogs(spark)
        if catalog is None:
            catalog = cats[0] if cats else None
        if catalog is None or catalog not in cats:
            raise RuntimeError(
                "No Iceberg catalog configured on this SparkSession. "
                "Configure one (spark.sql.catalog.<name>=org.apache.iceberg."
                "spark.SparkCatalog + iceberg-spark-runtime on the classpath) "
                f"or use CheckpointManager. Found catalogs: {cats or 'none'}"
            )
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace

    def _tbl(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{name}"

    def append_state(self, state: DataFrame, algo: str, iteration: int) -> None:
        tbl = self._tbl(f"{algo}_state")
        df = state.withColumn("iteration", F.lit(iteration))
        self.spark.sql(create_state_table_sql(tbl, state))
        # overwritePartitions, not append: a re-run of a torn iteration
        # replaces exactly its own partition (idempotent resume)
        df.writeTo(tbl).overwritePartitions()

    def load_state(self, algo: str, iteration: int) -> DataFrame:
        return self.spark.table(self._tbl(f"{algo}_state")).filter(
            F.col("iteration") == iteration
        )
