"""Checkpoint/resume protocol tests (north_rule: killed job resumes and
final outputs equal the uninterrupted run). Mirrors the reference's
skip-if-done + cache reload paths
(/root/reference/src/rad_ecg/scripts/peak_detect_v4.py:1850-1853)."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from rad_ecg_spark.operators.pagerank import PageRankStats, pagerank
from rad_ecg_spark.plans.checkpoint import CheckpointManager

from .conftest import edges_df
from .oracles import random_graph


class TestCheckpointResume:
    def test_kill_after_k_then_resume_equals_uninterrupted(self, spark, tmp_path):
        pairs = random_graph(50, 200, seed=6)
        ckdir = str(tmp_path / "ck")

        # "killed" after 3 iterations
        cm = CheckpointManager(spark, ckdir, "pagerank")
        s1 = PageRankStats()
        pagerank(edges_df(spark, pairs), tol=0.0, max_iter=3,
                 checkpointer=cm, stats=s1)
        assert cm.last_complete() == 3

        # resume to iteration 8
        cm2 = CheckpointManager(spark, ckdir, "pagerank")
        s2 = PageRankStats()
        resumed = pagerank(edges_df(spark, pairs), tol=0.0, max_iter=8,
                           checkpointer=cm2, resume=True, stats=s2)
        assert s2.resumed_from == 3
        assert s2.iterations == 8

        # uninterrupted 8 iterations
        full = pagerank(edges_df(spark, pairs), tol=0.0, max_iter=8)
        diff = (
            resumed.withColumnRenamed("rank", "r2")
            .join(full, "id")
            .agg(F.max(F.abs(F.col("rank") - F.col("r2"))).alias("d"))
            .collect()[0]["d"]
        )
        assert diff < 1e-15

    def test_meta_lineage_rows(self, spark, tmp_path):
        pairs = random_graph(30, 100, seed=12)
        ckdir = str(tmp_path / "ck")
        cm = CheckpointManager(spark, ckdir, "pagerank")
        pagerank(edges_df(spark, pairs), tol=0.0, max_iter=4, checkpointer=cm)
        meta = cm.meta().orderBy("iteration").collect()
        assert [r["iteration"] for r in meta] == [1, 2, 3, 4]
        assert all(r["status"] == "complete" for r in meta)
        assert all(abs(r["agg_value"] - 1.0) < 1e-9 for r in meta)  # mass
        assert all(r["rows"] > 0 for r in meta)

    def test_resume_without_checkpoint_starts_fresh(self, spark, tmp_path):
        pairs = random_graph(20, 60, seed=13)
        cm = CheckpointManager(spark, str(tmp_path / "empty"), "pagerank")
        s = PageRankStats()
        pagerank(edges_df(spark, pairs), tol=0.0, max_iter=2,
                 checkpointer=cm, resume=True, stats=s)
        assert s.resumed_from is None
        assert s.iterations == 2

    def test_async_commit_equals_sync_and_resumes(self, spark, tmp_path):
        """async_write=True must leave the identical on-disk protocol:
        in-order complete meta rows, loadable final state equal to the
        returned ranks, and a resume path identical to the sync run."""
        pairs = random_graph(40, 160, seed=21)
        ckdir = str(tmp_path / "ck-async")
        cm = CheckpointManager(spark, ckdir, "pagerank", async_write=True)
        ranks = pagerank(edges_df(spark, pairs), tol=0.0, max_iter=4,
                         checkpointer=cm)
        assert cm.last_complete() == 4
        meta = cm.meta().orderBy("iteration").collect()
        assert [r["iteration"] for r in meta] == [1, 2, 3, 4]
        assert all(r["status"] == "complete" for r in meta)
        # the durable iteration-4 snapshot equals the in-memory result
        loaded = cm.load_state(4).withColumnRenamed("rank", "r2")
        diff = (
            ranks.join(loaded, "id")
            .agg(F.max(F.abs(F.col("rank") - F.col("r2"))).alias("d"))
            .collect()[0]["d"]
        )
        assert diff == 0.0
        # resume from the async-written checkpoint
        cm2 = CheckpointManager(spark, ckdir, "pagerank", async_write=True)
        s2 = PageRankStats()
        resumed = pagerank(edges_df(spark, pairs), tol=0.0, max_iter=7,
                           checkpointer=cm2, resume=True, stats=s2)
        assert s2.resumed_from == 4 and s2.iterations == 7
        full = pagerank(edges_df(spark, pairs), tol=0.0, max_iter=7)
        diff = (
            resumed.withColumnRenamed("rank", "r2")
            .join(full, "id")
            .agg(F.max(F.abs(F.col("rank") - F.col("r2"))).alias("d"))
            .collect()[0]["d"]
        )
        assert diff < 1e-15

    def test_checkpoint_every_n_resumes_from_multiple(self, spark, tmp_path):
        """checkpoint_every=2 over 5 iterations leaves snapshots at 2 and
        4; resume restarts from 4 and matches the uninterrupted run."""
        pairs = random_graph(30, 120, seed=22)
        ckdir = str(tmp_path / "ck-every")
        cm = CheckpointManager(spark, ckdir, "pagerank")
        pagerank(edges_df(spark, pairs), tol=0.0, max_iter=5,
                 checkpointer=cm, checkpoint_every=2)
        meta = cm.meta().orderBy("iteration").collect()
        assert [r["iteration"] for r in meta] == [2, 4]
        assert cm.last_complete() == 4
        cm2 = CheckpointManager(spark, ckdir, "pagerank")
        s2 = PageRankStats()
        resumed = pagerank(edges_df(spark, pairs), tol=0.0, max_iter=8,
                           checkpointer=cm2, resume=True, stats=s2,
                           checkpoint_every=2)
        assert s2.resumed_from == 4 and s2.iterations == 8
        full = pagerank(edges_df(spark, pairs), tol=0.0, max_iter=8)
        diff = (
            resumed.withColumnRenamed("rank", "r2")
            .join(full, "id")
            .agg(F.max(F.abs(F.col("rank") - F.col("r2"))).alias("d"))
            .collect()[0]["d"]
        )
        assert diff < 1e-15

    def test_async_worker_is_daemon_and_close_drains(self, spark, tmp_path):
        """The async commit thread must be a daemon (a loop that raises
        before wait() cannot pin interpreter exit on a non-daemon
        writer), close() must drain it, and a failed background commit
        must surface on the next wait()."""
        import threading

        from rad_ecg_spark.plans.checkpoint import CheckpointManager

        cm = CheckpointManager(spark, str(tmp_path / "ckd"), "pagerank",
                               async_write=True)
        state = spark.range(0, 10).select(
            F.col("id"), F.lit(0.1).alias("rank")
        )
        cm.commit(iteration=1, state=state, rows=10, agg_value=1.0,
                  delta_max=0.5)
        thread, _ = cm._pending
        assert isinstance(thread, threading.Thread) and thread.daemon
        with cm:  # __exit__ -> close() -> wait()
            pass
        assert cm._pending is None
        assert cm.last_complete() == 1
        cm.close()  # idempotent

        # a background failure is re-raised by the NEXT wait(), not lost
        bad = CheckpointManager(spark, str(tmp_path / "ckd"), "pagerank",
                                async_write=True)
        broken = spark.range(0, 5).select(
            F.col("id"), (F.lit(1) / F.col("id")).alias("rank")
        )
        bad._state_dir = lambda it: "/proc/forbidden/cannot/write/here"
        bad.commit(iteration=2, state=broken, rows=5, agg_value=1.0,
                   delta_max=0.1)
        with pytest.raises(Exception):
            bad.wait()


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _pipeline_cmd(out: str, ck: str, resume: bool = False) -> list[str]:
    """The job entry point on a 400-page synthetic crawl: PageRank only,
    tol 0 so every run does all 20 iterations, durable checkpoints."""
    cmd = [
        sys.executable, os.path.join(REPO, "jobs", "run_web_pipeline.py"),
        "--synth-pages", "20:20", "--algos", "pagerank", "--out", out,
        "--checkpoint-dir", ck, "--tol", "0", "--max-iter", "20",
    ]
    return cmd + ["--resume"] if resume else cmd


def _pipeline_env() -> dict:
    # local stand-in for `spark-submit --py-files dist/rad_ecg_spark.zip`
    return {
        **os.environ,
        "PYTHONPATH": REPO + os.pathsep + os.environ.get("PYTHONPATH", ""),
        "PYSPARK_SUBMIT_ARGS": (
            "--master local[2] --driver-memory 2g "
            "--conf spark.sql.shuffle.partitions=2 "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    }


def _run_pipeline(out: str, ck: str, resume: bool = False) -> dict:
    p = subprocess.run(
        _pipeline_cmd(out, ck, resume), capture_output=True, text=True,
        cwd=REPO, env=_pipeline_env(), timeout=600,
    )
    lines = [line for line in p.stdout.splitlines() if line.startswith("{")]
    assert p.returncode == 0 and lines, p.stderr[-3000:]
    return json.loads(lines[-1])


def _written(path: str) -> bool:
    import pyarrow.parquet as pq

    try:
        pq.read_metadata(path)
        return True
    except (OSError, ValueError):  # the footer is not written yet
        return False


def _kill_after_two_meta_rows(out: str, ck: str) -> int:
    """Starts the job and SIGKILLs its process group (the driver JVM
    included) once two complete PageRank iterations are in _meta;
    returns the rows seen. Kills right after a row lands, so the next
    append is an iteration away."""
    meta_dir = os.path.join(ck, "pagerank", "_meta")
    p = subprocess.Popen(
        _pipeline_cmd(out, ck), stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL, cwd=REPO, env=_pipeline_env(),
        start_new_session=True,
    )
    deadline = time.monotonic() + 600
    try:
        while time.monotonic() < deadline:
            if p.poll() is not None:
                pytest.fail(f"the job finished (rc={p.returncode}) before the kill")
            metas = (
                [os.path.join(meta_dir, f) for f in os.listdir(meta_dir)
                 if f.endswith(".parquet")]
                if os.path.isdir(meta_dir) else []
            )
            if len(metas) >= 2 and all(_written(f) for f in metas):
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                return len(metas)
            time.sleep(0.05)
        pytest.fail("no PageRank checkpoint landed in time")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def test_sigkill_mid_pagerank_then_resume_matches_uninterrupted(tmp_path):
    """A real SIGKILL through the job entry point: the killed run resumes
    from its last complete checkpoint and ends with the ranks of an
    uninterrupted run — resume restores float64 state exactly, so only
    summation-order noise may remain."""
    import pandas as pd

    full = _run_pipeline(str(tmp_path / "out_full"), str(tmp_path / "ck_full"))
    assert full["pagerank"]["iterations"] == 20

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    assert _kill_after_two_meta_rows(out, ck) >= 2
    resumed = _run_pipeline(out, ck, resume=True)
    assert resumed["pagerank"]["resumed_from"] >= 2
    assert resumed["pagerank"]["iterations"] == 20

    a = pd.read_parquet(tmp_path / "out_full" / "pagerank").set_index("id")["rank"]
    b = pd.read_parquet(tmp_path / "out" / "pagerank").set_index("id")["rank"]
    assert set(a.index) == set(b.index)
    assert (a - b.reindex(a.index)).abs().max() < 1e-12
