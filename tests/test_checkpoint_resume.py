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


def _ranks(df) -> dict:
    return {r["id"]: r["rank"] for r in df.collect()}


class TestCheckpointResume:
    @pytest.mark.parametrize("scheme", ["", "file://"], ids=["path", "file_uri"])
    def test_kill_after_k_then_resume_equals_uninterrupted(self, spark, tmp_path, scheme):
        """Also on a ``file://`` root, which resolves through pyarrow's
        URI filesystem like an object-store root does."""
        pairs = random_graph(50, 200, seed=6)
        ckdir = scheme + str(tmp_path / "ck")

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
        assert _ranks(resumed) == _ranks(full)

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

    @pytest.mark.parametrize("max_iter", [4, 3, 0])
    def test_resume_at_or_past_max_iter_counts_resumed_iterations(
        self, spark, tmp_path, max_iter
    ):
        """A resume with nothing left to run over a 4-iteration checkpoint
        returns the ranks of iteration ``max_iter`` — those of an
        uninterrupted ``max_iter`` run — and counts the iterations behind
        them, not 0 and not the checkpoint's 4. It keeps the checkpoint
        generation, even at ``max_iter == 0``."""
        edges = edges_df(spark, random_graph(30, 100, seed=12))
        ckdir = str(tmp_path / "ck")
        pagerank(edges, tol=0.0, max_iter=4,
                 checkpointer=CheckpointManager(spark, ckdir, "pagerank"))
        want = _ranks(pagerank(edges, tol=0.0, max_iter=max_iter))
        st = PageRankStats()
        cm = CheckpointManager(spark, ckdir, "pagerank")
        resumed = pagerank(edges, tol=0.0, max_iter=max_iter, checkpointer=cm,
                           resume=True, stats=st)
        assert st.resumed_from == max_iter and st.iterations == max_iter
        assert _ranks(resumed) == want
        assert cm.last_complete() == 4

    def test_resume_without_checkpointer_raises(self, spark):
        with pytest.raises(ValueError, match="checkpointer"):
            pagerank(edges_df(spark, random_graph(20, 60, seed=13)), tol=0.0,
                     max_iter=2, resume=True)

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
        assert _ranks(cm.load_state(4)) == _ranks(ranks)
        # resume from the async-written checkpoint
        cm2 = CheckpointManager(spark, ckdir, "pagerank", async_write=True)
        s2 = PageRankStats()
        resumed = pagerank(edges_df(spark, pairs), tol=0.0, max_iter=7,
                           checkpointer=cm2, resume=True, stats=s2)
        assert s2.resumed_from == 4 and s2.iterations == 7
        full = pagerank(edges_df(spark, pairs), tol=0.0, max_iter=7)
        assert _ranks(resumed) == _ranks(full)

    @pytest.mark.parametrize("async_write", [False, True])
    def test_async_in_flight_then_exact_resume(self, spark, tmp_path, async_write):
        """An async manager returns from commit() with the write still in
        flight, a sync one after it landed; either way a resume ends with
        the uninterrupted ranks."""
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
        )
        full = _ranks(pagerank(edges, tol=0.0, max_iter=6))
        root = str(tmp_path / "ck")
        cm = CheckpointManager(spark, root, "pr", async_write=async_write)
        in_flight = []
        commit = cm.commit

        def spy(**kwargs):
            commit(**kwargs)
            in_flight.append(cm._pending is not None)

        cm.commit = spy
        pagerank(edges, tol=0.0, max_iter=3, checkpointer=cm)
        assert in_flight == [async_write] * 3
        assert cm.last_complete() == 3
        cm2 = CheckpointManager(spark, root, "pr", async_write=async_write)
        st = PageRankStats()
        resumed = pagerank(edges, tol=0.0, max_iter=6, checkpointer=cm2,
                           resume=True, stats=st)
        assert st.resumed_from == 3
        assert _ranks(resumed) == full

    def test_torn_meta_write_resumes_from_last_row(self, spark, tmp_path, monkeypatch):
        """A kill inside iteration 3's _meta write leaves half a parquet
        file behind. It must not hide the complete rows: the last
        complete iteration is 2, and a resume ends with the ranks of an
        uninterrupted run."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        pairs = random_graph(50, 200, seed=6)
        ckdir = str(tmp_path / "ck")
        write_table = pq.write_table

        def torn_at_3(table, where, filesystem=None, **kwargs):
            if table.column("iteration")[0].as_py() != 3:
                return write_table(table, where, filesystem=filesystem, **kwargs)
            buf = pa.BufferOutputStream()
            write_table(table, buf, **kwargs)
            data = buf.getvalue().to_pybytes()
            out = (filesystem.open_output_stream(where) if filesystem
                   else open(where, "wb"))
            with out:
                out.write(data[: len(data) // 2])
            raise OSError("killed inside the _meta write")

        monkeypatch.setattr(pq, "write_table", torn_at_3)
        with pytest.raises(OSError, match="killed inside"):
            pagerank(edges_df(spark, pairs), tol=0.0, max_iter=6,
                     checkpointer=CheckpointManager(spark, ckdir, "pagerank"))
        monkeypatch.undo()

        cm = CheckpointManager(spark, ckdir, "pagerank")
        assert cm.last_complete() == 2
        st = PageRankStats()
        resumed = pagerank(edges_df(spark, pairs), tol=0.0, max_iter=6,
                           checkpointer=cm, resume=True, stats=st)
        assert st.resumed_from == 2 and st.iterations == 6
        full = pagerank(edges_df(spark, pairs), tol=0.0, max_iter=6)
        assert _ranks(resumed) == _ranks(full)

    @pytest.mark.parametrize("a_iters", [3, 4])
    def test_reused_dir_resume_equals_uninterrupted(self, spark, tmp_path, a_iters):
        """Graph A runs ``a_iters`` iterations, then a fresh (non-resume)
        run of graph B over the same directory runs 3; resuming B to 6
        must give exactly B's uninterrupted ranks, with nothing of A's
        snapshots left in them — also when A ran deeper than B, so A's
        last row is the directory's deepest."""
        a = random_graph(50, 200, seed=6)
        b = random_graph(50, 200, seed=7)
        ckdir = str(tmp_path / "ck")
        for pairs, iters in ((a, a_iters), (b, 3)):
            pagerank(edges_df(spark, pairs), tol=0.0, max_iter=iters,
                     checkpointer=CheckpointManager(spark, ckdir, "pagerank"))
        st = PageRankStats()
        resumed = pagerank(edges_df(spark, b), tol=0.0, max_iter=6,
                           checkpointer=CheckpointManager(spark, ckdir, "pagerank"),
                           resume=True, stats=st)
        assert st.resumed_from == 3 and st.iterations == 6
        full = pagerank(edges_df(spark, b), tol=0.0, max_iter=6)
        assert _ranks(resumed) == _ranks(full)

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


def _run_job(cmd: list[str]) -> dict:
    """Runs a job entry point to completion; returns its JSON summary."""
    p = subprocess.run(
        cmd, capture_output=True, text=True, cwd=REPO, env=_pipeline_env(),
        timeout=600,
    )
    lines = [line for line in p.stdout.splitlines() if line.startswith("{")]
    assert p.returncode == 0 and lines, p.stderr[-3000:]
    return json.loads(lines[-1])


def _run_pipeline(out: str, ck: str, resume: bool = False) -> dict:
    return _run_job(_pipeline_cmd(out, ck, resume))


def _kill_after_two_meta_rows(out: str, ck: str) -> int:
    """Starts the job and SIGKILLs its process group (the driver JVM
    included) once two complete PageRank iterations are in _meta;
    returns the rows seen. A row counts once it has its final
    ``meta-*.parquet`` name; the dot-named temp file of a row still
    being written does not, so the kill may land inside a _meta write."""
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
            rows = (
                [f for f in os.listdir(meta_dir)
                 if f.startswith("meta-") and f.endswith(".parquet")]
                if os.path.isdir(meta_dir) else []
            )
            if len(rows) >= 2:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                return len(rows)
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


def _edges_parquet(path: str, pairs) -> str:
    """``pairs`` as a one-file (src, dst) parquet table at ``path``."""
    import pandas as pd

    os.makedirs(path)
    pd.DataFrame(pairs, columns=["src", "dst"]).to_parquet(
        os.path.join(path, "part-0.parquet")
    )
    return path


def _graph_cmd(algo: str, edges: str, out: str, *extra: str) -> list[str]:
    return [
        sys.executable, os.path.join(REPO, "jobs", "run_graph.py"),
        "--algo", algo, "--edges", edges, "--out", out, *extra,
    ]


def test_run_graph_pagerank_job_resumes_to_in_process_ranks(spark, tmp_path):
    """jobs/run_graph.py --algo pagerank end to end: 3 iterations with
    checkpoints, then --resume to 5; the job's ranks match an in-process
    pagerank(max_iter=5) up to summation order (the job runs on 2
    cores)."""
    import pandas as pd

    pairs = random_graph(50, 200, seed=6)
    edges = _edges_parquet(str(tmp_path / "edges"), pairs)
    out, ck = str(tmp_path / "ranks"), str(tmp_path / "ck")

    def run(*extra: str) -> dict:
        return _run_job(_graph_cmd(
            "pagerank", edges, out, "--checkpoint-dir", ck, "--tol", "0", *extra
        ))

    first = run("--max-iter", "3")
    assert first["resumed_from"] is None and first["iterations"] == 3
    resumed = run("--resume", "--max-iter", "5")
    assert resumed["resumed_from"] == 3 and resumed["iterations"] == 5

    got = pd.read_parquet(out).set_index("id")["rank"]
    want = pd.Series(
        _ranks(pagerank(edges_df(spark, pairs), tol=0.0, max_iter=5))
    )
    assert set(got.index) == set(want.index)
    assert (got - want.reindex(got.index)).abs().max() < 1e-12


@pytest.mark.parametrize("algo", ["components", "triangles", "labelprop"])
def test_run_graph_job_matches_in_process_operator(spark, tmp_path, algo):
    """jobs/run_graph.py end to end: the job's output equals the
    in-process operator's on the same graph, exactly (integer ids,
    labels and counts; the job runs on 2 cores)."""
    import pandas as pd

    from rad_ecg_spark.operators.components import connected_components
    from rad_ecg_spark.operators.labelprop import label_propagation
    from rad_ecg_spark.operators.triangles import triangles

    pairs = random_graph(50, 200, seed=6)
    edges = _edges_parquet(str(tmp_path / "edges"), pairs)
    out = str(tmp_path / algo)
    info = _run_job(_graph_cmd(algo, edges, out))
    if algo == "components":
        want = connected_components(edges_df(spark, pairs), method="hybrid")
    elif algo == "labelprop":
        want = label_propagation(edges_df(spark, pairs), max_iter=50)
    else:
        want = triangles(edges_df(spark, pairs))
    got = pd.read_parquet(out)[want.columns]
    assert info["rows"] == len(got)
    assert sorted(got.itertuples(index=False)) == sorted(
        want.toPandas().itertuples(index=False)
    )


@pytest.mark.parametrize("cmd", [
    ["run_graph.py", "--algo", "pagerank", "--resume"],
    ["run_graph.py", "--algo", "components", "--checkpoint-dir", "ck"],
    ["run_graph.py", "--algo", "labelprop", "--tol", "0"],
    ["run_graph.py", "--algo", "triangles", "--max-iter", "5"],
    ["run_web_pipeline.py", "--synth-pages", "2:2", "--resume"],
    ["run_web_pipeline.py", "--synth-pages", "2:2", "--algos", "pagerank,pagernk"],
    ["run_web_pipeline.py", "--synth-pages", "2:2", "--algos", "components,triangles",
     "--tol", "1e-3"],
    ["run_web_pipeline.py", "--synth-pages", "2:2", "--algos", "components",
     "--max-iter", "5"],
], ids=["graph_resume", "graph_cc_checkpoint", "graph_lp_tol", "graph_triangles_max_iter",
        "web_pipeline_resume", "web_pipeline_unknown_algo",
        "web_pipeline_tol_without_pagerank", "web_pipeline_max_iter_cc_only"])
def test_jobs_reject_options_they_cannot_apply(tmp_path, cmd):
    """--resume without --checkpoint-dir, a PageRank option (its
    checkpoints included) given to another algorithm or to a pipeline
    without pagerank, --max-iter where no algorithm reads it, and an
    unknown pipeline algorithm are usage errors: the job exits with
    status 2 before it starts Spark."""
    script, *args = cmd
    if script == "run_graph.py":
        args += ["--edges", str(tmp_path / "edges")]
    p = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", script), *args,
         "--out", str(tmp_path / "out")],
        capture_output=True, text=True, cwd=REPO, env=_pipeline_env(),
        timeout=600,
    )
    assert p.returncode == 2 and "error:" in p.stderr, p.stderr
