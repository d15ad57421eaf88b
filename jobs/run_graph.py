"""spark-submit entry point for the graph algorithms over a (src, dst)
parquet table.

    python jobs/make_pyfiles.py          # -> dist/rad_ecg_spark.zip
    spark-submit --py-files dist/rad_ecg_spark.zip jobs/run_graph.py \
        --algo {pagerank|components|labelprop|triangles} \
        --edges /path/to/edges_parquet --out /path/to/result \
        [--max-iter N] [--checkpoint-dir /path/to/ck [--resume]]

Outputs: pagerank -> (id, rank), components -> (id, component),
labelprop -> (id, label), triangles -> (id, tri_count). The job prints
one JSON line with ``algo``, the output's ``rows`` and the run's facts.

PageRank with --checkpoint-dir commits an async checkpoint every
iteration, and --resume restarts it from the last complete one; the
other algorithms reject the PageRank options, and triangles, which
does not iterate, rejects --max-iter. Components run the hybrid
method; PageRank and label propagation split off supernode hubs
themselves (operators/skew.py hub_split). A pages table goes through
jobs/run_web_pipeline.py, which dedups the pages before it builds the
link graph.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--algo", required=True,
                    choices=["pagerank", "components", "labelprop", "triangles"])
    ap.add_argument("--edges", required=True, help="parquet dir with (src, dst)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--max-iter", type=int,
                    help="default: 100 for pagerank, 50 for components and labelprop")
    ap.add_argument("--checkpoint-dir", help="pagerank only")
    ap.add_argument("--resume", action="store_true",
                    help="pagerank only: restart from the last complete checkpoint")
    ap.add_argument("--damping", type=float, default=0.85, help="pagerank only")
    ap.add_argument("--tol", type=float, default=1e-6, help="pagerank only")
    ap.add_argument("--tol-mode", choices=("abs", "rel"), default="abs",
                    help="pagerank only: abs L-inf delta < tol, or rel "
                         "(scale-invariant: effective tolerance tol/n)")
    args = ap.parse_args()
    pagerank_only = [
        k for k in ("checkpoint_dir", "resume", "damping", "tol", "tol_mode")
        if getattr(args, k) != ap.get_default(k)
    ]
    if args.algo != "pagerank" and pagerank_only:
        ap.error(f"--{pagerank_only[0].replace('_', '-')} applies to --algo pagerank only")
    if args.resume and not args.checkpoint_dir:
        ap.error("--resume needs --checkpoint-dir")
    if args.algo == "triangles" and args.max_iter is not None:
        ap.error("--max-iter does not apply to --algo triangles (no iterations)")
    if args.max_iter is None:
        args.max_iter = 100 if args.algo == "pagerank" else 50

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName(f"linkgraph-{args.algo}").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    edges = spark.read.parquet(args.edges)

    info: dict = {"algo": args.algo}
    if args.algo == "pagerank":
        from rad_ecg_spark.operators.pagerank import PageRankStats, pagerank
        from rad_ecg_spark.plans.checkpoint import CheckpointManager

        ck = (
            CheckpointManager(spark, args.checkpoint_dir, "pagerank", async_write=True)
            if args.checkpoint_dir
            else None
        )
        st = PageRankStats()
        out = pagerank(
            edges, damping=args.damping, tol=args.tol, tol_mode=args.tol_mode,
            max_iter=args.max_iter, checkpointer=ck, resume=args.resume, stats=st,
        )
        info.update(vertices=st.num_vertices, edges=st.num_edges,
                    iterations=st.iterations, converged=st.converged,
                    resumed_from=st.resumed_from,
                    final_delta=st.deltas[-1] if st.deltas else None)
    elif args.algo == "components":
        from rad_ecg_spark.operators.components import connected_components

        out = connected_components(edges, max_iter=args.max_iter)
    elif args.algo == "labelprop":
        from rad_ecg_spark.operators.labelprop import LabelPropStats, label_propagation

        st = LabelPropStats()
        out = label_propagation(edges, max_iter=args.max_iter, stats=st)
        info.update(iterations=st.iterations, converged=st.converged,
                    changes=st.changes)
    else:
        from rad_ecg_spark.operators.triangles import triangles

        out = triangles(edges)
    out.write.mode("overwrite").parquet(args.out)
    info["rows"] = spark.read.parquet(args.out).count()
    print(json.dumps(info))


if __name__ == "__main__":
    main()
