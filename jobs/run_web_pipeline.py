"""spark-submit entry point for the full web-corpus pipeline:
extraction -> exact + near dedup -> link rewrite to cluster reps ->
PageRank / components / label propagation / triangles -> parquet
outputs + summary.json.

    python jobs/make_pyfiles.py          # -> dist/rad_ecg_spark.zip
    spark-submit --py-files dist/rad_ecg_spark.zip jobs/run_web_pipeline.py \
        --pages /path/to/pages_parquet --out /path/to/outdir \
        [--checkpoint-dir /path/ck --resume] \
        [--algos pagerank,components,labelprop,triangles] \
        [--synth-pages SITES:PAGES_PER_SITE]   # demo corpus instead of --pages

An --algos entry outside plans/pipeline.py ALGOS is a usage error, and
so is an option no listed algorithm reads: --checkpoint-dir, --resume,
--tol and --tol-mode need pagerank, --max-iter needs pagerank or
labelprop.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="parquet dir with pages(url, html, text, ...)")
    ap.add_argument("--synth-pages", help="SITES:PAGES_PER_SITE demo corpus")
    ap.add_argument("--out", required=True)
    ap.add_argument("--checkpoint-dir")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--algos", default="pagerank,components,labelprop,triangles")
    ap.add_argument("--tol", type=float, default=1e-6)
    ap.add_argument("--max-iter", type=int, default=100)
    ap.add_argument("--verify-extract", action="store_true",
                    help="assert the byte-exact text invariant before running")
    ap.add_argument("--tol-mode", choices=("abs", "rel"), default="abs",
                    help="PageRank convergence criterion: abs L-inf delta, "
                         "or rel (scale-invariant, effective tol/n)")
    args = ap.parse_args()
    if args.resume and not args.checkpoint_dir:
        ap.error("--resume needs --checkpoint-dir")
    algos = tuple(a.strip() for a in args.algos.split(",") if a.strip())

    from rad_ecg_spark.plans.pipeline import check_algos, run_pipeline

    try:
        check_algos(algos)
    except ValueError as e:
        ap.error(f"--algos: {e}")
    pagerank_only = [
        k for k in ("checkpoint_dir", "tol", "tol_mode")
        if getattr(args, k) != ap.get_default(k)
    ]
    if "pagerank" not in algos and pagerank_only:
        ap.error(f"--{pagerank_only[0].replace('_', '-')} needs pagerank in --algos")
    if args.max_iter != ap.get_default("max_iter") and not {"pagerank", "labelprop"} & set(algos):
        ap.error("--max-iter needs pagerank or labelprop in --algos")

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("web-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if args.pages:
        pages = spark.read.parquet(args.pages)
    elif args.synth_pages:
        from rad_ecg_spark.sources.pages import generate_pages

        sites, per_site = (int(x) for x in args.synth_pages.split(":"))
        pages = generate_pages(spark, sites, per_site)
    else:
        raise SystemExit("one of --pages / --synth-pages is required")

    summary = run_pipeline(
        spark,
        pages,
        args.out,
        algos=algos,
        checkpoint_dir=args.checkpoint_dir,
        resume=args.resume,
        tol=args.tol,
        max_iter=args.max_iter,
        verify_extract=args.verify_extract,
        tol_mode=args.tol_mode,
    )
    print(json.dumps(summary, sort_keys=True))


if __name__ == "__main__":
    main()
