"""spark-submit entrypoint: ``python -m skewer_spark`` or, on a cluster,

    spark-submit --master <...> --py-files dist/skewer_spark.zip \
        run_job.py --input <parquet> --out <dir> [--buckets 32] [...]

Runs the full parse → enrich → route → fan-out → aggregate pipeline
(the reference gateway's batch analog, ``/root/reference/main.go`` /
``services/``) resumably: a killed run restarted on the same ``--out``
reprocesses only un-committed conversation buckets
(`plans/checkpoint.py` manifest = the ACK queue analog).

Prints ONE JSON summary line on success so wrappers can parse results.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="skewer_spark")
    p.add_argument("--input", required=True, help="transcript parquet path")
    p.add_argument("--out", required=True, help="output directory")
    p.add_argument(
        "--mode", choices=("buckets", "flat"), default="buckets",
        help="buckets = resumable per-bucket waves (Store mode); "
             "flat = single-slice throughput shape (DirectRELP mode)",
    )
    p.add_argument("--buckets", type=int, default=8)
    p.add_argument("--run-id", default=None)
    p.add_argument("--fail-after", type=int, default=None,
                   help="inject a failure after N buckets (resume testing)")
    p.add_argument("--synth-convs", type=int, default=None,
                   help="instead of reading --input, synthesize this many "
                        "conversations there first (deterministic fixture)")
    p.add_argument("--synth-turns", type=int, default=50)
    args = p.parse_args(argv)

    from skewer_spark.session import submit_session
    from skewer_spark.plans.job import run_flat, run_pipeline

    spark = submit_session()
    t0 = time.monotonic()
    if args.synth_convs:
        from skewer_spark.synth import transcripts_df
        transcripts_df(spark, args.synth_convs, args.synth_turns) \
            .write.mode("overwrite").parquet(args.input)

    if args.mode == "flat":
        rows = run_flat(spark, args.input, args.out)
        summary = {"mode": "flat", "rows": rows}
    else:
        res = run_pipeline(
            spark,
            args.input,
            args.out,
            n_buckets=args.buckets,
            fail_after=args.fail_after,
            run_id=args.run_id,
        )
        summary = {"mode": "buckets", **res}
    summary["wall_sec"] = round(time.monotonic() - t0, 3)
    summary["parallelism"] = spark.sparkContext.defaultParallelism
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
