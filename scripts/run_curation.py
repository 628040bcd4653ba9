"""spark-submit entry point: full incremental curation run.

The gem_proc_run analog (/root/reference/gemProc2caom2/composable.py:
100-132; console script at setup.cfg:49). Reads the input table,
anti-joins already-committed urls, runs the curation DAG, commits
results + audit atomically, exits 0/1 for the scheduler (the Airflow
exit-code contract, composable.py:104-106).

Local:
  python scripts/run_curation.py --input DIR --output DIR [--partitions N]

Cluster:
  spark-submit --py-files gemproc2caom2_spark.zip \
      scripts/run_curation.py --input s3://... --output s3://... \
      --partitions 4096
"""

from __future__ import annotations

import os
import sys

# repo root on sys.path: these scripts live in scripts/; when shipped
# via --py-files the package is already importable and this is a no-op
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import argparse
import sys
import traceback


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="input table path (parquet dir)")
    ap.add_argument("--output", required=True, help="output root (runs/<id>/ created)")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--partitions", type=int, default=None,
                    help="salted repartition width (default: 2x parallelism)")
    ap.add_argument("--master", default=None, help="override master (default env)")
    args = ap.parse_args()

    from gemproc2caom2_spark.plans.checkpoint import run_incremental
    from gemproc2caom2_spark.session import build_session
    from gemproc2caom2_spark.sources.datagen import INPUT_SCHEMA

    spark = build_session(app_name="gemproc-curation", master=args.master)
    try:
        df = spark.read.schema(INPUT_SCHEMA).parquet(args.input)
        run_id, n = run_incremental(
            spark, df, args.output, run_id=args.run_id, num_partitions=args.partitions
        )
        print(f"run_id={run_id} processed={n}")
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
