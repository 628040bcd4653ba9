"""Debug one url through a configurable sub-chain of stages.

The run_single analog (/root/reference/gemProc2caom2/run_single.py:
83-101, which runs a SUBSET of visitors on one file — stages stay
composable, never fused into one opaque blob).

  python scripts/run_single_url.py --input DIR --url URL [--no-dedup]
      [--stages collapse,extract,langid,heuristics,perplexity,scrub,dedup]
"""

from __future__ import annotations

import os
import sys

# repo root on sys.path: these scripts live in scripts/; when shipped
# via --py-files the package is already importable and this is a no-op
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--url", required=True)
    ap.add_argument("--no-dedup", action="store_true",
                    help="skip the corpus-level dedup join (meta_visitors=[] analog)")
    ap.add_argument("--stages", default=None,
                    help="comma-separated stage subset (task_types analog, "
                         "config.yml:74-87); default: all stages")
    ap.add_argument("--master", default="local[4]")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from gemproc2caom2_spark.functions.hashing import url_normalize
    from gemproc2caom2_spark.plans.pipeline import ALL_STAGES, curate
    from gemproc2caom2_spark.session import build_session
    from gemproc2caom2_spark.sources.datagen import INPUT_SCHEMA

    stages = ALL_STAGES
    if args.stages is not None:
        stages = tuple(s.strip() for s in args.stages.split(",") if s.strip())
        unknown = set(stages) - set(ALL_STAGES)
        if unknown:
            ap.error(f"unknown stages {sorted(unknown)}; valid: {ALL_STAGES}")
    if args.no_dedup:
        stages = tuple(s for s in stages if s != "dedup")

    spark = build_session(app_name="gemproc-single", master=args.master)
    try:
        df = spark.read.schema(INPUT_SCHEMA).parquet(args.input)
        if "dedup" not in stages:
            # row-local chain only: filter first, no corpus state needed
            df = df.where(url_normalize("url") == args.url)
        out = curate(df, stages=stages)
        rows = out.where(F.col("url") == args.url).collect()
        for r in rows:
            d = r.asDict(recursive=True)
            d["scrubbed_text"] = (d["scrubbed_text"] or "")[:500]
            print(json.dumps(d, default=str, indent=1))
        return 0 if rows else 2
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
