#!/usr/bin/env python
"""spark-submit entry point for the extraction job (north_rule packaging).

    spark-submit --py-files sparkextract.zip scripts/run_extract.py \
        --input  <parquet-or-iceberg documents table path> \
        --output <job root: data/ + manifest/ written beneath> \
        [--run-id RUN] [--num-buckets 64] \
        [--generate-docs N]   # demo: synthesize the input corpus first

On a cluster, spark-submit provides the master and the session;
``--py-files`` ships the package (build it with
``python -c "from sparkextract.spark.session import build_pyfiles_zip as b; print(b('.'))"``).
Locally (no spark-submit), the script falls back to an in-process
local[*] session, so the same file is runnable both ways.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "src")
)


def main() -> None:
    from sparkextract import config

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--num-buckets", type=int, default=config.MANIFEST_NUM_BUCKETS)
    ap.add_argument("--generate-docs", type=int, default=0)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from sparkextract.spark.io import read_documents
    from sparkextract.spark.manifest import run_extraction_job
    from sparkextract.spark.session import ensure_workers_can_import, get_spark

    active = SparkSession.getActiveSession()
    spark = active if active is not None else get_spark("sparkextract-job")
    ensure_workers_can_import(spark)

    if args.generate_docs:
        from sparkextract.spark.datagen import write_corpus

        if not os.path.exists(os.path.join(args.input, "_SUCCESS")):
            write_corpus(spark, args.input, args.generate_docs, seed=42)

    docs = read_documents(spark, args.input)
    metrics = run_extraction_job(
        spark,
        docs,
        args.output,
        run_id=args.run_id,
        num_buckets=args.num_buckets,
    )
    print(json.dumps(metrics))


if __name__ == "__main__":
    main()
