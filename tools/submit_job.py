"""spark-submit job entry: run the full constraint suite.

Imports the engine ONLY from the --py-files artifact (no repo on
sys.path) — the cluster-shipping contract of the north rule. Input is
either --input <parquet of (doc_id, spans, part)> or --docs N to run over a
generated corpus (deterministic; used by the packaging smoke test).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None)
    ap.add_argument("--output", default=None)
    ap.add_argument("--docs", type=int, default=2000)
    ap.add_argument(
        "--checkpoint-dir", default=None,
        help="HDFS/S3 dir for the SparkContext's checkpoints: the engine's "
        "blocks then survive executor loss (default: local checkpoints — "
        "fastest, executor-resident)",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("doccheck-suite").getOrCreate()
    if args.checkpoint_dir:
        spark.sparkContext.setCheckpointDir(args.checkpoint_dir)

    from datachecker_spark.datagen import (
        generate_documents,
        generate_expected_fingerprints,
        generate_media_catalog,
    )
    from datachecker_spark.runner import run_suite, run_with_lineage

    if args.input:
        docs = spark.read.parquet(args.input)
    else:
        docs = generate_documents(spark, args.docs).localCheckpoint(eager=True)
    catalog = generate_media_catalog(spark)
    expected = generate_expected_fingerprints(docs).localCheckpoint(eager=True)

    if args.output:
        stats = run_with_lineage(
            docs, args.output, run_id="submit",
            media_catalog=catalog, expected_fingerprints=expected,
        )
        print(json.dumps(stats))
    else:
        res = run_suite(docs, media_catalog=catalog, expected_fingerprints=expected)
        n = res.violations.count()
        checks = res.metrics.select("check").distinct().count()
        print(json.dumps({"violations": n, "checks": checks}))
    print("SUBMIT_JOB_OK")
    spark.stop()


if __name__ == "__main__":
    main()
