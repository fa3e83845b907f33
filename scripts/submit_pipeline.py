"""spark-submit driver for the web-KG construction pipeline.

The north-rule deployment shape: the package ships as a zip via
``--py-files`` (no install on executors), the driver only orchestrates.

    bash scripts/submit.sh [work_dir] [n_docs] [master]

or directly:

    spark-submit --master local[32] --py-files /tmp/kgms.zip \\
        scripts/submit_pipeline.py /tmp/kg_run 5000
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession


def main() -> None:
    work_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/kg_submit_run"
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 2000

    # session comes from spark-submit's conf; only decorate what the
    # engine requires (Arrow, AQE, UTC) without overriding the master
    spark = (
        SparkSession.builder.appName("kgms-submit")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    from kg_microbe_merge_spark.plans.pipeline import (
        OUTPUT_STAGES,
        PipelineRun,
        run_pipeline,
    )

    run_pipeline(spark, work_dir, n_docs=n_docs, seed=42)
    # row counts as committed: the manifest, not a re-scan of each output
    manifest = PipelineRun(spark, work_dir).manifest
    counts = {k: manifest[stage]["rows"] for k, stage in OUTPUT_STAGES.items()}
    print(f"PIPELINE-OK {counts}")
    spark.stop()


if __name__ == "__main__":
    main()
