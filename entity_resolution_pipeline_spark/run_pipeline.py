"""spark-submit entrypoint (north_rule: `spark-submit --py-files`).

    zip -r erp.zip entity_resolution_pipeline_spark
    spark-submit --py-files erp.zip \
        --conf spark.driver.defaultJavaOptions=-XX:TieredStopAtLevel=1 \
        entity_resolution_pipeline_spark/run_pipeline.py \
        --warehouse /path/wh --entities 3000 [--input /path/web_pages_parquet]

Prints one JSON line with counts, metrics, and evaluation. The session is a
bare ``SparkSession.builder``: its config comes from the submit command, so
locally it runs on Spark's defaults, not ``build_spark``'s, except that it
lowercases as ``build_spark`` sessions do (JVM case mapping, ``en_US``).
spark-submit starts the driver JVM before any Python runs, so a short local
submit needs the C1-only ``defaultJavaOptions`` itself, and it runs without
the class archive that ``build_spark`` sessions share: every submit loads
Spark's classes from its jars.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--input", default=None,
                    help="parquet dir of web_pages (url, warc_ts, html, text, lang); "
                         "default: deterministic synthetic corpus")
    ap.add_argument("--entities", type=int, default=2000,
                    help="synthetic corpus size when --input is not given")
    ap.add_argument("--labels", default=None,
                    help="parquet/csv of labeled pairs (left, right, match); "
                         "default: synthetic labels (synthetic corpus only)")
    ap.add_argument("--n-label-pairs", type=int, default=2000)
    ap.add_argument("--force", action="store_true", help="ignore checkpoints")
    ap.add_argument("--export-csv", default=None, help="cluster CSV export dir")
    ap.add_argument("--report", action="store_true",
                    help="write <warehouse>/reports/run_<id>.md after the run")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    # absolute imports: spark-submit executes this file as a top-level
    # script, with the package shipped via --py-files
    from entity_resolution_pipeline_spark.plans.pipeline import ERConfig, ERPipeline
    from entity_resolution_pipeline_spark.session import LOWER_CONF
    from entity_resolution_pipeline_spark.sources.webpages import (
        labeled_pairs_pdf,
        web_pages_df,
    )

    spark = SparkSession.builder.appName("er-pipeline").config(map=LOWER_CONF).getOrCreate()
    # the driver JVM (local[N]: also the executor) started before this line
    jvm = spark.sparkContext._jvm
    jvm.java.util.Locale.setDefault(jvm.java.util.Locale.US)
    spark.sparkContext.setLogLevel("WARN")

    if args.input:
        wp = spark.read.parquet(args.input)
    else:
        wp = web_pages_df(spark, args.entities)

    lp = None
    if args.labels:
        if args.labels.endswith(".csv"):
            lp = spark.read.option("header", True).csv(args.labels)
        else:
            lp = spark.read.parquet(args.labels)
    elif not args.input:
        lp = spark.createDataFrame(labeled_pairs_pdf(args.entities, args.n_label_pairs))

    pipe = ERPipeline(spark, args.warehouse, ERConfig())
    result = pipe.run(wp, lp, force=args.force)
    if args.export_csv:
        pipe.export_clusters_csv(args.export_csv)
    if args.report:
        from entity_resolution_pipeline_spark.plans.report import write_run_report

        result["report_path"] = write_run_report(pipe)
    print(json.dumps(result, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
