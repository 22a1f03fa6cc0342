"""CLI entry point — parity with the reference's script invocation.

The reference runs ``python pyspark_etl.py <input> <output> [ts_col]``
(reference: airflow/dags/etl/pyspark_etl.py:66-71); here:

    python -m loan_etl_data_pipeline_spark <input> <output> [ts_col]

``input`` may be a file, a glob, or a directory (resolved by
resolve_input_files: a directory expands to ALL its csv/csv.gz files, not
just the first like the reference's discovery step,
reference: airflow/dags/spark_etl_dag.py:60). The insights dict is
printed as JSON and optionally written with --insights-json.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from loan_etl_data_pipeline_spark.plans.etl import run_etl
from loan_etl_data_pipeline_spark.session import create_session
from loan_etl_data_pipeline_spark.sources.csv import resolve_input_files


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="loan_etl_data_pipeline_spark",
        description="Run the loan ETL pipeline: CSV(.gz) in -> mode-fill -> "
        "timestamp split -> parquet out + insights JSON.",
    )
    p.add_argument("input", help="input CSV file, glob, or directory")
    p.add_argument("output", help="output parquet directory")
    p.add_argument("ts_col", nargs="?", default="timestamp",
                   help="timestamp column to split (default: timestamp)")
    p.add_argument("--insights-json", default=None,
                   help="also write the insights dict to this JSON file")
    p.add_argument("--master", default=None,
                   help="Spark master (default: $SPARK_MASTER or local[*])")
    args = p.parse_args(argv)

    inputs = resolve_input_files(args.input)
    if not inputs:
        print(json.dumps({"status": "no_files"}))
        return 1

    from pyspark.sql import SparkSession

    had_session = SparkSession.getActiveSession() is not None
    spark = create_session(
        "loan-etl-cli", master=args.master or os.environ.get("SPARK_MASTER", "local[*]")
    )
    try:
        insights = run_etl(
            spark, inputs, args.output, args.ts_col, insights_path=args.insights_json
        )
        print(json.dumps(insights, indent=2, default=str))
    finally:
        # don't tear down a session we merely joined (in-process callers)
        if not had_session:
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
