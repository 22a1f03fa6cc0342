"""End-to-end ETL plan — parity with the reference's ``run_etl``.

Pipeline (reference: airflow/dags/etl/pyspark_etl.py:48-64):
CSV(.gz) in → mode-based null fill → timestamp split → Parquet out →
insights dict (→ optional JSON report file).

Differences, all scale-motivated (SURVEY.md §4.3):
- optional explicit schema kills the inference double-scan;
- all column modes in one job, not one per column;
- the insights cost no job of their own: the mode job also collects the
  loan-type histogram (the fill's effect on it is applied on the
  driver), and the row count and mean amount are an ``Observation`` on
  the Parquet write — so the cleaned frame has one consumer, the write,
  and is never cached, where the reference re-executes the whole
  uncached lineage for every action (4+N scans of the CSV);
- Parquet can be written straight to ``s3a://`` (no boto3 re-upload).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from loan_etl_data_pipeline_spark.operators.cleaning import (
    TS_FORMATS,
    column_modes_with_counts,
    fill_nulls_with_mode,
    split_timestamp,
)
from loan_etl_data_pipeline_spark.operators.profile import (
    TYPE_COL,
    assemble_insights,
    insights_aggregates,
    write_insights_json,
)
from loan_etl_data_pipeline_spark.operators.quality import observe_metrics
from loan_etl_data_pipeline_spark.sources.csv import (
    read_csv,
    resolve_input_files,
    sniff_csv_dialect,
)


def clean(df: DataFrame, ts_col: str = "timestamp") -> DataFrame:
    """The transformation core: mode-fill all columns, then split ``ts_col``."""
    return split_timestamp(fill_nulls_with_mode(df), ts_col)


def _filled_counts(counts: list[tuple]) -> list[tuple]:
    """Value counts in mode order, as they read after the mode fill: the
    null count joins the mode, unless the mode itself is null (then the
    fill is a no-op and the null group stays)."""
    nulls = sum(n for v, n in counts if v is None)
    if not nulls or counts[0][0] is None:
        return counts
    (mode, n), rest = counts[0], counts[1:]
    return [(mode, n + nulls)] + [(v, c) for v, c in rest if v is not None]


def _run(
    spark: SparkSession,
    input_path: str | list[str],
    ts_col: str,
    write,
    *,
    schema=None,
    insights_path: str | None = None,
    sniff_dialect: bool = False,
) -> dict:
    """Read → clean → ``write(cleaned.write)`` → insights (→ JSON report)."""
    files = resolve_input_files(input_path)
    dialect: dict = {}
    if sniff_dialect:
        # the sniffer needs one real file; skip empty ones, which would
        # sniff as the default comma dialect — the exact miss this flag
        # exists to prevent
        local = [p for p in files if os.path.isfile(p) and os.path.getsize(p) > 0]
        if not local:
            raise ValueError(
                f"sniff_dialect=True but no readable file resolves from "
                f"{input_path!r}"
            )
        d = sniff_csv_dialect(local[0])
        dialect = {"sep": d["sep"], "quote": d["quote"], "header": d["header"]}
    raw = read_csv(spark, files, schema=schema, **dialect)

    # clean() with its mode job swapped for one that also returns the
    # type histogram; the write's Observation carries the scalar
    # aggregates. Two actions, no cache, and the insights equal
    # generate_insights(cleaned) without re-running the cleaned lineage.
    modes, type_counts = column_modes_with_counts(raw, TYPE_COL)
    cleaned = split_timestamp(fill_nulls_with_mode(raw, modes=modes), ts_col)
    observed, obs = observe_metrics(
        cleaned, "etl_insights", insights_aggregates(cleaned.columns)
    )
    write(observed.write)
    insights = assemble_insights(cleaned.columns, obs.get, _filled_counts(type_counts))

    if insights_path:
        write_insights_json(insights, insights_path)
    return insights


def run_etl(
    spark: SparkSession,
    input_path: str | list[str],
    output_path: str,
    ts_col: str = "timestamp",
    *,
    schema=None,
    insights_path: str | None = None,
    write_mode: str = "overwrite",
    sniff_dialect: bool = False,
) -> dict:
    """Run the full reference-parity pipeline; returns the insights dict.

    ``input_path`` may be a file, glob, directory, or list of those,
    resolved by ``sources.csv.resolve_input_files`` (a directory reads
    every ``CSV_EXTENSIONS`` file, so a landing dir reads only its
    published files; the reference processed only the first discovered
    file — reference: airflow/dags/spark_etl_dag.py:60).
    ``sniff_dialect=True`` detects sep/quote/header from the head of the
    first input file (sources/csv.sniff_csv_dialect — metadata-scale
    driver work) instead of assuming the reference's comma+header, so a
    semicolon locale export parses into real columns.
    """
    return _run(
        spark, input_path, ts_col,
        lambda w: w.mode(write_mode).parquet(output_path),
        schema=schema, insights_path=insights_path, sniff_dialect=sniff_dialect,
    )


def run_etl_incremental(
    spark: SparkSession,
    input_path: str | list[str],
    output_path: str,
    ts_col: str = "timestamp",
    *,
    partition_col: str = "date",
    schema=None,
    insights_path: str | None = None,
) -> dict:
    """Partition-aware incremental run of the same pipeline.

    Output parquet is partitioned by the derived ``date`` column and
    written with *dynamic* partition overwrite: re-running with a new
    batch replaces only the date partitions present in that batch and
    leaves every other partition's files untouched — the daily-append
    contract a real pipeline needs. (The reference instead rmtree's the
    entire output dir before every run — reference:
    airflow/dags/spark_etl_dag.py:63-69 — so one bad batch deletes all
    history.) Rows with unparseable timestamps land in the null
    partition (``__HIVE_DEFAULT_PARTITION__``), preserved like any
    other. At 100 TB, date partitioning is also what makes downstream
    time-filtered scans prune to the touched days.
    """
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(mode_key, None)
    spark.conf.set(mode_key, "dynamic")
    try:
        return _run(
            spark, input_path, ts_col,
            lambda w: w.mode("overwrite").partitionBy(partition_col).parquet(output_path),
            schema=schema, insights_path=insights_path,
        )
    finally:
        if prev is None:
            spark.conf.unset(mode_key)
        else:
            spark.conf.set(mode_key, prev)


__all__ = ["run_etl", "run_etl_incremental", "clean", "TS_FORMATS"]
