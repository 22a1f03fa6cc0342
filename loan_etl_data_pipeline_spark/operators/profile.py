"""Insights / profiling layer (reference operators G1-G6 + S3).

Reproduces ``generate_insights``
(reference: airflow/dags/etl/pyspark_etl.py:35-46): a dict with
``total_loans`` (global count), ``avg_loan_amount`` (null-ignoring mean,
present only when the column exists) and ``by_loan_type`` (unordered
records of {loan_type, count}, present only when the column exists) —
the conditional probes are part of the contract (the golden
insights.json came from a run where both columns were absent,
reference: etl/insights/insights.json:1-3).

Scale difference vs the reference: the reference fires three separate
uncached jobs (count, mean+collect, groupBy+toPandas —
reference: airflow/dags/etl/pyspark_etl.py:38,41,44). Here
:func:`generate_insights` runs the scalar aggregates as ONE job (single
``agg`` over the frame) and the group-by as a second; each re-executes
the frame's lineage, so pass a cached frame if it is expensive. The ETL
plan (plans/etl.py) fires NO insights job at all: it takes the same
scalar aggregates (:func:`insights_aggregates`) from an ``Observation``
on its Parquet write and the type counts from its mode job, and builds
the dict with the same :func:`assemble_insights`.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
import pyspark.sql.functions as F


#: Default columns the insights read (reference: airflow/dags/etl/pyspark_etl.py:40,43).
AMOUNT_COL = "loan_amount"
TYPE_COL = "loan_type"


def insights_aggregates(columns: list[str], amount_col: str = AMOUNT_COL) -> dict:
    """The scalar insights aggregates over a frame with ``columns``:
    ``total`` always, ``avg_amount`` only when ``amount_col`` exists."""
    aggs = {"total": F.count(F.lit(1))}
    if amount_col in columns:
        aggs["avg_amount"] = F.avg(F.col(amount_col))
    return aggs


def assemble_insights(
    columns: list[str],
    scalars: dict,
    type_counts: list[tuple],
    *,
    amount_col: str = AMOUNT_COL,
    type_col: str = TYPE_COL,
) -> dict:
    """The insights dict from the values of :func:`insights_aggregates`
    (``scalars``) and ``(type value, count)`` pairs; each optional key is
    present only when its column is among ``columns``."""
    insights: dict = {"total_loans": scalars["total"]}
    if amount_col in columns:
        insights["avg_loan_amount"] = scalars["avg_amount"]
    if type_col in columns:
        insights["by_loan_type"] = [{type_col: v, "count": n} for v, n in type_counts]
    return insights


def generate_insights(
    df: DataFrame,
    *,
    amount_col: str = AMOUNT_COL,
    type_col: str = TYPE_COL,
) -> dict:
    """Compute the insights dict for ``df`` in at most two jobs."""
    aggs = insights_aggregates(df.columns, amount_col)
    scalars = df.agg(*[c.alias(n) for n, c in aggs.items()]).collect()[0].asDict()
    type_counts = []
    if type_col in df.columns:
        type_counts = [
            tuple(r)
            for r in df.groupBy(type_col).agg(F.count(F.lit(1)).alias("count")).collect()
        ]
    return assemble_insights(
        df.columns, scalars, type_counts, amount_col=amount_col, type_col=type_col
    )


def write_insights_json(insights: dict, path: str) -> str:
    """Persist the insights dict as pretty JSON (reference S3,
    reference: airflow/dags/etl/pyspark_etl.py:59-62)."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        json.dump(insights, f, indent=2, default=str)
    return path
