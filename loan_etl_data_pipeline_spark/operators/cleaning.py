"""Cleaning operators: mode-based null imputation + timestamp splitting.

Parity targets (SURVEY.md §2 A.2/A.4/A.8, §4.1 semantic contracts):

- ``fill_nulls_with_mode`` reproduces the reference's
  ``fill_nulls_with_mode`` (reference: airflow/dags/etl/pyspark_etl.py:14-21)
  with two deliberate changes, both documented in SURVEY.md §4.1:
  (1) deterministic tie-break (count DESC, value ASC, nulls first) where
  the reference's ``orderBy(desc("count")).limit(1)`` is arbitrary under
  ties; (2) the default plan computes ALL column modes in ONE job
  (melt → single shuffle) instead of one full scan+shuffle+collect per
  column. The per-column variant is kept as
  ``fill_nulls_with_mode_faithful`` for parity/benchmark comparison.
  Preserved contract: the histogram counts nulls as a value — if null is
  the most frequent "value" the mode is None and the fill is a no-op for
  that column (reference: airflow/dags/etl/pyspark_etl.py:17-20).

- ``split_timestamp`` reproduces ``split_timestamp``
  (reference: airflow/dags/etl/pyspark_etl.py:23-33): try three
  timestamp formats in order, first success wins, emit ``date``
  (yyyy-MM-dd) and ``time`` (HH:mm:ss) as STRING columns, keep the
  original column, null date/time for unparseable input. Under Spark 4's
  default ANSI mode a failed ``to_timestamp`` raises, so we use
  ``try_to_timestamp`` to keep the null-on-failure contract.

100 TB notes: the melt plan scans the data once and shuffles
|rows|×|cols| thin (col_name, value) pairs with map-side partial
aggregation, so the shuffle volume is ~the distinct-value histogram per
partition, not the raw data. The faithful variant is O(columns) full
jobs — kept only to demonstrate the difference (bench.py measures both).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F

#: The three accepted input formats, in priority order
#: (reference: airflow/dags/etl/pyspark_etl.py:26-28).
TS_FORMATS = (
    "yyyy-MM-dd HH:mm:ss",
    "MM/dd/yyyy HH:mm:ss",
    "dd-MM-yyyy HH:mm:ss",
)

#: Cheap shape guard per known format: a necessary condition for the
#: parse to succeed (4-digit-year-dash / 2-digit-slash / 2-digit-dash
#: prefixes are mutually exclusive across the three formats, so guarding
#: preserves first-success-wins semantics exactly). Guarding matters for
#: throughput: a failed ``try_to_timestamp`` costs a JVM exception
#: (~100 µs with stack fill-in) per attempt, and by construction 2 of 3
#: attempts fail per row in mixed-format data — measured 26.8 s → ~1 s
#: at sf0.1 for the multiformat-parse query.
_FORMAT_GUARDS = {
    "yyyy-MM-dd HH:mm:ss": r"^\d{4}-",
    "MM/dd/yyyy HH:mm:ss": r"^\d{2}/",
    "dd-MM-yyyy HH:mm:ss": r"^\d{2}-",
}


def parse_timestamp_multi(col, formats=TS_FORMATS):
    """First-success-wins multi-format timestamp parse (F1/F2).

    ``coalesce(try_to_timestamp(col, f) for f in formats)`` — format
    priority is list order, unparseable → null
    (reference: airflow/dags/etl/pyspark_etl.py:25-29). Formats with a
    known shape guard are only attempted when the guard regex matches,
    so each row pays for at most one real parse.
    """
    col = F.col(col) if isinstance(col, str) else col
    attempts = []
    for f in formats:
        t = F.try_to_timestamp(col, F.lit(f))
        guard = _FORMAT_GUARDS.get(f)
        attempts.append(F.when(col.rlike(guard), t) if guard else t)
    return F.coalesce(*attempts)


def split_timestamp(
    df: DataFrame,
    ts_col: str = "timestamp",
    *,
    formats=TS_FORMATS,
    date_col: str = "date",
    time_col: str = "time",
) -> DataFrame:
    """Add string ``date``/``time`` columns derived from ``ts_col``.

    Schema-tolerant: if ``ts_col`` is absent the frame is returned
    unchanged (the reference guards the call the same way,
    reference: airflow/dags/etl/pyspark_etl.py:53-54). If the column is
    already a timestamp type it is used directly; strings go through the
    multi-format parse. The original column survives; only the internal
    parsed column is dropped (reference: airflow/dags/etl/pyspark_etl.py:30-32).
    """
    if ts_col not in df.columns:
        return df
    dtype = dict(df.dtypes)[ts_col]
    parsed = (
        F.col(ts_col) if dtype.startswith("timestamp") else parse_timestamp_multi(ts_col, formats)
    )
    return (
        df.withColumn("__parsed_ts", parsed)
        .withColumn(date_col, F.date_format("__parsed_ts", "yyyy-MM-dd"))
        .withColumn(time_col, F.date_format("__parsed_ts", "HH:mm:ss"))
        .drop("__parsed_ts")
    )


def column_modes(df: DataFrame, cols: list[str] | None = None) -> dict[str, str | None]:
    """Most-frequent value per column, computed in ONE Spark job.

    Melt every cell to a thin ``(col_name, value-as-string)`` pair with
    ``explode``, histogram with a single hash aggregation (map-side
    partial combine makes the shuffle ~histogram-sized), then take the
    per-column top-1 with a window. Nulls count as a value; ties break
    deterministically (count DESC, value ASC, nulls first). Returns the
    mode as a *string* (cast back to the column type at fill time);
    ``None`` means the column's mode is null → fill is a no-op.

    Replaces the reference's per-column
    ``groupBy(c).count().orderBy(desc("count")).limit(1).collect()`` loop
    (reference: airflow/dags/etl/pyspark_etl.py:16-19): O(1) jobs instead
    of O(columns).
    """
    cols = list(cols) if cols is not None else list(df.columns)
    if not cols:
        return {}
    top = _ranked_counts(df, cols).filter(F.col("__rn") == 1)
    return {r["col_name"]: r["value"] for r in top.select("col_name", "value").collect()}


def column_modes_with_counts(
    df: DataFrame, count_col: str
) -> tuple[dict[str, str | None], list[tuple]]:
    """:func:`column_modes` of every column plus ``count_col``'s value
    counts, in the SAME job.

    The melt histogram already holds every ``(value, count)`` of every
    column; this collects ``count_col``'s rows next to the per-column
    top-1 rows. Returns ``(modes, counts)``: ``modes`` exactly as
    :func:`column_modes` returns it, ``counts`` as ``(value, count)``
    pairs in mode order (``counts[0]`` is the mode), each value cast back
    to the column's type by the cast :func:`fill_nulls_with_mode` applies
    to a mode (null stays None); empty when ``count_col`` is not a column.
    """
    is_counted = F.col("col_name") == count_col
    dtype = dict(df.dtypes).get(count_col, "string")
    typed = F.when(is_counted, F.col("value").cast(dtype))
    rows = (
        _ranked_counts(df, df.columns)
        .filter((F.col("__rn") == 1) | is_counted)
        .select("col_name", "value", "cnt", "__rn", typed.alias("typed"))
        .collect()
    )
    modes = {r["col_name"]: r["value"] for r in rows if r["__rn"] == 1}
    counts = [
        (r["typed"], r["cnt"])
        for r in sorted(rows, key=lambda r: r["__rn"])
        if r["col_name"] == count_col
    ]
    return modes, counts


def _ranked_counts(df: DataFrame, cols: list[str]) -> DataFrame:
    """The melt histogram ``(col_name, value, cnt)`` of ``cols``, each
    column's rows numbered ``__rn`` in mode order (count DESC, value ASC,
    nulls first)."""
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(c).cast("string").alias("value"),
            )
            for c in cols
        ]
    )
    melted = df.select(F.explode(pairs).alias("kv")).select("kv.col_name", "kv.value")
    counts = melted.groupBy("col_name", "value").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("col_name").orderBy(F.desc("cnt"), F.asc_nulls_first("value"))
    return counts.withColumn("__rn", F.row_number().over(w))


def column_modes_per_column(df: DataFrame, cols: list[str] | None = None) -> dict:
    """Reference-faithful per-column mode: one job per column.

    Same shape as the reference loop
    (reference: airflow/dags/etl/pyspark_etl.py:16-19) plus the
    deterministic tie-break. Kept for parity tests and as the bench
    counterpoint to :func:`column_modes`. Returns values in their native
    type (not stringified).

    Tie-break contract (shared with :func:`column_modes`, whose melted
    histogram only sees strings): count DESC, then value ASC *in string
    order*, nulls first — the reference's bare
    ``orderBy(desc("count")).limit(1)`` left ties arbitrary.
    """
    modes: dict = {}
    for c in cols if cols is not None else df.columns:
        top = (
            df.groupBy(c)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc_nulls_first(F.col(c).cast("string")))
            .limit(1)
            .collect()
        )
        modes[c] = top[0][c] if top else None
    return modes


def fill_nulls_with_mode(
    df: DataFrame, cols: list[str] | None = None, *, modes: dict | None = None
) -> DataFrame:
    """Replace nulls in each column with that column's mode.

    Single ``select`` applying all ``when(isNull, lit(mode))`` rewrites
    at once (Catalyst would collapse stacked ``withColumn`` projections
    anyway, but one select keeps the plan flat). Columns whose mode is
    None (null-majority) are left untouched — same no-op contract as the
    reference (reference: airflow/dags/etl/pyspark_etl.py:18-20).

    ``modes`` may be precomputed (e.g. from a sample at 100 TB scale);
    otherwise :func:`column_modes` runs one job to get them all.
    """
    cols = list(cols) if cols is not None else list(df.columns)
    if modes is None:
        modes = column_modes(df, cols)
    dtypes = dict(df.dtypes)
    out = []
    for c in df.columns:
        m = modes.get(c)
        if c not in cols or m is None:
            out.append(F.col(c))
        else:
            fill = F.lit(m).cast(dtypes[c]) if isinstance(m, str) else F.lit(m)
            out.append(F.when(F.col(c).isNull(), fill).otherwise(F.col(c)).alias(c))
    return df.select(*out)


def fill_nulls_with_mode_faithful(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Reference-faithful fill: per-column mode job + stacked withColumn.

    Deliberately reproduces the reference's N+1-job structure
    (reference: airflow/dags/etl/pyspark_etl.py:14-21) — do not use at
    scale; exists so tests can assert the optimized plan is semantically
    identical and bench.py can show the job-count difference.
    """
    for c in cols if cols is not None else df.columns:
        mode_val = column_modes_per_column(df, [c])[c]
        if mode_val is not None:
            df = df.withColumn(
                c, F.when(F.col(c).isNull(), F.lit(mode_val)).otherwise(F.col(c))
            )
    return df
