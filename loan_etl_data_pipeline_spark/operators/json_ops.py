"""Semi-structured (JSON) extraction (EXT E7).

The reference touches JSON only driver-side (insights dump + metadata
sidecar — reference: airflow/dags/etl/pyspark_etl.py:59-62,
airflow/dags/drive_watch_dag.py:127-129). Here JSON is a first-class
column: ``events.props`` is a JSON string, extracted JVM-side with
``get_json_object`` / ``from_json`` — no Python in the loop, full
codegen. At 100 TB prefer ``from_json`` with an explicit schema once per
query over repeated ``get_json_object`` calls (one parse vs N parses per
row).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F


def json_field(col, path: str) -> Column:
    """Extract one field as string: ``json_field('props', '$.k')``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.get_json_object(c, path)


def _k_stats(df: DataFrame, k, group_col: str) -> DataFrame:
    """Shared per-group stats shape over an extracted ``k`` expression —
    ONE definition so the get_json_object and VARIANT paths can never
    drift apart (their value-identity is oracle-pinned)."""
    return (
        df.select(F.col(group_col), k.alias("k"))
        .groupBy(group_col)
        .agg(
            F.count("k").alias("n_k"),
            F.sum("k").cast("bigint").alias("sum_k"),
            (F.sum("k").cast("double") / F.count("k")).alias("avg_k"),
            F.min("k").cast("bigint").alias("min_k"),
            F.max("k").cast("bigint").alias("max_k"),
        )
    )


def props_stats(df: DataFrame, *, group_col: str = "event_type") -> DataFrame:
    """Per-group stats of the integer ``$.k`` field in ``props``.

    try_cast keeps the null-on-malformed contract under ANSI mode.
    """
    return _k_stats(
        df, F.expr("try_cast(get_json_object(props, '$.k') AS INT)"), group_col
    )


def props_variant_stats(df: DataFrame, *, group_col: str = "event_type") -> DataFrame:
    """The same per-group ``$.k`` stats through Spark 4's VARIANT type:
    ``parse_json`` ONCE into the binary variant encoding, then typed
    ``try_variant_get`` extraction — the modern engine path for
    semi-structured columns (one parse regardless of how many fields
    downstream reads pull; ``get_json_object`` re-parses per call, and
    ``from_json`` needs the full schema up front, which evolving event
    payloads don't have). Same null-on-malformed/missing contract as
    props_stats (try_ semantics), so the two paths are value-identical
    — which is exactly what q_json_variant's shared-shape oracle pins.

    Two deliberate choices keep the contract true on DIRTY input, not
    just the clean fixtures: ``try_parse_json`` (plain parse_json
    FAILFASTs the whole job on one malformed row), and extraction as
    STRING + ``try_cast`` to INT — ``try_variant_get(..., 'int')``
    would apply cast coercion (2.5→2, true→1) exactly where the
    get_json_object path yields NULL, silently diverging the two
    routes on any non-integer k.
    """
    k = F.expr(
        "try_cast(try_variant_get(try_parse_json(props), '$.k', 'string')"
        " AS INT)"
    )
    return _k_stats(df, k, group_col)
