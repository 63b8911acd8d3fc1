"""Data-quality checks (reference scripts/data_quality.py).

The reference's validation surface: per-layer structural checks
(existence, row/column counts, duplicates, nulls — Q1-Q3), constraint
checks (key uniqueness, not-null, dtype — Q4/Q5/Q7), layout checks
(date-partitioning, Q6), and business rules (non-negative metrics,
top-k cardinality cap — Q8/Q9), rolled up into a pass/warn dict per
table (Q10, data_quality.py:122-155).

Implementation notes:
- ``table_report`` computes rows + per-column null counts in ONE
  aggregate pass (single job); the duplicate check is a second pass
  (groupBy-all-columns count — the distributed version of pandas
  ``df.duplicated().any()``, data_quality.py:22).
- The per-check functions return plain Python values and are actions
  (each executes the plan).
- The gold verdict needs no action of its own: ``GOLD_RULES`` become
  one list of aggregate columns per table (``gold_dq_columns``: rows,
  per-column null cells, the minimum of each non-negative column; the
  cardinality cap is ``rows <= max_rows``).  The pipeline attaches them
  to each gold write as an ``Observation`` (``observe_gold``), so the
  metrics arrive with the write job and ``observed_dq_report`` builds
  the report without running a job.  ``run_data_quality_checks`` runs
  the same columns as one ``agg`` per gold table for DataFrames that
  are not being written.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T


def table_report(df: DataFrame) -> dict[str, Any]:
    """Q1+Q3: row count, column count, total null cells — one pass."""
    aggs = [F.count(F.lit(1)).alias("__rows")] + [
        F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{i}")
        for i, c in enumerate(df.columns)
    ]
    row = df.agg(*aggs).first()
    nulls = sum(row[i + 1] or 0 for i in range(len(df.columns)))
    return {
        "row_count": row[0],
        "column_count": len(df.columns),
        "null_cells": int(nulls),
    }


def duplicate_row_count(df: DataFrame) -> int:
    """Q2: number of surplus full-row duplicates (reference
    data_quality.py:22,58 ``df.duplicated().any()``, as a count)."""
    return df.count() - df.dropDuplicates().count()


def key_is_unique(df: DataFrame, key: str) -> bool:
    """Q4: key uniqueness (reference data_quality.py:29)."""
    row = df.agg(
        F.count(key).alias("n"), F.countDistinct(key).alias("d")
    ).first()
    return row["n"] == row["d"] and df.filter(F.col(key).isNull()).count() == 0


def column_not_null(df: DataFrame, column: str) -> bool:
    """Q5: not-null constraint (reference data_quality.py:31)."""
    return df.filter(F.col(column).isNull()).count() == 0


def is_date_partitioned(df: DataFrame) -> bool:
    """Q6: layer files live under Hive ``date=`` partitions
    (reference data_quality.py:61)."""
    return any("date=" in f for f in df.inputFiles()) or "date" in df.columns


def column_is_timestamp(df: DataFrame, column: str) -> bool:
    """Q7: dtype assertion (reference data_quality.py:65-68)."""
    if column not in df.columns:
        return False
    return isinstance(
        df.schema[column].dataType,
        (T.TimestampType, T.TimestampNTZType, T.DateType),
    )


def column_non_negative(df: DataFrame, column: str) -> bool:
    """Q8: business rule — metric >= 0 (reference data_quality.py:99-111)."""
    if column not in df.columns:
        return True
    m = df.agg(F.min(column)).first()[0]
    return m is None or m >= 0


def cardinality_at_most(df: DataFrame, limit: int) -> bool:
    """Q9: cardinality cap, e.g. top_customers <= 10 rows
    (reference data_quality.py:107)."""
    return df.limit(limit + 1).count() <= limit


# Gold business rules mirrored from reference data_quality.py:99-111.
GOLD_RULES: dict[str, dict[str, Any]] = {
    "daily_sales_summary": {"non_negative": ["revenue", "total_orders", "total_items"]},
    "top_customers": {"non_negative": ["total_spent"], "max_rows": 10},
    "product_performance": {"non_negative": ["times_sold", "total_quantity"]},
    "store_performance": {"non_negative": ["total_revenue", "total_transactions"]},
}


def gold_dq_columns(table: str, columns: list[str]) -> list[Column]:
    """``GOLD_RULES[table]`` as aggregate columns over a table with
    ``columns``: ``rows``, ``nulls_<col>`` per column and ``min_<col>``
    per non-negative rule column present (Q1, Q3, Q8; Q9 is
    ``rows <= max_rows``)."""
    rules = GOLD_RULES.get(table, {})
    return (
        [F.count(F.lit(1)).alias("rows")]
        + [F.count_if(F.col(c).isNull()).alias(f"nulls_{c}") for c in columns]
        + [
            F.min(c).alias(f"min_{c}")
            for c in rules.get("non_negative", [])
            if c in columns
        ]
    )


def gold_table_dq(
    table: str, columns: list[str], values: dict[str, Any]
) -> dict[str, Any]:
    """One gold table's report entry from the values of its
    ``gold_dq_columns``."""
    rules = GOLD_RULES.get(table, {})
    rows = values["rows"]
    checks = [rows > 0]
    checks += [
        values[f"min_{c}"] is None or values[f"min_{c}"] >= 0
        for c in rules.get("non_negative", [])
        if c in columns
    ]
    if "max_rows" in rules:
        checks.append(rows <= rules["max_rows"])
    return {
        "row_count": rows,
        "column_count": len(columns),
        "null_cells": sum(values[f"nulls_{c}"] for c in columns),
        "passed": all(checks),
    }


def observe_gold(table: str, df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` carrying its gold DQ columns as an Observation: the first
    action on the returned DataFrame (the table's write) fills it."""
    obs = Observation()
    return df.observe(obs, *gold_dq_columns(table, df.columns)), obs


def observed_dq_report(
    observed: dict[str, tuple[list[str], Observation]],
) -> dict[str, Any]:
    """The gold report from observations whose actions have run
    (``{table: (columns, observation)}``); starts no Spark job."""
    return _rollup(
        {
            f"gold.{name}": gold_table_dq(name, cols, obs.get)
            for name, (cols, obs) in observed.items()
        }
    )


def _rollup(tables: dict[str, dict[str, Any]]) -> dict[str, Any]:
    return {
        "tables": tables,
        "all_passed": all(rep["passed"] for rep in tables.values()),
    }


def run_data_quality_checks(
    gold_tables: dict[str, DataFrame],
    silver_tables: dict[str, DataFrame] | None = None,
) -> dict[str, Any]:
    """Q10: the pass/warn rollup per table (reference
    run_data_quality_checks, data_quality.py:122-155).  One action per
    gold table (its ``gold_dq_columns``); silver tables add their
    duplicate and partitioning checks."""
    tables: dict[str, dict[str, Any]] = {}
    for name, df in (silver_tables or {}).items():
        rep = table_report(df)
        rep["duplicate_rows"] = duplicate_row_count(df)
        rep["date_partitioned"] = is_date_partitioned(df)
        rep["passed"] = rep["row_count"] > 0
        tables[f"silver.{name}"] = rep
    for name, df in gold_tables.items():
        values = df.agg(*gold_dq_columns(name, df.columns)).first().asDict()
        tables[f"gold.{name}"] = gold_table_dq(name, df.columns, values)
    return _rollup(tables)


def table_profile(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Long-form per-column statistics — the DataFrame upgrade of the
    reference's Glue-crawler metadata (glue_registry.py infers only
    names/types; real catalogs also publish per-column stats, which is
    what query planners prune and users eyeball first).

    Output: (column, n_rows, n_nulls, n_distinct, min_value, max_value)
    with min/max rendered as strings so one long-form result covers
    heterogeneous column types.

    Plan: ONE aggregate pass computes every column's null count, exact
    distinct count, and min/max (the distincts share the single
    expand); the wide 1-row result is then unpivoted driver-free with
    stack().  At extreme scale swap count_distinct for the HLL sketch
    (``functions.sketches``) — the plan shape (one pass, no joins) is
    the point."""
    cols = columns or df.columns
    aggs: list = [F.count(F.lit(1)).alias("n_rows")]
    for i, c in enumerate(cols):
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"nn_{i}"),
            F.count_distinct(F.col(c)).alias(f"nd_{i}"),
            F.min(F.col(c)).cast("string").alias(f"mn_{i}"),
            F.max(F.col(c)).cast("string").alias(f"mx_{i}"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', nn_{i}, nd_{i}, mn_{i}, mx_{i}" for i, c in enumerate(cols)
    )
    return wide.select(
        "n_rows",
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(column, n_nulls, n_distinct, min_value, max_value)"
        ),
    ).select("column", "n_rows", "n_nulls", "n_distinct", "min_value", "max_value")


def oracle_table_profile_sql(
    table: str, columns: list[str]
) -> str:
    selects = "\n        UNION ALL\n".join(
        f"""        SELECT '{c}' AS column,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM {table}) AS n_rows,
               CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_nulls,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(MIN({c}) AS VARCHAR) AS min_value,
               CAST(MAX({c}) AS VARCHAR) AS max_value
        FROM {table}"""
        for c in columns
    )
    return f"\n{selects}\n"
