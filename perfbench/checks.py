"""Output checks: Spark results against the package's DuckDB oracles on
the generated inputs, with the repo gate's comparison
(``tools/check_oracle.py``: row count, column names, order-insensitive
full-precision value hash)."""

from __future__ import annotations

import duckdb

from retail_etl_pipeline_airflow_s3_athena_spark.functions import quality
from retail_etl_pipeline_airflow_s3_athena_spark.plans import analytics, retail_views
from tools.check_oracle import _canon, _hash_rows

# The from-scratch gold SQL: what __spark_entry__.oracle_sql() uses for
# the gold tables and for the gold_store_* gates (the served store must
# equal a full recompute).  Building the whole oracle_sql() dict takes
# seconds (it materializes data-driven twins), so the same expressions
# are composed here from the same building blocks.
GOLD_ORACLES = {
    name: retail_views.with_retail_ctes(
        f"SELECT * FROM {name}", extra_ctes=analytics.GOLD_CTES
    )
    for name in ("daily_sales_summary", "top_customers",
                 "product_performance", "store_performance")
}


def row_fields(rows) -> list[str]:
    return list(rows[0].__fields__) if rows else []


class Oracle:
    """DuckDB over the generated parquet files, one view per table."""

    def __init__(self, input_dir: str, tables: list[str]):
        self.dir = input_dir
        self.con = duckdb.connect()
        self._cache: dict[str, tuple[list[str], list[tuple]]] = {}
        for t in tables:
            self.view(t)

    def view(self, table: str, where: str = "") -> None:
        """(Re)define a table's view, optionally filtered."""
        self.con.execute(
            f"CREATE OR REPLACE VIEW {table} AS SELECT * FROM "
            f"read_parquet('{self.dir}/{table}.parquet') {where}"
        )
        self._cache.clear()

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        if sql not in self._cache:
            res = self.con.execute(sql)
            self._cache[sql] = ([d[0] for d in res.description], res.fetchall())
        return self._cache[sql]

    def compare(self, cols: list[str], rows: list, sql: str) -> str | None:
        """None when Spark's (cols, rows) equal the oracle's, else why not."""
        dcols, drows = self.rows(sql)
        rows = [tuple(r) for r in rows]
        if len(rows) != len(drows):
            return f"rows {len(rows)} vs {len(drows)}"
        if rows and sorted(cols) != sorted(dcols):
            return f"cols {sorted(cols)} vs {sorted(dcols)}"
        if rows and _hash_rows(cols, rows) != _hash_rows(dcols, drows):
            first = next(((a, b) for a, b in zip(sorted(rows, key=_canon),
                                                 sorted(drows, key=_canon))
                          if _canon(a) != _canon(b)), None)
            return f"value-hash mismatch, first diff {first}"
        return None

    def expected_dq(self) -> dict:
        """The gold half of quality.run_data_quality_checks, recomputed
        from the oracle gold tables with the same rules."""
        tables = {}
        for name, sql in GOLD_ORACLES.items():
            cols, rows = self.rows(sql)
            rules = quality.GOLD_RULES.get(name, {})
            checks = [len(rows) > 0]
            for col in rules.get("non_negative", []):
                vals = [r[cols.index(col)] for r in rows]
                vals = [v for v in vals if v is not None]
                checks.append(not vals or min(vals) >= 0)
            if "max_rows" in rules:
                checks.append(len(rows) <= rules["max_rows"])
            tables[f"gold.{name}"] = {
                "row_count": len(rows),
                "column_count": len(cols),
                "null_cells": sum(v is None for r in rows for v in r),
                "passed": all(checks),
            }
        return {"tables": tables,
                "all_passed": all(t["passed"] for t in tables.values())}


def compare_dq(report: dict, expected: dict, dq_fault: bool) -> str | None:
    """The pipeline's DQ report against the recomputed one, and its
    verdict against the fault the generator injected."""
    if report["all_passed"] != (not dq_fault):
        return (f"all_passed={report['all_passed']} but the generator "
                f"{'injected' if dq_fault else 'did not inject'} a DQ fault")
    if report["all_passed"] != expected["all_passed"]:
        return "all_passed differs from the recomputed verdict"
    for name, exp in expected["tables"].items():
        got = {k: report["tables"].get(name, {}).get(k) for k in exp}
        if got != exp:
            return f"{name}: {got} vs expected {exp}"
    return None
