"""End-to-end pipeline driver (reference dags/etl_retail_pipeline.py:93-158).

The reference's 9-task Airflow DAG collapses into one driver program
(SURVEY.md §3.1): extract (read fixtures / JDBC) -> silver (clean +
partitioned write) -> gold (lazy aggregation plans + write + register)
-> quality -> analytics (spark.sql).  Tasks share state via the
catalog / filesystem paths, exactly like the reference's volume.

With a ``work_dir`` each layer costs its writes and nothing more: the
six silver writes, then the four gold writes, are submitted together
(``functions.jobs.run_jobs``); the gold DQ metrics are observed on the
gold writes themselves (``quality.observe_gold``), so the quality step
runs no job; and the read-backs pass the schema just written, so they
run no schema-inference job.  Without one, quality runs one aggregate
per gold table.

Airflow-isms that don't port: retries (leave to the embedding
scheduler), XCom (plain return values), the S3 upload task (write to
s3a:// directly).
"""

from __future__ import annotations

import datetime as _dt
from functools import partial
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from retail_etl_pipeline_airflow_s3_athena_spark.functions import jobs, quality
from retail_etl_pipeline_airflow_s3_athena_spark.plans import (
    analytics,
    gold,
    retail_views,
    silver,
)
from retail_etl_pipeline_airflow_s3_athena_spark.sources import readers, writers


def run_pipeline(
    spark: SparkSession,
    source_dir: str,
    work_dir: str | None = None,
    run_date: str | _dt.date | None = None,
) -> dict[str, Any]:
    """Run the full medallion pipeline over the fixture tables.

    source_dir: a /root/testdata/sf* directory (the "PostgreSQL source").
    work_dir:   where silver/gold parquet land; None = in-memory only
                (skip the physical writes, keep the lazy plans).
    Returns {"gold": {name: DataFrame}, "quality": report,
             "analytics": {name: DataFrame}}.
    """
    # --- extract + map to retail shapes (reference extract_all_tables) ---
    st = retail_views.sale_transactions(spark, source_dir)
    cust = retail_views.customers(spark, source_dir)
    prod = retail_views.products(spark, source_dir)
    strs = retail_views.stores(spark, source_dir)

    # --- silver: clean + (optionally) partitioned write ------------------
    # nation/region play the reference's extracted-but-never-queried
    # tables (inventory, sales_managers — SURVEY.md §1.5): they pass
    # through silver so the 6-table extract shape is preserved.
    silver_tables = {
        "sale_transactions": silver.clean(st),
        "customers": silver.clean(cust),
        "products": silver.clean(prod),
        "stores": silver.clean(strs),
        "nation": silver.clean(spark.read.parquet(f"{source_dir}/nation.parquet")),
        "region": silver.clean(spark.read.parquet(f"{source_dir}/region.parquet")),
    }
    if work_dir:
        silver_dir = f"{work_dir}/silver"
        jobs.run_jobs(
            *(
                partial(writers.write_silver, df, silver_dir, name, run_date)
                for name, df in silver_tables.items()
            )
        )
        # read back through the partition-discovering source (S6)
        silver_tables = {
            name: readers.read_parquet_table(spark, silver_dir, name, df.schema)
            for name, df in silver_tables.items()
        }
        st = silver_tables["sale_transactions"].drop("date")
        cust = silver_tables["customers"].drop("date")
        prod = silver_tables["products"].drop("date")
        strs = silver_tables["stores"].drop("date")
    else:
        # Gold must read the CLEANED silver surface in both modes —
        # binding the raw views here would silently diverge from the
        # work_dir branch on dirty input (unparseable dates, numeric
        # nulls), breaking medallion semantics.
        st = silver_tables["sale_transactions"]
        cust = silver_tables["customers"]
        prod = silver_tables["products"]
        strs = silver_tables["stores"]

    # --- gold: the four business tables ----------------------------------
    gold_tables: dict[str, DataFrame] = {
        "daily_sales_summary": gold.daily_sales_summary(st),
        "top_customers": gold.top_customers(st, cust),
        "product_performance": gold.product_performance(st, prod),
        "store_performance": gold.store_performance(st, strs),
    }
    if work_dir:
        gold_dir = f"{work_dir}/gold"
        observed = {
            name: quality.observe_gold(name, df) for name, df in gold_tables.items()
        }
        jobs.run_jobs(
            *(
                partial(writers.write_gold, df, gold_dir, name)
                for name, (df, _) in observed.items()
            )
        )
        report = quality.observed_dq_report(
            {name: (df.columns, obs) for name, (df, obs) in observed.items()}
        )
        gold_tables = {
            name: readers.read_parquet_table(spark, gold_dir, name, df.schema)
            for name, df in gold_tables.items()
        }
    else:
        report = quality.run_data_quality_checks(gold_tables)

    # --- register + analytics --------------------------------------------
    for name, df in gold_tables.items():
        df.createOrReplaceTempView(name)
    # base retail views for queries that hit the silver surface directly
    st.createOrReplaceTempView("sale_transactions")
    cust.createOrReplaceTempView("customers")
    prod.createOrReplaceTempView("products")
    strs.createOrReplaceTempView("stores")
    analytics_results = {
        name: spark.sql(sql) for name, sql in analytics.ANALYTICS_SQL.items()
    }
    return {"gold": gold_tables, "quality": report, "analytics": analytics_results}
