"""`create_sensitive_tier` — fixed-list PII-tier extraction.

A hard-coded 18-column projection (``Connect_ID`` + 17 concept IDs) into a
restricted-access table.  Parity:
/root/reference/core/transformations.py:785-830 (column list :792-797).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame

from .. import config
from ..expressions import Clause, passthrough, render_select_sql
from ..plans.audit import audit_path_for, save_sql_string
from ..sources.catalog import Catalog


def compose_sensitive_tier() -> list[Clause]:
    return [passthrough(c) for c in config.SENSITIVE_TIER_COLUMNS]


def sensitive_tier_df(df: DataFrame) -> DataFrame:
    """Select the sensitive-tier columns; fails analysis if any is missing,
    matching the reference's failure mode on absent columns."""
    return df.selectExpr(*[c.sql for c in compose_sensitive_tier()])


def create_sensitive_tier(
    catalog: Catalog,
    source_table: str,
    destination_table: str,
    audit_dir: Optional[str] = None,
) -> dict:
    df = catalog.read(source_table)
    clauses = compose_sensitive_tier()
    sql_path = None
    if audit_dir:
        sql = render_select_sql(clauses, source_table, destination_table)
        sql_path = save_sql_string(sql, audit_path_for(destination_table, audit_dir))
    catalog.write(df.selectExpr(*[c.sql for c in clauses]), destination_table)
    return {
        "status": f"Table {destination_table} successfully created with all transformations applied",
        "submitted_sql_path": sql_path,
    }
