"""Config-driven data-quality rule engine.

The reference declares rules in config (reference: config/config.yaml:1-5
— shape {name, columns, rule: not_null}) but never consults them; the
actual 12 checks are hard-coded one-SQL-query-each
(scripts/silver/validate_silver.py:62-270). This module makes the
config-driven design real AND batches execution:

- a rule spec (dataclass / plain dict) compiles to a Column predicate;
- ALL predicate and freshness rules for a table run as ONE aggregation
  over ONE scan (``count_if(pred)`` per predicate rule, ``max(ts)`` per
  freshness rule). Its single row is unpivoted into one result row per
  rule by ONE projection, ``inline(array(struct(...) per rule))``. A
  union of per-rule selects over that row would not do: column pruning
  gives each branch its own aggregate, so the table would be scanned
  once per rule. The reference's 12 separate scans become one scan per
  table, which at 100 TB is the difference between one pass and twelve;
- referential rules compile to left-anti joins and unique rules to a
  grouped count (one small job each).

Outputs a results DataFrame (check_name, check_type, table_name,
failed_count, total_count, passed; empty when no rule applies) + an
aggregate quality score —
the same PASS/FAIL + percentage contract as the reference
(validate_silver.py:25-60), reproducible via the injected ``asof``.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .frames import literal_frame


@dataclass
class Rule:
    name: str
    rule_type: str  # not_null | format | range | business | referential |
    #               # freshness | unique
    table: str
    column: Optional[str] = None
    pattern: Optional[str] = None  # format
    min_value: Optional[str] = None  # range (SQL literal)
    max_value: Optional[str] = None
    predicate: Optional[str] = None  # business: SQL expr counting VIOLATIONS
    ref_table: Optional[str] = None  # referential
    keys: list[str] = field(default_factory=list)
    max_age_hours: Optional[float] = None  # freshness
    ts_column: Optional[str] = None


def rules_from_config(cfg: list[dict]) -> list[Rule]:
    """Accept the reference's config shape ({name, columns, rule}) and
    the extended shape; one Rule per (rule, column)."""
    out: list[Rule] = []
    for item in cfg:
        rtype = item.get("rule", item.get("rule_type", "not_null"))
        cols = item.get("columns") or [item.get("column")]
        for col in cols:
            out.append(
                Rule(
                    name=f"{item['name']}_{col}" if len(cols) > 1 else item["name"],
                    rule_type=rtype,
                    table=item.get("table", item["name"].split("_")[0]),
                    column=col,
                    pattern=item.get("pattern"),
                    min_value=item.get("min_value"),
                    max_value=item.get("max_value"),
                    predicate=item.get("predicate"),
                    ref_table=item.get("ref_table"),
                    keys=item.get("keys", []),
                    max_age_hours=item.get("max_age_hours"),
                    ts_column=item.get("ts_column"),
                )
            )
    return out


def _violation_predicate(rule: Rule) -> Column:
    c = F.col(rule.column) if rule.column else None
    if rule.rule_type == "not_null":
        return c.isNull()
    if rule.rule_type == "format":
        return c.isNotNull() & ~c.rlike(rule.pattern)
    if rule.rule_type == "range":
        pred = F.lit(False)
        if rule.min_value is not None:
            pred = pred | (c < F.expr(rule.min_value))
        if rule.max_value is not None:
            pred = pred | (c > F.expr(rule.max_value))
        return pred
    if rule.rule_type == "business":
        return F.expr(rule.predicate)
    raise ValueError(f"not a predicate rule: {rule.rule_type}")


RESULTS_SCHEMA = StructType([
    StructField("check_name", StringType()),
    StructField("check_type", StringType()),
    StructField("table_name", StringType()),
    StructField("failed_count", LongType()),
    StructField("total_count", LongType()),
    StructField("passed", BooleanType()),
])


def _result(
    r: Rule, table: str, failed: Column, total: Column | None = None
) -> Column:
    """One results row for rule ``r`` as a struct in RESULTS_SCHEMA order."""
    failed = failed.cast("long")
    return F.struct(
        F.lit(r.name).alias("check_name"),
        F.lit(r.rule_type).alias("check_type"),
        F.lit(table).alias("table_name"),
        failed.alias("failed_count"),
        (F.lit(None) if total is None else total).cast("long").alias("total_count"),
        (failed == 0).alias("passed"),
    )


def run_checks(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    rules: list[Rule],
    asof: str,
) -> DataFrame:
    """Execute all rules; returns the results DataFrame (RESULTS_SCHEMA,
    empty when no rule applies)."""
    results: list[DataFrame] = []

    by_table: dict[str, list[Rule]] = {}
    for r in rules:
        by_table.setdefault(r.table, []).append(r)

    for table, t_rules in by_table.items():
        df = tables[table]
        agg_exprs: list[Column] = [F.count("*").alias("__total")]
        agg_rows: list[Column] = []
        for r in t_rules:
            i = len(agg_rows)
            if r.rule_type in ("not_null", "format", "range", "business"):
                agg_exprs.append(
                    F.count_if(_violation_predicate(r)).alias(f"__v_{i}")
                )
                failed = F.col(f"__v_{i}")
            elif r.rule_type == "freshness":
                agg_exprs.append(F.max(F.col(r.ts_column)).alias(f"__f_{i}"))
                age_h = (
                    F.lit(asof).cast("timestamp").cast("double")
                    - F.col(f"__f_{i}").cast("timestamp").cast("double")
                ) / 3600.0
                failed = F.when(
                    F.col(f"__f_{i}").isNull() | (age_h > r.max_age_hours),
                    F.lit(1),
                ).otherwise(0)
            else:
                continue
            agg_rows.append(_result(r, table, failed, F.col("__total")))

        if agg_rows:
            # the single fused pass: one aggregation over one scan, then
            # one projection that unpivots its row into one row per rule
            row_df = df.agg(*agg_exprs)
            results.append(row_df.select(F.inline(F.array(*agg_rows))))

        for r in t_rules:
            if r.rule_type == "referential":
                bad = df.join(tables[r.ref_table], on=r.keys, how="left_anti")
            elif r.rule_type == "unique":
                bad = (
                    df.groupBy(*r.keys)
                    .agg(F.count("*").alias("__n"))
                    .filter(F.col("__n") > 1)
                )
            else:
                continue
            results.append(
                bad.agg(F.count("*").alias("__failed")).select(
                    F.inline(F.array(_result(r, table, F.col("__failed"))))
                )
            )

    if not results:
        return literal_frame(spark, RESULTS_SCHEMA, [])
    out = results[0]
    for r_df in results[1:]:
        out = out.unionByName(r_df)
    return out


def score_of(rows: Sequence[Row]) -> float:
    """passed/total percentage over collected result rows (reference:
    validate_silver.py:48-53)."""
    passed = sum(1 for r in rows if r.passed)
    return round(100.0 * passed / len(rows), 2) if rows else 100.0


def quality_score(results: DataFrame) -> float:
    """:func:`score_of` over a results DataFrame."""
    return score_of(results.select("passed").collect())


# The reference's 12 hard-coded checks, as config
# (reference: scripts/silver/validate_silver.py:62-270)
REFERENCE_RULES: list[dict] = [
    {"name": "users_id_not_null", "table": "clean_users",
     "rule": "not_null", "columns": ["user_id"]},
    {"name": "users_email_not_null", "table": "clean_users",
     "rule": "not_null", "columns": ["email"]},
    {"name": "covid_date_not_null", "table": "clean_covid",
     "rule": "not_null", "columns": ["record_date"]},
    {"name": "covid_country_not_null", "table": "clean_covid",
     "rule": "not_null", "columns": ["country"]},
    {"name": "users_email_format", "table": "clean_users", "rule": "format",
     "columns": ["email"],
     "pattern": r"(?i)^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$"},
    {"name": "covid_date_range", "table": "clean_covid", "rule": "range",
     "columns": ["record_date"], "min_value": "DATE '2019-12-01'",
     "max_value": "DATE '2024-03-02'"},
    {"name": "posts_user_fk", "table": "clean_posts", "rule": "referential",
     "columns": [None], "ref_table": "clean_users", "keys": ["user_id"]},
    {"name": "covid_no_negatives", "table": "clean_covid", "rule": "business",
     "columns": [None],
     "predicate": "confirmed < 0 OR recovered < 0 OR deaths < 0"},
    {"name": "covid_deaths_lte_confirmed", "table": "clean_covid",
     "rule": "business", "columns": [None],
     "predicate": "deaths > confirmed"},
    {"name": "covid_rate_bounds", "table": "clean_covid", "rule": "business",
     "columns": [None],
     "predicate": "mortality_rate > 100 OR recovery_rate > 100"},
    {"name": "users_freshness", "table": "clean_users", "rule": "freshness",
     "columns": [None], "ts_column": "processing_timestamp",
     "max_age_hours": 24.0},
    {"name": "covid_freshness", "table": "clean_covid", "rule": "freshness",
     "columns": [None], "ts_column": "processing_timestamp",
     "max_age_hours": 24.0},
]
