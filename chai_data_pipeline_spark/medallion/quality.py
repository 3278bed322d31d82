"""Config-driven data-quality rule engine.

The reference declares rules in config (reference: config/config.yaml:1-5
— shape {name, columns, rule: not_null}) but never consults them; the
actual 12 checks are hard-coded one-SQL-query-each
(scripts/silver/validate_silver.py:62-270). This module makes the
config-driven design real AND batches execution:

- a rule spec (dataclass / plain dict) compiles to a Column predicate;
- ALL predicate rules for a table run in ONE aggregation over ONE scan
  (``sum(when(pred,1))`` per rule) — the reference's 12 separate scans
  become 1-2 jobs, which at 100 TB is the difference between one pass
  and twelve;
- referential rules compile to left-anti joins (one small job each);
- freshness rules fold into the same single-pass aggregate via max(ts).

Outputs a results DataFrame (check_name, check_type, table_name,
failed_count, total_count, passed) + an aggregate quality score —
the same PASS/FAIL + percentage contract as the reference
(validate_silver.py:25-60), reproducible via the injected ``asof``.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F


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


def run_checks(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    rules: list[Rule],
    asof: str,
) -> DataFrame:
    """Execute all rules; returns the results DataFrame."""
    results: list[DataFrame] = []

    by_table: dict[str, list[Rule]] = {}
    for r in rules:
        by_table.setdefault(r.table, []).append(r)

    for table, t_rules in by_table.items():
        df = tables[table]
        agg_exprs: list[Column] = [F.count("*").alias("__total")]
        agg_rules: list[Rule] = []
        for r in t_rules:
            if r.rule_type in ("not_null", "format", "range", "business"):
                agg_exprs.append(
                    F.count_if(_violation_predicate(r)).alias(f"__v_{len(agg_rules)}")
                )
                agg_rules.append(r)
            elif r.rule_type == "freshness":
                agg_exprs.append(
                    F.max(F.col(r.ts_column)).alias(f"__f_{len(agg_rules)}")
                )
                agg_rules.append(r)

        if agg_rules:
            # the single fused pass: every predicate + freshness rule for
            # this table in one aggregation over one scan
            row_df = df.agg(*agg_exprs)
            parts = []
            for i, r in enumerate(agg_rules):
                if r.rule_type == "freshness":
                    age_h = (
                        F.lit(asof).cast("timestamp").cast("double")
                        - F.col(f"__f_{i}").cast("timestamp").cast("double")
                    ) / 3600.0
                    failed = F.when(
                        F.col(f"__f_{i}").isNull()
                        | (age_h > r.max_age_hours),
                        F.lit(1),
                    ).otherwise(0)
                else:
                    failed = F.col(f"__v_{i}")
                parts.append(
                    row_df.select(
                        F.lit(r.name).alias("check_name"),
                        F.lit(r.rule_type).alias("check_type"),
                        F.lit(table).alias("table_name"),
                        failed.cast("long").alias("failed_count"),
                        F.col("__total").cast("long").alias("total_count"),
                        (failed == 0).alias("passed"),
                    )
                )
            merged = parts[0]
            for p in parts[1:]:
                merged = merged.unionByName(p)
            results.append(merged)

        for r in t_rules:
            if r.rule_type == "referential":
                ref = tables[r.ref_table]
                orphans = df.join(ref, on=r.keys, how="left_anti")
                results.append(
                    orphans.agg(
                        F.count("*").alias("failed_count")
                    ).select(
                        F.lit(r.name).alias("check_name"),
                        F.lit("referential").alias("check_type"),
                        F.lit(table).alias("table_name"),
                        F.col("failed_count").cast("long"),
                        F.lit(None).cast("long").alias("total_count"),
                        (F.col("failed_count") == 0).alias("passed"),
                    )
                )
            elif r.rule_type == "unique":
                dups = (
                    df.groupBy(*r.keys)
                    .agg(F.count("*").alias("__n"))
                    .filter(F.col("__n") > 1)
                )
                results.append(
                    dups.agg(F.count("*").alias("failed_count")).select(
                        F.lit(r.name).alias("check_name"),
                        F.lit("unique").alias("check_type"),
                        F.lit(table).alias("table_name"),
                        F.col("failed_count").cast("long"),
                        F.lit(None).cast("long").alias("total_count"),
                        (F.col("failed_count") == 0).alias("passed"),
                    )
                )

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
