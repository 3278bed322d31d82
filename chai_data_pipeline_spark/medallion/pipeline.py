"""Medallion orchestrator: bronze → silver (+DQ) → gold with fail-fast
sequencing and a JSON execution journal.

Same contract as the reference driver
(reference: orchestration/medallion_pipeline.py:180-237 run_pipeline,
:50-61 metadata journal): per-layer status + duration + record counts,
stop on first layer failure, journal persisted as JSON. The execution
substrate is one SparkSession and a parquet lake instead of
pandas+Postgres+MinIO.

Each table is computed once, and every Spark job of a write run lands
a table, apart from the one DQ ``collect`` and the listing of the
landing files. The parquet lake is the materialization: after a layer
writes a table, the next layer, the DQ pass and dependent gold views
read the lake copy instead of re-running the plan that produced it.
The journal's record counts and the bronze ``_lineage`` values
(record count, file count, latest ingestion time) are metrics observed
on the writes themselves, so they cost no pass of their own. The DQ
results are collected once; ``_dq_logs``, ``_lineage`` and
``daily_aggregates`` are written from driver-side values as
one-partition literal frames. With ``write=False`` nothing is landed,
every step runs on the in-memory plans and the counts are ``count()``
jobs.

Usage:
    python -m chai_data_pipeline_spark.medallion.pipeline \
        --landing tests/fixtures --lake /tmp/lake
"""

from __future__ import annotations

import argparse
import json
import os
import time
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..sources.writers import overwrite_table
from . import bronze as bronze_mod
from . import gold as gold_mod
from . import quality as quality_mod
from . import silver as silver_mod
from .frames import literal_frame


def run_pipeline(
    spark: SparkSession,
    landing_dir: str,
    lake_dir: str,
    asof: str | None = None,
    write: bool = True,
) -> dict:
    """Run the full pipeline; returns the journal dict."""
    asof = asof or datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
    journal: dict = {
        "pipeline": "chai_data_pipeline_spark",
        "started_at": datetime.now(timezone.utc).isoformat(),
        "asof": asof,
        "layers": {},
        "status": "RUNNING",
    }

    def fail(layer: str, exc: Exception) -> dict:
        journal["layers"][layer] = {"status": "FAILED", "error": str(exc)}
        journal["status"] = "FAILED"
        _write_journal(journal, lake_dir)
        return journal

    # per layer: the lake copy (or, without write, the plan) of each
    # landed table, and its record count
    tables: dict[str, dict[str, DataFrame]] = {}
    records: dict[str, dict[str, int]] = {}

    def land(
        layer: str,
        name: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        metrics: list[Column] | None = None,
    ) -> dict:
        """Write ``df`` as ``<layer>/<name>`` and store the lake copy in
        ``tables[layer][name]``, so every later step scans the written
        files instead of recomputing ``df``. The read pins ``df``'s
        schema: partition column types are not re-inferred from
        directory names. ``metrics`` (default: the record count) are
        observed on the write itself, so taking them runs no job of its
        own; they are returned, and ``record_count`` goes to
        ``records[layer][name]``. With ``write=False`` the plan itself
        is stored and counted."""
        if write:
            obs = Observation()
            metrics = metrics or [F.count(F.lit(1)).alias("record_count")]
            path = os.path.join(lake_dir, layer, name)
            overwrite_table(df.observe(obs, *metrics), path, partition_by)
            df = spark.read.schema(df.schema).parquet(path)
            observed = obs.get
        else:
            observed = {"record_count": df.count()}
        tables.setdefault(layer, {})[name] = df
        records.setdefault(layer, {})[name] = observed["record_count"]
        return observed

    # ---- bronze ----------------------------------------------------------
    t0 = time.perf_counter()
    try:
        br = bronze_mod.load_bronze(spark, landing_dir, lineage=False)
        lineage = {
            name: land("bronze", name, df,
                       ["date"] if name == "covid" else None,
                       bronze_mod.lineage_metrics())
            for name, df in br.tables.items()
        }
        if write and lineage:
            # observed metrics come back in lineage_metrics() order
            overwrite_table(
                literal_frame(spark, bronze_mod.LINEAGE_SCHEMA, [
                    (name, *m.values()) for name, m in lineage.items()
                ]),
                os.path.join(lake_dir, "bronze", "_lineage"),
            )
        journal["layers"]["bronze"] = {
            "status": "SUCCESS",
            "duration_seconds": round(time.perf_counter() - t0, 2),
            "records": records.get("bronze", {}),
            "unknown_files": br.unknown_files,
        }
    except Exception as exc:  # noqa: BLE001 — fail-fast journal contract
        return fail("bronze", exc)

    # ---- silver ----------------------------------------------------------
    t0 = time.perf_counter()
    try:
        bronze_tables = tables.get("bronze", {})
        for src, name, transform in (
            ("users", "clean_users", silver_mod.transform_users),
            ("posts", "clean_posts", silver_mod.transform_posts),
            ("covid", "clean_covid", silver_mod.transform_covid),
            ("telco", "clean_telco", silver_mod.transform_telco),
        ):
            if src in bronze_tables:
                land("silver", name, transform(bronze_tables[src], asof),
                     ["record_date"] if name == "clean_covid" else None)
        silver_tables = tables.get("silver", {})
        journal["layers"]["silver"] = {
            "status": "SUCCESS",
            "duration_seconds": round(time.perf_counter() - t0, 2),
            "records": records.get("silver", {}),
        }
    except Exception as exc:  # noqa: BLE001
        return fail("silver", exc)

    # ---- data quality ----------------------------------------------------
    t0 = time.perf_counter()
    try:
        rules = quality_mod.rules_from_config(quality_mod.REFERENCE_RULES)
        rules = [r for r in rules if r.table in silver_tables]
        results = quality_mod.run_checks(spark, silver_tables, rules, asof)
        rows = results.collect()
        score = quality_mod.score_of(rows)
        if write:
            overwrite_table(
                literal_frame(spark, quality_mod.RESULTS_SCHEMA, rows),
                os.path.join(lake_dir, "silver", "_dq_logs"),
            )
        journal["layers"]["quality"] = {
            "status": "SUCCESS",
            "duration_seconds": round(time.perf_counter() - t0, 2),
            "quality_score": score,
            "checks": [row.asDict() for row in rows],
        }
    except Exception as exc:  # noqa: BLE001
        return fail("quality", exc)

    # ---- gold ------------------------------------------------------------
    t0 = time.perf_counter()
    try:
        if "clean_covid" in silver_tables:
            cc = silver_tables["clean_covid"]
            land("gold", "daily_covid_summary",
                 gold_mod.daily_covid_summary(cc))
            land("gold", "covid_country_trends",
                 gold_mod.covid_country_trends(cc))
            land("gold", "covid_global_summary",
                 gold_mod.covid_global_summary(
                     cc, data_quality_score=int(round(score))
                 ))
            land("gold", "v_data_completeness",
                 gold_mod.v_data_completeness(
                     tables["gold"]["covid_global_summary"]
                 ))
            land("gold", "v_trend_analysis", gold_mod.v_trend_analysis(cc))
        if "clean_users" in silver_tables:
            cu = silver_tables["clean_users"]
            land("gold", "user_company_analysis",
                 gold_mod.user_company_analysis(cu))
            land("gold", "user_analytics_summary",
                 gold_mod.user_analytics_summary(cu, asof.split(" ")[0]))
            if "clean_posts" in silver_tables:
                land("gold", "user_engagement_metrics",
                     gold_mod.user_engagement_metrics(
                         cu, silver_tables["clean_posts"]
                     ))
        journal["layers"]["gold"] = {
            "status": "SUCCESS",
            "duration_seconds": round(time.perf_counter() - t0, 2),
            "records": records.get("gold", {}),
        }
        # daily_aggregates derives FROM the journal (per-layer counts,
        # quality score, durations) — built after the gold journal
        # entry so its own row is not self-counted.
        da = gold_mod.daily_aggregates(spark, journal, asof)
        if write:
            overwrite_table(
                da, os.path.join(lake_dir, "gold", "daily_aggregates")
            )
    except Exception as exc:  # noqa: BLE001
        return fail("gold", exc)

    journal["status"] = "SUCCESS"
    journal["finished_at"] = datetime.now(timezone.utc).isoformat()
    _write_journal(journal, lake_dir)
    return journal


def _write_journal(journal: dict, lake_dir: str) -> None:
    os.makedirs(lake_dir, exist_ok=True)
    with open(os.path.join(lake_dir, "pipeline_metadata.json"), "w") as fh:
        json.dump(journal, fh, indent=2, default=str)


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--landing", required=True, help="landing files dir")
    parser.add_argument("--lake", required=True, help="output lake dir")
    parser.add_argument("--asof", default=None, help="pinned as-of timestamp")
    args = parser.parse_args()

    from ..session import get_spark

    spark = get_spark("chai-medallion")
    journal = run_pipeline(spark, args.landing, args.lake, args.asof)
    print(json.dumps(journal, indent=2, default=str))
    raise SystemExit(0 if journal["status"] == "SUCCESS" else 1)


if __name__ == "__main__":
    main()
