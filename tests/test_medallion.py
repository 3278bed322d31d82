"""Golden pipeline tests: bronze→silver→gold over FIXTURES.md-shaped
miniature inputs (SURVEY §5.2/5.3), asserting layer contents and that
the DQ engine reports the planted violations."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")
ASOF = "2024-03-01 12:00:00"


@pytest.fixture(scope="module")
def journal_and_lake(spark, tmp_path_factory):
    from chai_data_pipeline_spark.medallion.pipeline import run_pipeline

    lake = str(tmp_path_factory.mktemp("lake"))
    journal = run_pipeline(spark, FIXTURES, lake, asof=ASOF)
    return journal, lake


def test_pipeline_succeeds_with_journal(journal_and_lake):
    journal, lake = journal_and_lake
    assert journal["status"] == "SUCCESS"
    assert set(journal["layers"]) == {"bronze", "silver", "quality", "gold"}
    assert os.path.exists(os.path.join(lake, "pipeline_metadata.json"))


def test_bronze_routing_and_counts(journal_and_lake):
    journal, _ = journal_and_lake
    rec = journal["layers"]["bronze"]["records"]
    assert rec["users"] == 11  # 10 distinct + 1 duplicate id
    assert rec["posts"] == 20
    assert rec["covid"] == 40  # 36 series rows + 4 quirk rows
    assert rec["telco"] == 5
    assert journal["layers"]["bronze"]["unknown_files"] == []


def test_bronze_lineage_describes_landed_tables(spark, journal_and_lake):
    """``_lineage`` is aggregated from the bronze tables as landed: its
    ``ingested_at`` is their max ``ingestion_timestamp`` (not a later
    evaluation of ``current_timestamp()``) and its ``record_count`` is
    the journal's bronze count."""
    journal, lake = journal_and_lake
    counts = journal["layers"]["bronze"]["records"]
    lineage = {
        r.dataset: r
        for r in spark.read.parquet(
            os.path.join(lake, "bronze", "_lineage")
        ).collect()
    }
    assert set(lineage) == set(counts)
    for ds, n in counts.items():
        landed = spark.read.parquet(os.path.join(lake, "bronze", ds))
        latest = landed.agg(F.max("ingestion_timestamp")).first()[0]
        assert lineage[ds].ingested_at == latest, ds
        assert lineage[ds].record_count == n, ds


def test_dq_logs_match_journal(spark, journal_and_lake):
    """``_dq_logs`` holds exactly the journal's checks, in one file, and
    the journal's score is the score of those rows."""
    from chai_data_pipeline_spark.medallion.quality import quality_score

    journal, lake = journal_and_lake
    quality = journal["layers"]["quality"]
    logs = spark.read.parquet(os.path.join(lake, "silver", "_dq_logs"))
    assert len(logs.inputFiles()) == 1

    def by_name(checks):
        return sorted(checks, key=lambda c: c["check_name"])

    assert by_name(r.asDict() for r in logs.collect()) == by_name(
        quality["checks"]
    )
    assert quality["quality_score"] == quality_score(logs)


def test_pipeline_without_write_matches_write_run(
    spark, journal_and_lake, tmp_path
):
    """``write=False`` runs every layer on the in-memory plans: same
    records, checks and score as the write run, and no table landed."""
    from chai_data_pipeline_spark.medallion.pipeline import run_pipeline

    journal, _ = journal_and_lake
    lake = tmp_path / "lake"
    dry = run_pipeline(spark, FIXTURES, str(lake), asof=ASOF, write=False)
    assert dry["status"] == "SUCCESS"
    for layer in ("bronze", "silver", "gold"):
        assert dry["layers"][layer]["records"] == (
            journal["layers"][layer]["records"]
        ), layer
    for key in ("checks", "quality_score"):
        assert dry["layers"]["quality"][key] == (
            journal["layers"]["quality"][key]
        )
    assert os.listdir(lake) == ["pipeline_metadata.json"]


def test_silver_users_cleaning(spark, journal_and_lake):
    _, lake = journal_and_lake
    users = spark.read.parquet(os.path.join(lake, "silver", "clean_users"))
    rows = {r.user_id: r for r in users.collect()}
    assert len(rows) == 10  # dup id=1 collapsed deterministically
    assert rows[1].email.startswith("user1@") or rows[1].email == "dup1@example.com"
    # email normalization + validation
    assert rows[2].email == "user2@example.com" and rows[2].email_valid
    assert rows[9].email_valid is False  # no dot in domain
    assert rows[9].phone_valid is False  # no digits
    assert rows[2].email_domain == "example.com"
    # nested geo cast with 0.0 default for missing address
    assert rows[10].latitude == 0.0 and rows[10].longitude == 0.0
    # quality scoring penalizes the bad rows
    assert rows[9].data_quality_score <= 50
    assert rows[2].data_quality_score == 100


def test_silver_posts_realized_spec(spark, journal_and_lake):
    _, lake = journal_and_lake
    posts = spark.read.parquet(os.path.join(lake, "silver", "clean_posts"))
    rows = {r.post_id: r for r in posts.collect()}
    assert rows[5].has_links is True
    assert all(not rows[i].has_links for i in rows if i != 5)
    assert rows[1].word_count > 0
    assert rows[1].avg_word_length > 0


def test_silver_covid_windows_per_series(spark, journal_and_lake):
    _, lake = journal_and_lake
    covid = spark.read.parquet(os.path.join(lake, "silver", "clean_covid"))
    a_p1 = (
        covid.filter((F.col("country") == "CountryA") & (F.col("province") == "P1"))
        .orderBy("record_date")
        .collect()
    )
    # diffs are per (country, province) series — first row 0, then the
    # planted +10/+20/+30 cycle
    assert a_p1[0].daily_new_cases == 0
    assert [r.daily_new_cases for r in a_p1[1:4]] == [20, 30, 10]
    # rolling mean over partial leading frame
    assert a_p1[1].weekly_avg_cases == pytest.approx((0 + 20) / 2, abs=0.01)
    # province interleaving must NOT leak across series (SURVEY §7.4.2)
    b = {
        str(r.record_date): r
        for r in covid.filter(
            (F.col("country") == "CountryB") & F.col("province").isNull()
        ).collect()
    }
    # steady +20/day within the series (2018 quirk row precedes the run)
    assert b["2020-03-02"].daily_new_cases == 20
    assert b["2020-03-03"].daily_new_cases == 20


def test_quality_engine_catches_planted_violations(journal_and_lake):
    journal, _ = journal_and_lake
    checks = {c["check_name"]: c for c in journal["layers"]["quality"]["checks"]}
    assert checks["covid_deaths_lte_confirmed"]["failed_count"] == 3
    assert checks["covid_no_negatives"]["failed_count"] == 1
    assert checks["covid_date_range"]["failed_count"] == 1  # 2018 row
    assert checks["covid_rate_bounds"]["failed_count"] >= 1
    assert checks["posts_user_fk"]["failed_count"] == 1  # orphan userId=999
    assert checks["users_email_format"]["failed_count"] == 1
    assert checks["users_id_not_null"]["passed"] is True
    assert checks["users_freshness"]["passed"] is True
    score = journal["layers"]["quality"]["quality_score"]
    assert 0 < score < 100


def test_gold_models(spark, journal_and_lake):
    _, lake = journal_and_lake
    trends = {
        r.country: r
        for r in spark.read.parquet(
            os.path.join(lake, "gold", "covid_country_trends")
        ).collect()
    }
    assert set(trends) == {"CountryA", "CountryB"}
    assert trends["CountryA"].trend_direction in {
        "INCREASING", "DECREASING", "STABLE",
    }
    glob = spark.read.parquet(
        os.path.join(lake, "gold", "covid_global_summary")
    ).collect()
    assert len(glob) == 1
    assert glob[0].top_5_countries.startswith("[{")
    # reference-declared columns (model_gold.py:61-67): rates are
    # 0..100 percentages; score is the pipeline's real quality score
    assert 0.0 <= glob[0].global_mortality_rate <= 100.0
    assert 0.0 <= glob[0].global_recovery_rate <= 100.0
    assert 0 < glob[0].data_quality_score <= 100
    comp = spark.read.parquet(
        os.path.join(lake, "gold", "v_data_completeness")
    ).collect()
    assert len(comp) == 1
    assert 0.0 <= comp[0].survival_rate <= 100.0
    assert 0.0 <= comp[0].recovery_percentage <= 100.0
    assert comp[0].total_confirmed == glob[0].total_confirmed
    ta = spark.read.parquet(
        os.path.join(lake, "gold", "v_trend_analysis")
    )
    rows = {(r.country, str(r.trend_date)): r for r in ta.collect()}
    assert len(rows) > 0
    # lag-1 semantics: daily_increase == confirmed - prev_day where a
    # previous day exists; first day of each country has NULL prev
    for r in rows.values():
        if r.prev_day_cases is not None:
            assert r.daily_increase == r.confirmed_cases - r.prev_day_cases
        if r.prev_week_cases is None or r.prev_week_cases <= 0:
            assert r.weekly_growth_percent is None
    da = spark.read.parquet(
        os.path.join(lake, "gold", "daily_aggregates")
    ).collect()
    assert len(da) == 1
    assert da[0].total_records_processed == (
        da[0].bronze_records + da[0].silver_records + da[0].gold_records
    )
    assert da[0].data_sources_processed >= 3
    assert 0 < da[0].data_quality_score <= 100
    eng = spark.read.parquet(
        os.path.join(lake, "gold", "user_engagement_metrics")
    )
    assert eng.count() == 10
    assert set(eng.select("activity_level").distinct().toPandas()["activity_level"]) <= {
        "HIGH", "MEDIUM", "LOW",
    }


def test_telco_generic_path(spark, journal_and_lake):
    _, lake = journal_and_lake
    telco = spark.read.parquet(os.path.join(lake, "silver", "clean_telco"))
    rows = {r.customer_id: r for r in telco.collect()}
    assert len(rows) == 5
    assert rows["0004-D"].total_charges == 0.0  # blank coerced
    assert rows["0005-E"].gender == "Se\xf1or"  # latin-1 fallback decoded
    assert rows["0002-B"].tenure_bucket == "1-3y"


def test_rules_from_reference_config_shape(spark):
    """The reference's own config.yaml rule shape compiles and runs."""
    from chai_data_pipeline_spark.medallion.quality import (
        quality_score,
        rules_from_config,
        run_checks,
    )

    df = spark.createDataFrame(
        [(1, "a@b.co"), (None, "bad")], ["user_id", "email"]
    )
    rules = rules_from_config(
        [
            {"name": "users_not_null", "table": "users", "rule": "not_null",
             "columns": ["user_id", "email"]},
        ]
    )
    res = run_checks(spark, {"users": df}, rules, ASOF)
    rows = {r.check_name: r for r in res.collect()}
    assert rows["users_not_null_user_id"].failed_count == 1
    assert rows["users_not_null_email"].failed_count == 0
    assert quality_score(res) == 50.0


def test_partition_pruning_on_covid_lake(spark, journal_and_lake):
    """The covid silver table partitions by record_date (the index
    replacement, SURVEY §2.9 M5) — a date filter must prune partitions
    at the scan, not filter rows after reading everything."""
    import os

    _, lake = journal_and_lake
    covid = spark.read.parquet(os.path.join(lake, "silver", "clean_covid"))
    pruned = covid.filter(F.col("record_date") == "2020-03-05")
    plan = pruned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PartitionFilters: [" in plan
    assert "record_date" in plan.split("PartitionFilters:")[1].split("]")[0]
    assert pruned.count() == 3  # P1, P2, CountryB


def test_quality_rule_types_unique_range_format(spark):
    """Rule types not exercised by the reference's 12 checks: unique,
    range with both bounds, format."""
    from chai_data_pipeline_spark.medallion.quality import (
        rules_from_config,
        run_checks,
    )

    df = spark.createDataFrame(
        [(1, "a@b.co", 5), (1, "x", 500), (2, "c@d.io", -3)],
        ["id", "email", "amount"],
    )
    rules = rules_from_config(
        [
            {"name": "t_unique", "table": "t", "rule": "unique",
             "columns": [None], "keys": ["id"]},
            {"name": "t_amount_range", "table": "t", "rule": "range",
             "columns": ["amount"], "min_value": "0", "max_value": "100"},
            {"name": "t_email_format", "table": "t", "rule": "format",
             "columns": ["email"],
             "pattern": r"^[^@]+@[^@]+\.[a-z]+$"},
        ]
    )
    res = {r.check_name: r for r in run_checks(spark, {"t": df}, rules, ASOF).collect()}
    assert res["t_unique"].failed_count == 1      # id=1 duplicated
    assert res["t_amount_range"].failed_count == 2  # 500 and -3
    assert res["t_email_format"].failed_count == 1  # "x"


def test_land_url_file_scheme(tmp_path):
    """S1/S2 fetch step: land_url pulls a remote resource into the
    landing dir (file:// here; https in production — same code path)."""
    from chai_data_pipeline_spark.medallion.bronze import land_url

    src = tmp_path / "remote.json"
    src.write_text('[{"id": 1}]')
    dest_dir = tmp_path / "landing"
    out = land_url(src.as_uri(), str(dest_dir), "users_fetched.json")
    assert os.path.exists(out)
    with open(out) as fh:
        assert fh.read() == '[{"id": 1}]'


def _landing(tmp_path, users_json: str | None = None, only: str = "") -> str:
    """A copy of the fixture landing dir: only the files whose name
    starts with ``only``, and ``users_json`` as the users file's text."""
    import shutil

    landing = tmp_path / "landing"
    landing.mkdir()
    for name in os.listdir(FIXTURES):
        if name.startswith(only):
            shutil.copy(os.path.join(FIXTURES, name), landing / name)
            if users_json is not None and name.startswith("users_"):
                (landing / name).write_text(users_json)
    return str(landing)


def test_telco_only_landing_has_no_checks(spark, tmp_path):
    """No rule applies to a landing dir of telco files alone: the DQ
    layer lands an empty ``_dq_logs`` and scores 100."""
    from chai_data_pipeline_spark.medallion.pipeline import run_pipeline

    lake = str(tmp_path / "lake")
    journal = run_pipeline(
        spark, _landing(tmp_path, only="Telco-"), lake, asof=ASOF
    )
    assert journal["status"] == "SUCCESS", journal
    assert journal["layers"]["silver"]["records"] == {"clean_telco": 5}
    assert journal["layers"]["quality"]["checks"] == []
    assert journal["layers"]["quality"]["quality_score"] == 100.0
    logs = spark.read.parquet(os.path.join(lake, "silver", "_dq_logs"))
    assert logs.columns == [
        "check_name", "check_type", "table_name",
        "failed_count", "total_count", "passed",
    ]
    assert logs.count() == 0


def test_run_checks_scans_each_table_once(spark, journal_and_lake):
    """The predicate and freshness rules of a table run as one
    aggregate over one scan: in the executed plan ``clean_covid`` is
    scanned once, and ``clean_users`` twice (the fused aggregate and
    the ``posts_user_fk`` anti-join). Counted in the final adaptive
    plan only, not in its "Initial Plan" section."""
    from chai_data_pipeline_spark.medallion.quality import (
        REFERENCE_RULES,
        rules_from_config,
        run_checks,
    )

    _, lake = journal_and_lake
    silver = os.path.join(lake, "silver")
    tables = {
        name: spark.read.parquet(os.path.join(silver, name))
        for name in ("clean_users", "clean_posts", "clean_covid", "clean_telco")
    }
    results = run_checks(
        spark, tables, rules_from_config(REFERENCE_RULES), ASOF
    )
    assert len(results.collect()) == 12
    plan = results._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    scans = [line for line in final.split("\n") if "FileScan" in line]

    def scanned(name):
        return sum(f"/silver/{name}]" in line for line in scans)

    assert scanned("clean_covid") == 1, final
    assert scanned("clean_users") == 2, final
    assert scanned("clean_posts") == 1, final


def test_pipeline_takes_counts_from_the_writes(spark, tmp_path, monkeypatch):
    """With ``DataFrame.count`` raising, the write run still succeeds:
    its record counts and ``_lineage`` are observed on the writes. They
    equal what the landed tables hold. A zero-row users file lands with
    count 0 without blocking on its observation."""
    import threading

    from chai_data_pipeline_spark.medallion.pipeline import run_pipeline

    landing = _landing(tmp_path, users_json="[]")
    lake = str(tmp_path / "lake")
    frame_cls = type(spark.range(0))

    def no_count(self):
        raise AssertionError("count() job in a write run")

    out: dict = {}
    with monkeypatch.context() as m:
        m.setattr(frame_cls, "count", no_count)
        run = threading.Thread(
            target=lambda: out.update(
                journal=run_pipeline(spark, landing, lake, asof=ASOF)
            ),
            daemon=True,
        )
        run.start()
        run.join(timeout=600)
    assert not run.is_alive(), "run_pipeline blocked"
    journal = out["journal"]
    assert journal["status"] == "SUCCESS", journal

    assert journal["layers"]["bronze"]["records"]["users"] == 0
    assert journal["layers"]["silver"]["records"]["clean_users"] == 0
    for layer in ("bronze", "silver", "gold"):
        for name, n in journal["layers"][layer]["records"].items():
            landed = spark.read.parquet(os.path.join(lake, layer, name))
            assert landed.count() == n, (layer, name)

    lineage = spark.read.parquet(os.path.join(lake, "bronze", "_lineage"))
    assert len(lineage.inputFiles()) == 1
    assert sorted(lineage.columns) == sorted(
        ["dataset", "record_count", "file_count", "ingested_at"]
    )
    for row in lineage.collect():
        landed = spark.read.parquet(os.path.join(lake, "bronze", row.dataset))
        expect = landed.agg(
            F.count("*").alias("record_count"),
            F.countDistinct("source_filename").alias("file_count"),
            F.max("ingestion_timestamp").alias("ingested_at"),
        ).first()
        assert row.record_count == expect.record_count, row
        assert row.file_count == expect.file_count, row
        assert row.ingested_at == expect.ingested_at, row
    daily = spark.read.parquet(os.path.join(lake, "gold", "daily_aggregates"))
    assert len(daily.inputFiles()) == 1
