"""Gold layer: business models, aggregates, and reporting views as
computed DataFrames (reference: scripts/gold/model_gold.py +
aggregate_gold.py — matviews/views become recomputed gold tables,
SURVEY §2.9 M3/M4).

Every model is a pure function over silver tables. Deterministic
replacements for the reference's nondeterminism (SURVEY §7.4.1/3):
- top/bottom-k lists are rank-filtered with explicit tiebreaks and
  emitted as sorted JSON arrays;
- the global summary uses window lags over a country-aggregated daily
  frame rather than the reference's province-fanning self-join;
- argmax uses an explicit (count DESC, name ASC) ordering.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from ..functions.numeric import dround
from ..operators.windows import top_k_per_group
from .frames import literal_frame


def daily_covid_summary(clean_covid: DataFrame) -> DataFrame:
    """mv_daily_covid_summary (reference: model_gold.py:106-116)."""
    return clean_covid.groupBy("record_date").agg(
        F.countDistinct("country").alias("countries_reporting"),
        F.sum("confirmed").alias("total_confirmed"),
        F.sum("recovered").alias("total_recovered"),
        F.sum("deaths").alias("total_deaths"),
        F.round(F.avg("mortality_rate"), 2).alias("avg_mortality_rate"),
    )


def user_company_analysis(clean_users: DataFrame) -> DataFrame:
    """mv_user_company_analysis (reference: model_gold.py:118-127);
    STRING_AGG order pinned via sorted collect_set."""
    return clean_users.groupBy("company_name").agg(
        F.count("*").alias("total_users"),
        F.round(F.avg("name_length"), 2).alias("avg_name_length"),
        F.concat_ws(
            ", ", F.array_sort(F.collect_set("email_domain"))
        ).alias("email_domains"),
    )


def user_analytics_summary(clean_users: DataFrame, asof: str) -> DataFrame:
    """gold.user_analytics one-row summary (reference:
    model_gold.py:139-186): totals, domain distribution JSON, top
    company by users (deterministic argmax)."""
    by_domain = clean_users.groupBy("email_domain").agg(
        F.count("*").alias("n")
    )
    domains_json = by_domain.agg(
        F.to_json(
            F.map_from_entries(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.coalesce("email_domain", F.lit("unknown")),
                            F.col("n"),
                        )
                    )
                )
            )
        ).alias("users_by_domain")
    )
    by_company = clean_users.groupBy("company_name").agg(
        F.count("*").alias("n")
    )
    w = Window.orderBy(F.desc("n"), F.asc("company_name"))
    top_company = (
        by_company.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("company_name").alias("top_company"))
    )
    totals = clean_users.agg(
        F.count("*").alias("total_users"),
        F.count_if(F.col("email_valid")).alias("valid_emails"),
        F.round(F.avg("data_quality_score"), 2).alias("avg_quality_score"),
        F.countDistinct("company_name").alias("n_companies"),
    )
    return (
        totals.crossJoin(F.broadcast(domains_json))
        .crossJoin(F.broadcast(top_company))
        .withColumn("summary_date", F.lit(asof).cast("date"))
    )


def covid_country_trends(clean_covid: DataFrame) -> DataFrame:
    """Country trend classification (reference: model_gold.py:440-509):
    recent-7-day mean of daily_new_cases vs all-earlier mean, ±10%."""
    daily = clean_covid.groupBy("record_date", "country").agg(
        F.sum("daily_new_cases").alias("daily_new_cases"),
        F.sum("confirmed").alias("confirmed"),
        F.sum("deaths").alias("deaths"),
    )
    w = Window.partitionBy("country").orderBy(F.desc("record_date"))
    r = daily.withColumn("rn", F.row_number().over(w))
    s = r.groupBy("country").agg(
        F.avg(F.when(F.col("rn") <= 7, F.col("daily_new_cases"))).alias(
            "recent_avg"
        ),
        F.avg(F.when(F.col("rn") > 7, F.col("daily_new_cases"))).alias(
            "earlier_avg"
        ),
        F.max(F.when(F.col("rn") == 1, F.col("confirmed"))).alias(
            "latest_confirmed"
        ),
        F.max(F.when(F.col("rn") == 1, F.col("deaths"))).alias("latest_deaths"),
    )
    trend = (
        F.when(
            F.col("earlier_avg").isNull() | (F.col("earlier_avg") == 0),
            "STABLE",
        )
        .when(F.col("recent_avg") > F.col("earlier_avg") * 1.1, "INCREASING")
        .when(F.col("recent_avg") < F.col("earlier_avg") * 0.9, "DECREASING")
        .otherwise("STABLE")
    )
    severity = (
        F.when(F.col("latest_confirmed") >= 100000, "CRITICAL")
        .when(F.col("latest_confirmed") >= 10000, "HIGH")
        .when(F.col("latest_confirmed") >= 1000, "MEDIUM")
        .otherwise("LOW")
    )
    return s.select(
        "country",
        F.round("recent_avg", 2).alias("recent_avg_daily_cases"),
        F.round("earlier_avg", 2).alias("earlier_avg_daily_cases"),
        trend.alias("trend_direction"),
        "latest_confirmed",
        "latest_deaths",
        severity.alias("severity"),
    )


def covid_global_summary(
    clean_covid: DataFrame, data_quality_score: int = 90
) -> DataFrame:
    """Global summary with day/week deltas + top-5/bottom-5 country
    JSON lists (reference: model_gold.py:243-401). Window lags over a
    country-summed daily frame replace the fanning self-join; top/bottom
    lists rank on (confirmed DESC/ASC, country) and serialize sorted.

    ``global_mortality_rate`` / ``global_recovery_rate`` (declared
    DECIMAL(10,6), model_gold.py:61-62; populated as
    AVG(ld.mortality_rate) over the latest day, model_gold.py:277-278)
    are the average of the latest-day per-series silver rates, computed
    exactly: the 2-decimal rates become integer cents (exact bigint
    sum, order-independent), one IEEE division, then the deterministic
    6-decimal half-up round. ``data_quality_score`` mirrors the
    reference's validation-score column (hardcoded 90 at
    model_gold.py:352; the pipeline passes the real computed score).
    """
    # The latest-day global rates ride the SAME per-date aggregate as
    # the totals (no second scan/join of clean_covid): per-series
    # 2-decimal rates become exact integer cents — floor(rate*100+0.5)
    # recovers them losslessly — whose bigint sum is order-independent;
    # the final select does one division + dround-6 on the latest row.
    daily = clean_covid.groupBy("record_date").agg(
        F.sum("confirmed").alias("confirmed"),
        F.sum("recovered").alias("recovered"),
        F.sum("deaths").alias("deaths"),
        F.countDistinct("country").alias("countries"),
        F.sum(
            F.floor(F.col("mortality_rate") * 100 + F.lit(0.5)).cast(
                "bigint"
            )
        ).alias("mr_cents"),
        F.sum(
            F.floor(F.col("recovery_rate") * 100 + F.lit(0.5)).cast(
                "bigint"
            )
        ).alias("rr_cents"),
        F.count("*").alias("n_series_rows"),
    )
    w = Window.orderBy("record_date")
    lagged = daily.select(
        "*",
        F.lag("confirmed", 1).over(w).alias("prev_confirmed"),
        F.lag("confirmed", 7).over(w).alias("week_ago_confirmed"),
    )
    latest = lagged.join(
        F.broadcast(daily.agg(F.max("record_date").alias("maxd"))),
        F.col("record_date") == F.col("maxd"),
    ).drop("maxd")

    def _global_rate(cents_col: str) -> Column:
        raw = F.col(cents_col).cast("double") / (
            F.lit(100) * F.col("n_series_rows")
        ).cast("double")
        return dround(raw, 6)

    by_country = (
        clean_covid.groupBy("country")
        .agg(F.sum("confirmed").alias("confirmed"))
    )
    top5 = (
        top_k_per_group(
            by_country.withColumn("__g", F.lit(1)),
            ["__g"],
            [F.desc("confirmed"), F.asc("country")],
            5,
        )
        .agg(
            F.to_json(
                F.collect_list(F.struct("country", "confirmed"))
            ).alias("top_5_countries")
        )
    )
    bottom5 = (
        top_k_per_group(
            by_country.withColumn("__g", F.lit(1)),
            ["__g"],
            [F.asc("confirmed"), F.asc("country")],
            5,
        )
        .agg(
            F.to_json(
                F.collect_list(F.struct("country", "confirmed"))
            ).alias("bottom_5_countries")
        )
    )
    return (
        latest.crossJoin(F.broadcast(top5))
        .crossJoin(F.broadcast(bottom5))
        .select(
            F.col("record_date").alias("summary_date"),
            F.col("confirmed").alias("total_confirmed"),
            F.col("recovered").alias("total_recovered"),
            F.col("deaths").alias("total_deaths"),
            F.col("countries").alias("countries_reporting"),
            _global_rate("mr_cents").alias("global_mortality_rate"),
            _global_rate("rr_cents").alias("global_recovery_rate"),
            (F.col("confirmed") - F.coalesce("prev_confirmed", F.lit(0))).alias(
                "day_delta"
            ),
            (
                F.col("confirmed") - F.coalesce("week_ago_confirmed", F.lit(0))
            ).alias("week_delta"),
            "top_5_countries",
            "bottom_5_countries",
            F.lit(int(data_quality_score))
            .cast("int")
            .alias("data_quality_score"),
        )
    )


def v_data_completeness(global_summary: DataFrame) -> DataFrame:
    """``v_data_completeness`` view (reference: aggregate_gold.py:200-218):
    survival_rate = (confirmed-deaths)/confirmed*100 and
    recovery_percentage = recovered/confirmed*100 over the global
    summary, 2-decimal, 0 when confirmed==0 — deterministic half-up
    round (dround) instead of the reference's ROUND(::DECIMAL, 2)."""
    c = F.col("total_confirmed")

    def _pct(num: Column) -> Column:
        return F.when(
            c > 0, dround(num.cast("double") / c * 100, 2)
        ).otherwise(0.0)

    return global_summary.select(
        "summary_date",
        F.col("countries_reporting").alias("total_countries"),
        "total_confirmed",
        "total_deaths",
        _pct(c - F.col("total_deaths")).alias("survival_rate"),
        _pct(F.col("total_recovered")).alias("recovery_percentage"),
    )


def user_engagement_metrics(
    clean_users: DataFrame, clean_posts: DataFrame
) -> DataFrame:
    """gold.user_engagement_metrics (declared at model_gold.py:93-103,
    never populated — implemented per spec): posts⋈users aggregates +
    engagement score + activity bucketing."""
    per_user = clean_posts.groupBy("user_id").agg(
        F.count("*").alias("post_count"),
        F.round(F.avg("body_length"), 2).alias("avg_post_length"),
        F.sum("word_count").alias("total_words"),
    )
    joined = clean_users.select(
        "user_id", "username", "company_name"
    ).join(per_user, "user_id", "left")
    score = F.coalesce("post_count", F.lit(0)) * 10 + F.coalesce(
        "total_words", F.lit(0)
    ) / 100.0
    return joined.select(
        "user_id",
        "username",
        "company_name",
        F.coalesce("post_count", F.lit(0)).alias("post_count"),
        F.coalesce("avg_post_length", F.lit(0.0)).alias("avg_post_length"),
        F.coalesce("total_words", F.lit(0)).alias("total_words"),
        F.round(score, 2).alias("engagement_score"),
        F.when(score >= 50, "HIGH")
        .when(score >= 20, "MEDIUM")
        .otherwise("LOW")
        .alias("activity_level"),
    )


def pipeline_performance_view(lineage: DataFrame, durations: dict[str, float]) -> DataFrame:
    """v_pipeline_performance (reference: aggregate_gold.py:183-196):
    records/sec with NULLIF-style guard, from the lineage counts and the
    measured layer durations."""
    spark = lineage.sparkSession
    dur = spark.createDataFrame(
        [(k, float(v)) for k, v in durations.items()],
        ["dataset", "duration_seconds"],
    )
    return (
        lineage.join(F.broadcast(dur), "dataset", "left")
        .select(
            "dataset",
            "record_count",
            "duration_seconds",
            F.round(
                F.when(
                    F.col("duration_seconds") > 0,
                    F.col("record_count") / F.col("duration_seconds"),
                ),
                2,
            ).alias("records_per_second"),
        )
    )


DAILY_AGGREGATES_SCHEMA = StructType([
    StructField("aggregate_date", DateType()),
    StructField("data_sources_processed", IntegerType()),
    StructField("total_records_processed", LongType()),
    StructField("bronze_records", IntegerType()),
    StructField("silver_records", IntegerType()),
    StructField("gold_records", IntegerType()),
    StructField("data_quality_score", IntegerType()),
    StructField("processing_duration_seconds", IntegerType()),
])


def daily_aggregates(spark, journal: dict, asof: str) -> DataFrame:
    """gold.daily_aggregates (reference: aggregate_gold.py:31-41 schema,
    83-176 population): one row per pipeline run day with per-layer
    record counts, total, quality score, and duration.

    The reference re-reads its own Postgres layers with CURRENT_DATE
    filters to count records; here the run JOURNAL is the metadata
    source, so the table derives without a second scan of any layer.
    data_quality_score falls back to 85 exactly like the reference
    when no quality result exists (aggregate_gold.py:129-133);
    data_sources_processed is the observed bronze dataset count rather
    than the reference's hardcoded 4.
    """
    layers = journal.get("layers", {})

    def _records(layer: str) -> int:
        return int(sum(layers.get(layer, {}).get("records", {}).values()))

    b, s, g = _records("bronze"), _records("silver"), _records("gold")
    dur = sum(
        float(layers[k].get("duration_seconds", 0.0))
        for k in ("bronze", "silver", "quality", "gold")
        if k in layers
    )
    q = layers.get("quality", {}).get("quality_score")
    score = 85 if q is None else int(round(float(q)))
    return literal_frame(spark, DAILY_AGGREGATES_SCHEMA, [(
        asof.split(" ")[0],
        len(layers.get("bronze", {}).get("records", {})),
        b + s + g,
        b,
        s,
        g,
        score,
        int(round(dur)),
    )])


def v_trend_analysis(clean_covid: DataFrame) -> DataFrame:
    """``v_trend_analysis`` view (reference: aggregate_gold.py:221-244):
    per-(country, date) confirmed cases with lag-1 / lag-7, the daily
    increase, and the 2-decimal weekly growth percentage (NULL when no
    positive week-ago base). The reference lags over its
    covid_country_trends table; here the same per-date country frame
    derives straight from silver — windows partition by country, so no
    global shuffle, and the deterministic half-up round replaces
    ROUND(::DECIMAL, 2)."""
    daily = clean_covid.groupBy("record_date", "country").agg(
        F.sum("confirmed").alias("confirmed_cases")
    )
    w = Window.partitionBy("country").orderBy("record_date")
    t = daily.select(
        F.col("record_date").alias("trend_date"),
        "country",
        "confirmed_cases",
        F.lag("confirmed_cases", 1).over(w).alias("prev_day_cases"),
        F.lag("confirmed_cases", 7).over(w).alias("prev_week_cases"),
    )
    growth = F.when(
        F.col("prev_week_cases") > 0,
        dround(
            (F.col("confirmed_cases") - F.col("prev_week_cases")).cast(
                "double"
            )
            / F.col("prev_week_cases")
            * 100,
            2,
        ),
    )
    return t.select(
        "trend_date",
        "country",
        "confirmed_cases",
        "prev_day_cases",
        "prev_week_cases",
        (
            F.col("confirmed_cases")
            - F.coalesce("prev_day_cases", F.lit(0))
        ).alias("daily_increase"),
        growth.alias("weekly_growth_percent"),
    )
