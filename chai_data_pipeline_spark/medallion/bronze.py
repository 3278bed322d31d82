"""Bronze layer: land multi-format files into typed, audited tables.

Replaces reference scripts/bronze/load_bronze.py (pandas parse + COPY
into Postgres). Each dataset is one explicit-schema Spark scan with
audit columns; lineage is a small records DataFrame, not a side table
in a warehouse.

The REST/CSV *fetch* step (reference: scripts/bronze/ingest_bronze.py)
is inherently driver-side I/O; :func:`land_url` isolates it so
everything downstream is source-agnostic. Tests and the default
pipeline operate on already-landed files.

Scale: bronze writes partition by dataset-appropriate keys (covid by
date) so silver reads prune; audit hashing is a row-local projection.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .. import schemas
from ..sources.readers import (
    RoutedFile,
    blanks_to_null,
    read_csv,
    read_json,
    read_parquet,
    route_bronze_files,
    with_audit_columns,
)


@dataclass
class BronzeResult:
    tables: dict[str, DataFrame]
    lineage: DataFrame | None = None
    unknown_files: list[str] = field(default_factory=list)


def land_url(url: str, dest_dir: str, name: str) -> str:
    """Driver-side fetch of a REST/CSV source to the landing dir
    (reference: ingest_bronze.py:56-150). Network I/O is isolated here;
    gated so offline environments never touch it."""
    import urllib.request

    os.makedirs(dest_dir, exist_ok=True)
    dest = os.path.join(dest_dir, name)
    with urllib.request.urlopen(url, timeout=30) as resp:  # noqa: S310
        with open(dest, "wb") as fh:
            fh.write(resp.read())
    return dest


def _load_users(spark: SparkSession, paths: list[str]) -> DataFrame:
    df = read_json(spark, paths, schemas.USERS_RAW)
    # flatten-keep: top fields + nested struct + raw_data JSON blob
    # (reference: load_bronze.py:244-261 keeps raw_data JSONB)
    return with_audit_columns(
        df.withColumn("raw_data", F.to_json(F.struct(*df.columns))), "users"
    )


def _load_posts(spark: SparkSession, paths: list[str]) -> DataFrame:
    df = read_json(spark, paths, schemas.POSTS_RAW)
    return with_audit_columns(
        df.withColumnsRenamed({"userId": "user_id", "id": "post_id"}), "posts"
    )


def _normalize_covid(df: DataFrame) -> DataFrame:
    """Rename raw headers, blanks→NULL, numeric coercion with 0 default,
    date parse (reference: load_bronze.py:338-362)."""
    from ..sources.readers import sanitize_identifier

    df = df.withColumnsRenamed({c: sanitize_identifier(c) for c in df.columns})
    df = df.withColumnsRenamed(
        {k: v for k, v in schemas.COVID_RENAME.items() if k in df.columns}
    )
    df = blanks_to_null(df, ["province", "country"])
    for c in ["confirmed", "recovered", "deaths"]:
        df = df.withColumn(
            c, F.coalesce(F.try_cast(F.col(c), "long") if hasattr(F, "try_cast")
                          else F.expr(f"try_cast({c} AS LONG)"), F.lit(0))
        )
    return df.withColumn("date", F.to_date("date"))


def _load_covid(spark: SparkSession, routed: list[RoutedFile]) -> DataFrame:
    frames = []
    csvs = [r.path for r in routed if r.fmt == "csv"]
    parquets = [r.path for r in routed if r.fmt == "parquet"]
    orcs = [r.path for r in routed if r.fmt == "orc"]
    if csvs:
        frames.append(_normalize_covid(read_csv(spark, csvs, schemas.COVID_RAW)))
    if parquets:
        frames.append(_normalize_covid(read_parquet(spark, parquets)))
    if orcs:
        from ..sources.readers import read_orc

        frames.append(_normalize_covid(read_orc(spark, orcs)))
    df = frames[0]
    for f2 in frames[1:]:
        df = df.unionByName(f2)
    return with_audit_columns(df, "covid")


def _load_telco(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Schema-agnostic generic CSV path (SURVEY §2.12): all-string read,
    sanitized identifiers, typed coercion where declared."""
    df = read_csv(spark, paths, schemas.TELCO_RAW)
    df = blanks_to_null(df)
    df = (
        df.withColumn("seniorcitizen", F.expr("try_cast(seniorcitizen AS INT)"))
        .withColumn("tenure", F.expr("try_cast(tenure AS INT)"))
        .withColumn("monthlycharges", F.expr("try_cast(monthlycharges AS DOUBLE)"))
        .withColumn("totalcharges", F.expr("try_cast(totalcharges AS DOUBLE)"))
    )
    return with_audit_columns(df, "telco")


def load_bronze(
    spark: SparkSession,
    landing_dir: str,
    datasets: set[str] | None = None,
    lineage: bool = True,
) -> BronzeResult:
    """Route every landed file and load each dataset (reference:
    load_bronze.py:381-423 run()).

    ``datasets`` restricts loading to the named subset (plan
    construction for unused datasets is pure overhead — a consumer
    that only needs covid+telco skips the users/posts JSON relations);
    ``lineage=False`` skips the lineage aggregate for the same reason.
    """
    import glob

    paths = sorted(
        p
        for pat in ("*.json", "*.csv", "*.parquet")
        for p in glob.glob(os.path.join(landing_dir, "**", pat), recursive=True)
    )
    routed, unknown = route_bronze_files(paths)
    by_ds: dict[str, list[RoutedFile]] = {}
    for r in routed:
        if datasets is None or r.dataset in datasets:
            by_ds.setdefault(r.dataset, []).append(r)

    tables: dict[str, DataFrame] = {}
    if "users" in by_ds:
        tables["users"] = _load_users(spark, [r.path for r in by_ds["users"]])
    if "posts" in by_ds:
        tables["posts"] = _load_posts(spark, [r.path for r in by_ds["posts"]])
    if "covid" in by_ds:
        tables["covid"] = _load_covid(spark, by_ds["covid"])
    if "telco" in by_ds:
        tables["telco"] = _load_telco(spark, [r.path for r in by_ds["telco"]])

    return BronzeResult(
        tables=tables,
        lineage=lineage_of(tables) if lineage else None,
        unknown_files=unknown,
    )


# ``_lineage``: one row per dataset, the dataset name and then the
# :func:`lineage_metrics` values in their order
LINEAGE_SCHEMA = StructType([
    StructField("dataset", StringType()),
    StructField("record_count", LongType()),
    StructField("file_count", LongType()),
    StructField("ingested_at", TimestampType()),
])


def lineage_metrics() -> list[Column]:
    """The per-dataset lineage aggregates: ``record_count``,
    ``file_count`` and ``ingested_at``. :func:`lineage_of` aggregates
    them over landed tables; the pipeline observes the same expressions
    on each bronze write, so both read one definition. Distinct
    aggregates are not allowed in observed metrics, hence
    ``size(collect_set)`` for the file count."""
    return [
        F.count(F.lit(1)).alias("record_count"),
        F.size(F.collect_set("source_filename")).cast("long").alias("file_count"),
        F.max("ingestion_timestamp").alias("ingested_at"),
    ]


def lineage_of(tables: dict[str, DataFrame]) -> DataFrame | None:
    """Lineage records (reference: ingest_bronze.py:151-162 metadata
    JSON): one small aggregate per dataset — rows/dataset counts, not
    a Python loop per file. Pass the tables as written to the lake: over
    unwritten plans ``ingestion_timestamp`` is a fresh
    ``current_timestamp()`` per evaluation, so ``ingested_at`` would
    describe a different evaluation than the one landed."""
    parts = [
        df.agg(F.lit(name).alias("dataset"), *lineage_metrics())
        for name, df in tables.items()
    ]
    if not parts:
        return None
    lineage_df = parts[0]
    for p in parts[1:]:
        lineage_df = lineage_df.unionByName(p)
    return lineage_df
