"""Schema registry + testdata loaders.

The reference declares one output schema explicitly (usage_records DDL,
reference src/services/bigquery.ts:114-126) and trusts server-side
schemas for inputs.  Spark-side: explicit StructTypes for everything we
write; parquet self-describing schemas for reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Output table of the billing pipeline — mirrors the reference DDL
# (src/services/bigquery.ts:114-126): REQUIRED -> nullable=False, the four
# shopify_* columns arrive later via schema evolution -> nullable=True.
USAGE_RECORDS = T.StructType(
    [
        T.StructField("shop", T.StringType(), False),
        T.StructField("billing_date", T.DateType(), False),
        T.StructField("page_views", T.LongType(), False),
        T.StructField("billing_amount", T.DoubleType(), False),
        T.StructField("rate_per_million", T.DoubleType(), False),
        T.StructField("shopify_charge_id", T.StringType(), True),
        T.StructField("shopify_billing_status", T.StringType(), True),
        T.StructField("shopify_error_message", T.StringType(), True),
        T.StructField("shopify_processed_at", T.TimestampType(), True),
        T.StructField("created_at", T.TimestampType(), False),
    ]
)

BILLING_STATUSES = ("pending", "success", "failed", "skipped")

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Parquet scans get predicate/column
    pushdown from Catalyst for free — callers should filter/select
    immediately so pruning reaches the scan.

    The events table's `ts` has shipped in two physical layouts:
    timestamp[us] (current — reads as TIMESTAMP_NTZ, day predicates
    push down as native timestamp ranges, see billing.day_filter) and
    TIMESTAMP(NANOS) (legacy — Spark cannot map it to TimestampType,
    so we read nanos as long, keep the raw `ts_ns` scan column for
    pushed int64 range predicates, and derive microsecond timestamps
    with integer division: ns values ~1.7e18 exceed double's 2^53
    integer range, hence `div`, not `/`).
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # pragma: no cover - conf may be static on some builds
        pass
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            # keep the raw scan column: predicates on ts_ns push down to
            # the parquet scan (row-group skipping), which filters on the
            # derived timestamp cannot do
            df = df.withColumn("ts_ns", F.col("ts")).withColumn(
                "ts", F.expr("timestamp_micros(ts div 1000)")
            )
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}
