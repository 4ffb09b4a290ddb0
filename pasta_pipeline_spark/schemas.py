"""Explicit StructType schemas for the engine's tables.

Reference DDL provenance (SURVEY.md §1):
- ``telegram_messages``  — /root/reference/dags/processors/db_loader.py:23-36
- ``telegraph_content``  — /root/reference/dags/processors/telegraph_processor.py:30-45

Postgres types map to Spark per SURVEY.md §1.2; the two serialized
columns become native types: ``hashtags TEXT[]`` → ``array<string>``
(the PG-array-literal serialization at db_loader.py:81-95 disappears)
and ``reactions JSONB`` → ``map<string,int>`` (the json.dumps at
db_loader.py:98-114 disappears).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# Reference-shaped tables
# ---------------------------------------------------------------------------

#: Raw scrape artifact — the shape of one `format_message` dict
#: (message_scraper.py:24-50) before load-time scalarization.
RAW_MESSAGE_SCHEMA = StructType(
    [
        StructField("message_id", LongType(), False),
        StructField("date", TimestampType(), True),
        StructField("text", StringType(), True),
        StructField("views", IntegerType(), True),
        StructField("forwards", IntegerType(), True),
        StructField("hashtags", ArrayType(StringType()), True),
        # full extraction list; load scalarizes to first element (P2)
        StructField("telegraph_links", ArrayType(StringType()), True),
        StructField("reactions", MapType(StringType(), IntegerType()), True),
        StructField("scraped_at", TimestampType(), True),
    ]
)

#: Loaded messages table — DDL parity with db_loader.py:23-36.
MESSAGE_SCHEMA = StructType(
    [
        StructField("message_id", LongType(), False),
        StructField("date", TimestampType(), True),
        StructField("text", StringType(), True),
        StructField("views", IntegerType(), True),
        StructField("forwards", IntegerType(), True),
        StructField("hashtags", ArrayType(StringType()), True),
        StructField("telegraph_link", StringType(), True),
        StructField("reactions", MapType(StringType(), IntegerType()), True),
        StructField("scraped_at", TimestampType(), True),
        StructField("processed_at", TimestampType(), True),
    ]
)

#: Crawled content table — DDL parity with telegraph_processor.py:30-45.
CONTENT_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("title", StringType(), True),
        StructField("content", StringType(), True),
        StructField("description", StringType(), True),
        StructField("content_hash", StringType(), True),
        StructField("description_hash", StringType(), True),
        StructField("date_published", TimestampType(), True),
        StructField("word_count", IntegerType(), True),
        StructField("status", StringType(), True),
        StructField("retry_count", IntegerType(), True),
        StructField("processed_at", TimestampType(), True),
        StructField("last_checked", TimestampType(), True),
    ]
)

#: Full status-code set emitted by the fetch state machine
#: (telegraph_processor.py:167-188, 240-254).
FETCH_STATUSES = (
    "success",
    "not_found",
    "server_error",
    "http_error",
    "timeout",
    "client_error",
    "error",
    "content_too_large",
)

# ---------------------------------------------------------------------------
# Multimodal column conventions (extension surface)
# ---------------------------------------------------------------------------

#: An opaque media payload plus typed metadata. Decode/feature-extract
#: stages key off ``media_type`` ('image' | 'audio' | 'video').
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media_type", StringType(), False),
        StructField("payload", BinaryType(), True),
        StructField("mime", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Driver testdata tables (TESTDATA.md / FIXTURES.md §B)
# ---------------------------------------------------------------------------

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


def load_table(spark, sf_dir: str, name: str):
    """Read one driver testdata table as a DataFrame.

    ``events.ts`` is TIMESTAMP(NANOS) parquet, which Spark reads
    differently across versions — all three shapes are normalized here
    to a microsecond TIMESTAMP whose instant equals the parquet wall
    clock read as UTC (the same narrowing DuckDB applies, so oracles
    agree):

    - nanos-as-long (``spark.sql.legacy.parquet.nanosAsLong`` honored,
      pyspark <= 4.0-era): epoch-nanos long → ``timestamp_micros``;
    - TIMESTAMP_NTZ (pyspark 4.1.2+ reads NANOS as NTZ and ignores the
      legacy conf): wall-clock micros via ``timestampdiff`` against an
      NTZ epoch — PURE wall arithmetic, so the result is independent
      of the session timezone (a plain ``cast ntz → timestamp`` would
      shift by the session offset);
    - already-TIMESTAMP: passthrough.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    if name == "events":
        # honored by older readers; ignored (harmlessly) by 4.1.2+
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        dt = df.schema["ts"].dataType
        if isinstance(dt, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(dt, TimestampNTZType):
            df = df.withColumn(
                "ts",
                F.timestamp_micros(
                    F.expr(
                        "timestampdiff(MICROSECOND, "
                        "CAST('1970-01-01 00:00:00' AS TIMESTAMP_NTZ), ts)"
                    )
                ),
            )
    return df


def register_views(spark, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register every testdata table as a session temp view so the
    engine is usable from RAW SQL, the way the reference's users
    already work (its whole relational surface is SQL strings):

        register_views(spark, "/root/testdata/sf0.01")
        spark.sql("SELECT o_orderpriority, count(*) FROM orders ...")

    Views go through :func:`load_table`, so the events timestamp
    normalization (and any future reader fix) applies to SQL users
    too — never register raw paths directly.
    """
    for t in tables or TESTDATA_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
