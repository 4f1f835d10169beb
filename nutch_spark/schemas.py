"""Table schemas and the CrawlDatum status state space.

Reference: crawl/CrawlDatum.java:48-87 (status codes), :118-125 (record),
protocol/Content.java:45-69, parse/ParseData.java, FIXTURES.md.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T


def empty_frame(spark: SparkSession, schema: T.StructType | str) -> DataFrame:
    """No rows of `schema` (a StructType or DDL string), planned in the JVM:
    `createDataFrame([], schema)` scans a PythonRDD, a Python job of its
    own on every action. Every column comes out nullable."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields])

# ---------------------------------------------------------------------------
# CrawlDatum status codes (reference: crawl/CrawlDatum.java:48-87)
# ---------------------------------------------------------------------------
STATUS_SIGNATURE = 0x41
STATUS_INJECTED = 0x42
STATUS_LINKED = 0x43
STATUS_PARSE_META = 0x44

STATUS_DB_UNFETCHED = 0x01
STATUS_DB_FETCHED = 0x02
STATUS_DB_GONE = 0x03
STATUS_DB_REDIR_TEMP = 0x04
STATUS_DB_REDIR_PERM = 0x05
STATUS_DB_NOTMODIFIED = 0x06

STATUS_FETCH_SUCCESS = 0x21
STATUS_FETCH_RETRY = 0x22
STATUS_FETCH_REDIR_TEMP = 0x23
STATUS_FETCH_REDIR_PERM = 0x24
STATUS_FETCH_GONE = 0x25
STATUS_FETCH_NOTMODIFIED = 0x26

STATUS_NAMES = {
    STATUS_DB_UNFETCHED: "db_unfetched",
    STATUS_DB_FETCHED: "db_fetched",
    STATUS_DB_GONE: "db_gone",
    STATUS_DB_REDIR_TEMP: "db_redir_temp",
    STATUS_DB_REDIR_PERM: "db_redir_perm",
    STATUS_DB_NOTMODIFIED: "db_notmodified",
    STATUS_FETCH_SUCCESS: "fetch_success",
    STATUS_FETCH_RETRY: "fetch_retry",
    STATUS_FETCH_REDIR_TEMP: "fetch_redir_temp",
    STATUS_FETCH_REDIR_PERM: "fetch_redir_perm",
    STATUS_FETCH_GONE: "fetch_gone",
    STATUS_FETCH_NOTMODIFIED: "fetch_notmodified",
    STATUS_SIGNATURE: "signature",
    STATUS_INJECTED: "injected",
    STATUS_LINKED: "linked",
    STATUS_PARSE_META: "parse_meta",
}


# ---------------------------------------------------------------------------
# frontier — the URL state table (CrawlDb analogue; FIXTURES.md §5)
# ---------------------------------------------------------------------------
FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), True),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("fetch_time", T.LongType(), False),     # epoch ms (next/last fetch)
        T.StructField("retries", T.IntegerType(), False),
        T.StructField("fetch_interval", T.IntegerType(), False),  # seconds
        T.StructField("score", T.FloatType(), False),
        T.StructField("signature", T.StringType(), True),     # hex digest
        T.StructField("modified_time", T.LongType(), False),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# seeds (FIXTURES.md §4; reference: crawl/Injector.java:84-129)
SEEDS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# web_graph — the simulated web (FIXTURES.md §2)
WEB_GRAPH_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("redirect_to", T.StringType(), True),
        T.StructField(
            "outlinks",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("to_url", T.StringType(), False),
                        T.StructField("anchor", T.StringType(), True),
                    ]
                )
            ),
            True,
        ),
        T.StructField("content_length", T.IntegerType(), False),
        T.StructField("declared_length", T.IntegerType(), False),
        T.StructField("signature_seed", T.LongType(), False),
    ]
)

# robots (FIXTURES.md §3)
ROBOTS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("agent", T.StringType(), False),
        T.StructField("disallow", T.ArrayType(T.StringType()), True),
        T.StructField("allow", T.ArrayType(T.StringType()), True),
        T.StructField("crawl_delay", T.DoubleType(), True),
    ]
)

# documents — interleaved text+media spans (input_hint / FIXTURES.md §1)
SPAN_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),      # text | media | link
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_SCHEMA), False),
    ]
)

# fetchlist row (crawl_generate analogue) — frontier columns + scheduling cols
FETCHLIST_EXTRA_COLS = ["segnum", "partition_id", "sort_hash"]

# fetch output (crawl_fetch analogue)
FETCH_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("fetch_status", T.IntegerType(), False),
        T.StructField("fetch_ts", T.LongType(), False),     # virtual-clock epoch ms
        T.StructField("seq", T.LongType(), False),          # global fetch order within partition
        T.StructField("repr_url", T.StringType(), True),
        T.StructField("signature", T.StringType(), True),
        T.StructField("content_length", T.IntegerType(), True),
        T.StructField("truncated", T.BooleanType(), True),
        T.StructField("score", T.FloatType(), True),
        T.StructField("fetch_interval", T.IntegerType(), True),
        T.StructField("retries", T.IntegerType(), True),
        T.StructField("partition_id", T.IntegerType(), True),
    ]
)

FETCH_METRICS_SCHEMA = T.StructType(
    [
        T.StructField("cycle", T.IntegerType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("hosts", T.IntegerType(), False),
        T.StructField("rows_in", T.LongType(), False),
        T.StructField("rows_out", T.LongType(), False),
        T.StructField("virtual_ms", T.LongType(), False),
        T.StructField("wall_ms", T.LongType(), False),
    ]
)

# parse_updates rows (crawl_parse analogue): linked / signature / parse_meta
PARSE_UPDATE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("kind", T.IntegerType(), False),   # STATUS_LINKED / _SIGNATURE / _PARSE_META
        T.StructField("score", T.FloatType(), True),
        T.StructField("signature", T.StringType(), True),
        T.StructField("anchor", T.StringType(), True),
        T.StructField("from_url", T.StringType(), True),
    ]
)

ITEMS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("platform", T.StringType(), False),
        T.StructField("item_id", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("category", T.ArrayType(T.StringType()), True),
        T.StructField("price", T.DoubleType(), True),
        T.StructField("photo_ref", T.StringType(), True),
    ]
)
