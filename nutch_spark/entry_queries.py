"""Driver-contract queries + DuckDB oracles (the correctness gate).

Each SURVEY.md §2 operator gets a query over the driver-provided parquet
tables and (where SQL-expressible) a DuckDB oracle. Crawl-shaped inputs
(frontier, link edges, seeds) are DERIVED deterministically from the TPC-H
tables with expressions both engines evaluate identically:

- urls/hosts from string concat of key columns,
- status/retries/intervals from key arithmetic,
- scores from price columns (DOUBLE end-to-end; aggregates rounded),
- signatures from md5 of key strings.

Column-naming rule: every computed column is aliased identically in the
DataFrame query and the oracle SQL (driver hashes values after sorting
columns by name).
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

# ---------------------------------------------------------------------------
# derived crawl-shaped tables
# ---------------------------------------------------------------------------

FRONTIER_CTE = """
frontier AS (
  SELECT 'http://h' || CAST(o_custkey % 50 AS VARCHAR) || '.example.com/order/'
           || CAST(o_orderkey AS VARCHAR)                         AS url,
         'h' || CAST(o_custkey % 50 AS VARCHAR) || '.example.com' AS host,
         CAST(CASE o_orderstatus WHEN 'F' THEN 2 WHEN 'O' THEN 1 ELSE 6 END AS BIGINT) AS status,
         CAST(epoch(o_orderdate) AS BIGINT) * 1000                AS fetch_time,
         CAST(o_orderkey % 4 AS BIGINT)                           AS retries,
         CAST(86400 * (1 + o_orderkey % 30) AS BIGINT)            AS fetch_interval,
         o_totalprice                                             AS score,
         md5(CAST(o_orderkey AS VARCHAR))                         AS signature
  FROM orders
)"""

EDGES_CTE = """
edges AS (
  SELECT 'http://h' || CAST(l_suppkey % 50 AS VARCHAR) || '.example.com/order/'
           || CAST(l_orderkey AS VARCHAR)                          AS from_url,
         'h' || CAST(l_suppkey % 50 AS VARCHAR) || '.example.com'  AS from_host,
         'http://p' || CAST(l_partkey % 40 AS VARCHAR) || '.example.com/part/'
           || CAST(l_partkey AS VARCHAR)                           AS to_url,
         'p' || CAST(l_partkey % 40 AS VARCHAR) || '.example.com'  AS to_host,
         l_returnflag                                              AS anchor,
         l_extendedprice                                           AS link_score,
         CAST(l_linenumber AS BIGINT)                              AS segment
  FROM lineitem
)"""


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# one live cached frame per fixture slot: bench/oracle runs invoke each
# gate query repeatedly inside ONE session, and a bare .cache() with no
# unpersist pins another copy of the fixture in storage memory per
# invocation, shrinking execution memory for every later timed query.
_QUERY_CACHES: dict[str, DataFrame] = {}


def _cache_slot(slot: str, df: DataFrame) -> DataFrame:
    """EAGER cache() with leak control: drop the PREVIOUS invocation's
    cache for this slot first. Order matters — the CacheManager dedupes by
    logical plan, so unpersisting the stale entry after re-caching the same
    plan would evict the new entry too. The returned frame must stay cached
    until the caller's result is consumed, hence keep-latest, not
    unpersist-on-exit.

    The count() is the point, not a nicety: a LAZY cache does not dedupe
    CONCURRENT materialization — when several downstream subtrees of one
    action (e.g. build_index's multi-way cogroup) each contain this plan,
    their stages race and EACH recomputes the uncached kernel before any
    cache partition lands (measured on index_plugins: lazy-cache 8.8 s vs
    eager 3.1 s at sf0.1 — the whole r4->driver 2x regression; PLANS §7.1).
    Materializing once up front makes every downstream branch a cache read."""
    old = _QUERY_CACHES.pop(slot, None)
    if old is not None:
        try:
            old.unpersist()
        except Exception:
            pass  # its SparkSession may already be stopped
    df = df.cache()
    df.count()
    _QUERY_CACHES[slot] = df
    return df


def clear_query_caches() -> None:
    """Unpersist every live fixture-slot cache. Call between queries in a
    long suite run (bench/gate): keep-latest protects REPEATED invocations
    of one query, but across 40+ DIFFERENT queries the resident slots eat
    storage memory and inflate every later query's wall."""
    for slot in list(_QUERY_CACHES):
        old = _QUERY_CACHES.pop(slot)
        try:
            old.unpersist()
        except Exception:
            pass


def derived_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    ck = (F.col("o_custkey") % 50).cast("string")
    return o.select(
        F.concat(F.lit("http://h"), ck, F.lit(".example.com/order/"),
                 F.col("o_orderkey").cast("string")).alias("url"),
        F.concat(F.lit("h"), ck, F.lit(".example.com")).alias("host"),
        F.when(F.col("o_orderstatus") == "F", 2)
        .when(F.col("o_orderstatus") == "O", 1)
        .otherwise(6).cast("long").alias("status"),
        (F.unix_timestamp("o_orderdate") * 1000).cast("long").alias("fetch_time"),
        (F.col("o_orderkey") % 4).cast("long").alias("retries"),
        (86400 * (1 + F.col("o_orderkey") % 30)).cast("long").alias("fetch_interval"),
        F.col("o_totalprice").alias("score"),
        F.md5(F.col("o_orderkey").cast("string")).alias("signature"),
    )


def derived_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    sk = (F.col("l_suppkey") % 50).cast("string")
    pk = (F.col("l_partkey") % 40).cast("string")
    return li.select(
        F.concat(F.lit("http://h"), sk, F.lit(".example.com/order/"),
                 F.col("l_orderkey").cast("string")).alias("from_url"),
        F.concat(F.lit("h"), sk, F.lit(".example.com")).alias("from_host"),
        F.concat(F.lit("http://p"), pk, F.lit(".example.com/part/"),
                 F.col("l_partkey").cast("string")).alias("to_url"),
        F.concat(F.lit("p"), pk, F.lit(".example.com")).alias("to_host"),
        F.col("l_returnflag").alias("anchor"),
        F.col("l_extendedprice").alias("link_score"),
        F.col("l_linenumber").cast("long").alias("segment"),
    )


# ---------------------------------------------------------------------------
# queries — each returns (callable, oracle_sql | None)
# ---------------------------------------------------------------------------

def q_crawldb_stats(spark, sf_dir):
    """A7: CrawlDbReader stats (crawl/CrawlDbReader.java:148-247)."""
    f = derived_frontier(spark, sf_dir)
    return (
        f.groupBy("status")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("score"), 2).alias("min_score"),
            F.round(F.max("score"), 2).alias("max_score"),
            F.round(F.avg("score"), 2).alias("avg_score"),
            F.max("retries").alias("max_retries"),
        )
    )


SQL_CRAWLDB_STATS = f"""
WITH {FRONTIER_CTE}
SELECT status, COUNT(*) AS n,
       ROUND(MIN(score), 2) AS min_score,
       ROUND(MAX(score), 2) AS max_score,
       ROUND(AVG(score), 2) AS avg_score,
       MAX(retries) AS max_retries
FROM frontier GROUP BY status
"""


def q_generator_topn(spark, sf_dir):
    """G7: global top-N by score (CrawlDbReader.java:249-284)."""
    f = derived_frontier(spark, sf_dir)
    return f.orderBy(F.desc("score"), F.asc("url")).limit(100).select("url", "score")


SQL_GENERATOR_TOPN = f"""
WITH {FRONTIER_CTE}
SELECT url, score FROM frontier ORDER BY score DESC, url ASC LIMIT 100
"""


def q_generator_hostcap(spark, sf_dir):
    """G4: per-host cap — top-3 per host by score (Generator.java:277-313)."""
    f = derived_frontier(spark, sf_dir)
    w = Window.partitionBy("host").orderBy(F.desc("score"), F.asc("url"))
    return (
        f.withColumn("host_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("host_rank") <= 3)
        .select("host", "url", "score", "host_rank")
    )


SQL_GENERATOR_HOSTCAP = f"""
WITH {FRONTIER_CTE}
SELECT host, url, score, host_rank FROM (
  SELECT host, url, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY host ORDER BY score DESC, url ASC) AS BIGINT) AS host_rank
  FROM frontier
) WHERE host_rank <= 3
"""


def q_generator_due(spark, sf_dir):
    """F9/F10: due-for-fetch gate + min-score (fetch_time <= cutoff)."""
    f = derived_frontier(spark, sf_dir)
    cutoff = 820454400000  # 1996-01-01 UTC
    return f.filter(
        (F.col("fetch_time") <= cutoff)
        & (F.col("status") == 1)
        & (F.col("score") >= 1000.0)
    ).select("url", "fetch_time", "score")


SQL_GENERATOR_DUE = f"""
WITH {FRONTIER_CTE}
SELECT url, fetch_time, score FROM frontier
WHERE fetch_time <= 820454400000 AND status = 1 AND score >= 1000.0
"""


def q_partition_hostcount(spark, sf_dir):
    """P1: politeness unit sanity — URLs per host (byHost partitioning key)."""
    f = derived_frontier(spark, sf_dir)
    return f.groupBy("host").agg(F.count("*").alias("n_urls"))


SQL_PARTITION_HOSTCOUNT = f"""
WITH {FRONTIER_CTE}
SELECT host, COUNT(*) AS n_urls FROM frontier GROUP BY host
"""


def q_partition_byip(spark, sf_dir):
    """P1 byIP: politeness key = resolved address with host fallback
    (URLPartitioner.java:79-86), the resolver injected as a (host, ip)
    table (operators/resolve.py) — deterministic md5 fixture standing in
    for the batched-resolution table (no DNS in this sandbox); ~25% of
    hosts stay unresolved to exercise the UnknownHostException fallback."""
    from nutch_spark.operators.resolve import fake_resolver, politeness_key

    f = derived_frontier(spark, sf_dir)
    res = fake_resolver(f.select("host"))
    keyed, key = politeness_key(f, "byIP", res)
    return keyed.groupBy(key).agg(F.count(F.lit(1)).alias("n_urls"))


SQL_PARTITION_BYIP = f"""
WITH {FRONTIER_CTE},
res AS (
  SELECT host,
         CASE WHEN substr(md5(host), 1, 1) < 'c'
              THEN 'ip-' || substr(md5(host), 1, 8) END AS ip
  FROM (SELECT DISTINCT host FROM frontier)
)
SELECT coalesce(r.ip, f.host) AS pkey, COUNT(*) AS n_urls
FROM frontier f LEFT JOIN res r USING (host)
GROUP BY 1
"""


def q_inject_merge(spark, sf_dir):
    """A1: inject-merge — existing frontier row wins over injected seed
    (Injector.java:175-242)."""
    f = derived_frontier(spark, sf_dir)
    c = load(spark, sf_dir, "customer")
    seeds = c.select(
        F.concat(F.lit("http://h"), (F.col("c_custkey") % 50).cast("string"),
                 F.lit(".example.com/order/"), F.col("c_custkey").cast("string")).alias("url"),
        F.lit(1).cast("long").alias("seed_status"),
        F.col("c_acctbal").alias("seed_score"),
    )
    j = f.select("url", "status", "score").join(seeds, "url", "full_outer")
    return j.select(
        "url",
        F.coalesce(F.col("status"), F.col("seed_status")).alias("status"),
        F.round(F.coalesce(F.col("score"), F.col("seed_score")), 2).alias("score"),
    )


SQL_INJECT_MERGE = f"""
WITH {FRONTIER_CTE},
seeds AS (
  SELECT 'http://h' || CAST(c_custkey % 50 AS VARCHAR) || '.example.com/order/'
           || CAST(c_custkey AS VARCHAR) AS url,
         CAST(1 AS BIGINT) AS seed_status,
         c_acctbal AS seed_score
  FROM customer
)
SELECT COALESCE(f.url, s.url) AS url,
       COALESCE(f.status, s.seed_status) AS status,
       ROUND(COALESCE(f.score, s.seed_score), 2) AS score
FROM frontier f FULL OUTER JOIN seeds s ON f.url = s.url
"""


def q_updatedb_transitions(spark, sf_dir):
    """A2 (SQL-expressible core): status-transition switch. Fetch results are
    derived: orders with status 1 'succeed' if orderkey%7!=0, retry if %7==0;
    retries>=3 -> gone (CrawlDbReducer.java:181-283)."""
    f = derived_frontier(spark, sf_dir)
    fetched = f.filter(F.col("status") == 1).select(
        "url",
        F.when(F.col("retries") % 7 == 0, F.lit(34)).otherwise(F.lit(33)).alias("fetch_status"),
        # 33=success-ish, 34=retry-ish codes for this derived test
    )
    j = f.join(fetched, "url", "left")
    new_status = (
        F.when(F.col("fetch_status").isNull(), F.col("status"))
        .when(F.col("fetch_status") == 33, F.lit(2))
        .when((F.col("fetch_status") == 34) & (F.col("retries") + 1 >= 3), F.lit(3))
        .otherwise(F.lit(1))
    )
    new_retries = F.when(F.col("fetch_status") == 34, F.col("retries") + 1).otherwise(F.lit(0))
    return j.select(
        "url",
        new_status.cast("long").alias("new_status"),
        new_retries.cast("long").alias("new_retries"),
    )


SQL_UPDATEDB_TRANSITIONS = f"""
WITH {FRONTIER_CTE},
fetched AS (
  SELECT url, CASE WHEN retries % 7 = 0 THEN 34 ELSE 33 END AS fetch_status
  FROM frontier WHERE status = 1
)
SELECT f.url,
       CAST(CASE
         WHEN x.fetch_status IS NULL THEN f.status
         WHEN x.fetch_status = 33 THEN 2
         WHEN x.fetch_status = 34 AND f.retries + 1 >= 3 THEN 3
         ELSE 1
       END AS BIGINT) AS new_status,
       CAST(CASE WHEN x.fetch_status = 34 THEN f.retries + 1 ELSE 0 END AS BIGINT) AS new_retries
FROM frontier f LEFT JOIN fetched x ON f.url = x.url
"""


def q_schedule_default(spark, sf_dir):
    """T1: next fetch = fetch_time + interval*1000 (DefaultFetchSchedule.java:33-45)."""
    f = derived_frontier(spark, sf_dir)
    return f.select(
        "url", (F.col("fetch_time") + F.col("fetch_interval") * 1000).alias("next_fetch_time")
    )


SQL_SCHEDULE_DEFAULT = f"""
WITH {FRONTIER_CTE}
SELECT url, fetch_time + fetch_interval * 1000 AS next_fetch_time FROM frontier
"""


def q_schedule_adaptive(spark, sf_dir):
    """T2: adaptive interval — modified (retries%2=0) shrinks x0.8, else
    grows x1.4, clamped to [3600, 864000] (AdaptiveFetchSchedule.java:76-130)."""
    f = derived_frontier(spark, sf_dir)
    adj = F.when(F.col("retries") % 2 == 0, F.col("fetch_interval") * 0.8).otherwise(
        F.col("fetch_interval") * 1.4
    )
    clamped = F.greatest(F.lit(3600.0), F.least(F.lit(864000.0), adj))
    return f.select("url", F.round(clamped, 0).cast("long").alias("next_interval"))


SQL_SCHEDULE_ADAPTIVE = f"""
WITH {FRONTIER_CTE}
SELECT url,
       CAST(ROUND(GREATEST(3600.0, LEAST(864000.0,
         CASE WHEN retries % 2 = 0 THEN fetch_interval * 0.8
              ELSE fetch_interval * 1.4 END)), 0) AS BIGINT) AS next_interval
FROM frontier
"""


def q_schedule_mime(spark, sf_dir):
    """T3: MIME-adaptive schedule — per-MIME inc/dec rates override the
    adaptive defaults (crawl/MimeAdaptiveFetchSchedule.java:40-120).
    mime derived from orderpriority; modified from retries parity."""
    from nutch_spark.config import CrawlConfig
    from nutch_spark.operators.updatedb import mime_adaptive_interval

    f = derived_frontier(spark, sf_dir).select(
        "url", "fetch_interval", "retries",
        F.when(F.col("retries") % 3 == 0, "text/html")
        .when(F.col("retries") % 3 == 1, "image/jpeg")
        .otherwise("application/pdf").alias("mime"),
        (F.col("retries") % 2 == 0).alias("modified"),
    )
    rates = spark.createDataFrame(
        [("text/html", 0.2, 0.2), ("image/jpeg", 0.8, 0.1)],
        "mime string, inc_rate double, dec_rate double",
    )
    cfg = CrawlConfig(adaptive_min_interval=3600, adaptive_max_interval=864000)
    return mime_adaptive_interval(f, rates, cfg).select("url", "mime", "next_interval")


SQL_SCHEDULE_MIME = f"""
WITH {FRONTIER_CTE},
typed AS (
  SELECT url, fetch_interval,
         CASE WHEN retries % 3 = 0 THEN 'text/html'
              WHEN retries % 3 = 1 THEN 'image/jpeg'
              ELSE 'application/pdf' END AS mime,
         retries % 2 = 0 AS modified
  FROM frontier
),
rates AS (
  SELECT 'text/html' AS mime, 0.2 AS inc_rate, 0.2 AS dec_rate
  UNION ALL SELECT 'image/jpeg', 0.8, 0.1
)
SELECT t.url, t.mime,
       CAST(ROUND(GREATEST(3600.0, LEAST(864000.0,
         CASE WHEN t.modified THEN t.fetch_interval * (1.0 - COALESCE(r.dec_rate, 0.2))
              ELSE t.fetch_interval * (1.0 + COALESCE(r.inc_rate, 0.4)) END)), 0) AS BIGINT)
         AS next_interval
FROM typed t LEFT JOIN rates r ON t.mime = r.mime
"""


def q_linkdb_invert(spark, sf_dir):
    """A4: LinkDb invert — external-only inlink counts per target
    (crawl/LinkDb.java:80-139)."""
    e = derived_edges(spark, sf_dir)
    return (
        e.filter(F.col("to_host") != F.col("from_host"))
        .groupBy("to_url")
        .agg(
            F.countDistinct("from_url").alias("n_inlinks"),
            F.min("anchor").alias("first_anchor"),
        )
    )


SQL_LINKDB_INVERT = f"""
WITH {EDGES_CTE}
SELECT to_url, COUNT(DISTINCT from_url) AS n_inlinks, MIN(anchor) AS first_anchor
FROM edges WHERE to_host <> from_host GROUP BY to_url
"""


def q_opic_inlink_sum(spark, sf_dir):
    """A3: OPIC — sum of top-5 inlink scores per target
    (CrawlDbReducer.java:300-313 bounded queue + OPICScoringFilter.java:90-98)."""
    # deterministic dedup matching the oracle: max link_score per pair —
    # dropDuplicates keeps an ARBITRARY survivor, which varies with
    # partitioning when duplicate (to, from) pairs carry different scores
    # (latent at the shipped scale factors, where no such pairs exist)
    e = (
        derived_edges(spark, sf_dir)
        .groupBy("to_url", "from_url")
        .agg(F.max("link_score").alias("link_score"))
    )
    w = Window.partitionBy("to_url").orderBy(F.desc("link_score"), F.asc("from_url"))
    return (
        e.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .groupBy("to_url")
        .agg(F.round(F.sum("link_score"), 2).alias("opic_score"), F.count("*").alias("n_used"))
    )


SQL_OPIC_INLINK_SUM = f"""
WITH {EDGES_CTE},
dedup AS (
  SELECT to_url, from_url, MAX(link_score) AS link_score, MIN(anchor) AS anchor
  FROM (SELECT to_url, from_url, link_score, anchor,
               ROW_NUMBER() OVER (PARTITION BY to_url, from_url ORDER BY link_score DESC, anchor) AS dd
        FROM edges) WHERE dd = 1 GROUP BY to_url, from_url
),
ranked AS (
  SELECT to_url, link_score,
         ROW_NUMBER() OVER (PARTITION BY to_url ORDER BY link_score DESC, from_url ASC) AS rk
  FROM dedup
)
SELECT to_url, ROUND(SUM(link_score), 2) AS opic_score, COUNT(*) AS n_used
FROM ranked WHERE rk <= 5 GROUP BY to_url
"""


def q_segment_merge(spark, sf_dir):
    """A8: SegmentMerger — latest segment wins per url
    (segment/SegmentMerger.java:66-112)."""
    e = derived_edges(spark, sf_dir)
    w = Window.partitionBy("from_url").orderBy(F.desc("segment"), F.asc("to_url"))
    return (
        e.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("from_url", F.col("to_url").alias("kept_link"), "segment")
    )


SQL_SEGMENT_MERGE = f"""
WITH {EDGES_CTE}
SELECT from_url, to_url AS kept_link, segment FROM (
  SELECT from_url, to_url, segment,
         ROW_NUMBER() OVER (PARTITION BY from_url ORDER BY segment DESC, to_url ASC) AS rk
  FROM edges
) WHERE rk = 1
"""


def q_crawldb_merge(spark, sf_dir):
    """A5: CrawlDbMerger — latest fetch_time wins (crawl/CrawlDbMerger.java:60+).
    Second db = same frontier with shifted fetch_time for odd orderkeys."""
    f = derived_frontier(spark, sf_dir)
    f2 = f.withColumn("fetch_time", F.col("fetch_time") + (F.col("retries") % 2) * 1000)
    un = f.unionByName(f2)
    w = Window.partitionBy("url").orderBy(F.desc("fetch_time"), F.desc("status"))
    return (
        un.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("url", "fetch_time", "status")
    )


SQL_CRAWLDB_MERGE = f"""
WITH {FRONTIER_CTE},
both_dbs AS (
  SELECT url, fetch_time, status FROM frontier
  UNION ALL
  SELECT url, fetch_time + (retries % 2) * 1000 AS fetch_time, status FROM frontier
)
SELECT url, fetch_time, status FROM (
  SELECT url, fetch_time, status,
         ROW_NUMBER() OVER (PARTITION BY url ORDER BY fetch_time DESC, status DESC) AS rk
  FROM both_dbs
) WHERE rk = 1
"""


def q_index_dedup(spark, sf_dir):
    """A10: SolrDeleteDuplicates — keep highest score per signature
    (indexer/solr/SolrDeleteDuplicates.java:60+)."""
    f = derived_frontier(spark, sf_dir)
    sig = F.md5((F.col("retries") % 3).cast("string"))  # coarse digest groups
    w = Window.partitionBy("digest").orderBy(F.desc("score"), F.asc("url"))
    return (
        f.withColumn("digest", sig)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("digest", F.col("url").alias("kept_url"), F.round("score", 2).alias("score"))
    )


SQL_INDEX_DEDUP = f"""
WITH {FRONTIER_CTE}
SELECT digest, url AS kept_url, ROUND(score, 2) AS score FROM (
  SELECT md5(CAST(retries % 3 AS VARCHAR)) AS digest, url, score,
         ROW_NUMBER() OVER (PARTITION BY md5(CAST(retries % 3 AS VARCHAR))
                            ORDER BY score DESC, url ASC) AS rk
  FROM frontier
) WHERE rk = 1
"""


def q_indexer_join(spark, sf_dir):
    """J2/I1-I4: indexer co-group — frontier ⋈ edges(as parse) inner join +
    boost = sqrt(score) (IndexerMapReduce.java:149-161, OPIC :155-157)."""
    f = derived_frontier(spark, sf_dir)
    e = derived_edges(spark, sf_dir).groupBy("from_url").agg(F.count("*").alias("n_outlinks"))
    return (
        f.join(e, f.url == e.from_url, "inner")
        .select(
            "url", "n_outlinks",
            F.round(F.sqrt(F.col("score")), 4).alias("boost"),
        )
    )


SQL_INDEXER_JOIN = f"""
WITH {FRONTIER_CTE}, {EDGES_CTE},
parsed AS (SELECT from_url, COUNT(*) AS n_outlinks FROM edges GROUP BY from_url)
SELECT f.url, p.n_outlinks, ROUND(SQRT(f.score), 4) AS boost
FROM frontier f JOIN parsed p ON f.url = p.from_url
"""


def q_index_fields(spark, sf_dir):
    """I3 leftovers through the REAL build_index: tld field (plugin/tld
    TLDIndexingFilter.java:50-53), metatag.* fields (parse-metatags
    MetaTagsParser.java:79-93 -> index-metadata MetadataIndexer.java:48-54,
    incl. key lowercasing and index.parse.md filtering), and index-static
    constants (StaticFieldIndexer.java:44-68)."""
    from nutch_spark import schemas
    from nutch_spark.config import CrawlConfig
    from nutch_spark.operators.indexer import build_index

    cfg = CrawlConfig(
        index_parse_md=("metatag.keywords", "metatag.description"),
        index_static="collection:web crawl, source : sim, malformed-entry",
    )
    f = derived_frontier(spark, sf_dir)
    fetch_out = f.select(
        "url",
        F.lit(schemas.STATUS_FETCH_SUCCESS).alias("fetch_status"),
        F.col("fetch_time").alias("fetch_ts"),
        (F.col("retries") * 100 + 1000).alias("content_length"),
    )
    parse_text = f.select("url", F.concat(F.lit("body "), F.col("url")).alias("text"))
    parse_data = f.select(
        "url",
        F.concat(F.lit("T "), F.col("host")).alias("title"),
        F.create_map(
            F.lit("Keywords"), F.concat(F.lit("k-"), F.col("host")),  # case-lowered
            F.lit("description"), F.col("signature"),
            F.lit("viewport"), F.lit("w=1024"),  # not in index.parse.md -> dropped
        ).alias("meta"),
        # index-more type source: declared with params/casing noise for the
        # cleanMimeType path (MoreIndexingFilter.addType)
        F.when(F.col("retries") % 2 == 0,
               F.lit("Text/HTML; charset=UTF-8")).alias("content_type"),
    )
    idx = build_index(f, fetch_out, parse_text, parse_data, None, cfg)
    return idx.select(
        "url", "tld",
        F.round(F.col("boost"), 4).alias("boost"),
        F.element_at("metatags", "metatag.keywords").alias("kw"),
        F.element_at("metatags", "metatag.description").alias("descr"),
        F.element_at("metatags", "metatag.viewport").alias("vp"),
        F.element_at("static_fields", "collection").alias("collection"),
        F.element_at("static_fields", "source").alias("source"),
        F.array_join("type", "|").alias("mime_type"),
    )


SQL_INDEX_FIELDS = f"""
WITH {FRONTIER_CTE}
SELECT url,
       'com' AS tld,
       ROUND(SQRT(score), 4) AS boost,
       'k-' || host AS kw,
       signature AS descr,
       CAST(NULL AS VARCHAR) AS vp,
       'web crawl' AS collection,
       'sim' AS source,
       CASE WHEN retries % 2 = 0 THEN 'text/html|text|html'
            ELSE CAST(NULL AS VARCHAR) END AS mime_type
FROM frontier
WHERE status <> 3
"""


def q_domain_stats(spark, sf_dir):
    """A9: DomainStatistics — url counts per host suffix bucket
    (util/domain/DomainStatistics.java:47+)."""
    e = derived_edges(spark, sf_dir)
    return (
        e.select(F.col("to_host").alias("host"))
        .groupBy("host")
        .agg(F.count("*").alias("n"))
    )


SQL_DOMAIN_STATS = f"""
WITH {EDGES_CTE}
SELECT to_host AS host, COUNT(*) AS n FROM edges GROUP BY to_host
"""


def q_seen_antijoin(spark, sf_dir):
    """Seen-set novelty: outlink targets not present in the frontier
    (left-anti; the exact layer under the bloom sketch)."""
    f = derived_frontier(spark, sf_dir)
    e = derived_edges(spark, sf_dir)
    return (
        e.select("to_url").distinct()
        .join(f.select(F.col("url").alias("to_url")), "to_url", "left_anti")
    )


SQL_SEEN_ANTIJOIN = f"""
WITH {FRONTIER_CTE}, {EDGES_CTE}
SELECT DISTINCT to_url FROM edges
WHERE to_url NOT IN (SELECT url FROM frontier)
"""


def q_score_updater(spark, sf_dir):
    """J5: ScoreUpdater — graph score (inlink count) overlays frontier score;
    urls ABSENT from the node db are reset to link.score.updater.clear.score
    (ScoreUpdater.java:76,119-131), not left with their old score."""
    from nutch_spark.operators.webgraph import update_scores

    f = derived_frontier(spark, sf_dir)
    g = (
        derived_edges(spark, sf_dir)
        .groupBy(F.col("from_url").alias("url"))
        .agg(F.count("*").cast("double").alias("rank"))
    )
    return update_scores(f, g, clear_score=0.0).select(
        "url", F.round(F.col("score").cast("double"), 2).alias("new_score")
    )


SQL_SCORE_UPDATER = f"""
WITH {FRONTIER_CTE}, {EDGES_CTE},
g AS (SELECT from_url, CAST(COUNT(*) AS DOUBLE) AS graph_score FROM edges GROUP BY from_url)
SELECT f.url,
       ROUND(CAST(CAST(COALESCE(g.graph_score, 0.0) AS REAL) AS DOUBLE), 2) AS new_score
FROM frontier f LEFT JOIN g ON f.url = g.from_url
"""


# --- training-data ops over documents/embeddings/events --------------------

def q_dedup_exact(spark, sf_dir):
    """Exact dedup groups over documents (hash-groupBy). The corpus has no
    literal duplicates, so every 10th doc is unioned back in under a shifted
    id — deterministic in both engines — and the dedup must find exactly
    those groups and keep the lowest doc_id."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    dupes = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    return (
        d.unionByName(dupes)
        .select(F.md5(F.col("text")).alias("digest"), "doc_id")
        .groupBy("digest")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n_docs") > 1)
    )


SQL_DEDUP_EXACT = """
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
)
SELECT md5(text) AS digest, COUNT(*) AS n_docs, MIN(doc_id) AS keeper
FROM all_docs GROUP BY md5(text) HAVING COUNT(*) > 1
"""


def q_token_count(spark, sf_dir):
    """Token counting over documents (whitespace tokens of trimmed text)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.when(F.trim(F.col("text")) == "", F.lit(0)).otherwise(F.size(toks)).cast("long")
    return d.select("doc_id", n.alias("n_tokens"))


SQL_TOKEN_COUNT = r"""
SELECT doc_id,
       CAST(CASE WHEN trim(text) = '' THEN 0
                 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
FROM documents
"""


def q_doc_quality(spark, sf_dir):
    """Quality features: chars, punct chars, upper ratio (pretraining filter)."""
    d = load(spark, sf_dir, "documents")
    n_chars = F.length("text")
    n_punct = F.length(F.regexp_replace(F.col("text"), r"[^!?.,;:]", ""))
    return d.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        n_punct.cast("long").alias("n_punct"),
        F.round(n_punct / n_chars, 4).alias("punct_ratio"),
    )


SQL_DOC_QUALITY = r"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(length(regexp_replace(text, '[^!?.,;:]', '', 'g')) AS BIGINT) AS n_punct,
       ROUND(length(regexp_replace(text, '[^!?.,;:]', '', 'g')) * 1.0 / length(text), 4) AS punct_ratio
FROM documents
"""


def q_lang_id(spark, sf_dir):
    """Language-ID n-gram/stopword heuristic (functions/text.py:detect_language)
    — native Catalyst stopword vote, no UDF."""
    from nutch_spark.functions.text import detect_language

    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", detect_language(F.col("text")).alias("lang_pred"))


# DuckDB oracle mirrors the stopword vote incl. the tie-break (Spark's
# array_max over struct(score, lang) picks the lexicographically greatest
# lang among equal scores).
_TOKS = r"list_filter(regexp_split_to_array(lower(regexp_replace(text, '[^\w\s]+', ' ', 'g')), '\s+'), t -> t <> '')"


def _lang_score(words: list[str]) -> str:
    arr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return f"len(list_filter({_TOKS}, t -> list_contains({arr}, t)))"


SQL_LANG_ID = f"""
WITH scored AS (
  SELECT doc_id,
         {_lang_score(['the','and','of','to','in','is','that','for','with','was'])} AS s_en,
         {_lang_score(['der','die','und','das','nicht','ist','ein','mit','den','auf'])} AS s_de,
         {_lang_score(['le','la','les','et','des','est','pour','dans','que','une'])} AS s_fr,
         {_lang_score(['el','la','los','de','que','y','en','un','por','con'])} AS s_es
  FROM documents
)
SELECT doc_id,
       CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
            WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
            WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
            WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
            ELSE 'de' END AS lang_pred
FROM scored
"""


def q_bpe_token_count(spark, sf_dir):
    """BPE-ish token counting via one regexp pass (functions/text.py)."""
    from nutch_spark.functions.text import bpe_ish_token_count

    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", bpe_ish_token_count(F.col("text")).cast("long").alias("n_pieces"))


SQL_BPE_TOKEN_COUNT = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z]{1,4}|\d|[^\sA-Za-z\d]')) AS BIGINT) AS n_pieces
FROM documents
"""


def q_doc_fingerprint(spark, sf_dir):
    """Document fingerprint: digest of the token-normalized text (the
    TextProfileSignature role; md5 here so both engines agree)."""
    from nutch_spark.functions.text import tokens_col

    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.md5(F.array_join(tokens_col(F.col("text")), " ")).alias("digest")
    )


SQL_DOC_FINGERPRINT = f"""
SELECT doc_id, md5(array_to_string({_TOKS}, ' ')) AS digest
FROM documents
"""


def q_lang_distribution(spark, sf_dir):
    """Language-ID proxy distribution (declared lang vs length buckets)."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(F.length("text")), 2).alias("avg_len"),
    )


SQL_LANG_DISTRIBUTION = """
SELECT lang, COUNT(*) AS n_docs, ROUND(AVG(length(text)), 2) AS avg_len
FROM documents GROUP BY lang
"""


def q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-3 neighbors for the 5 lowest vec_ids
    (similarity-search baseline)."""
    e = load(spark, sf_dir, "embeddings")
    q = e.orderBy("vec_id").limit(5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    dot = F.aggregate(
        F.zip_with("q_vec", "embedding", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda a, v: a + v,
    )
    nrm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda a, v: a + v,
    ))
    scored = q.crossJoin(e).filter(F.col("vec_id") != F.col("q_id")).select(
        "q_id", F.col("vec_id").alias("nn_id"),
        F.round(dot / (nrm(F.col("q_vec")) * nrm(F.col("embedding"))), 4).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("nn_id"))
    return scored.withColumn("rk", F.row_number().over(w).cast("long")).filter(F.col("rk") <= 3)


SQL_COSINE_TOPK = """
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings ORDER BY vec_id LIMIT 5
),
scored AS (
  SELECT q.q_id, e.vec_id AS nn_id,
         ROUND(list_dot_product(q.q_vec, e.embedding)
               / (sqrt(list_dot_product(q.q_vec, q.q_vec))
                  * sqrt(list_dot_product(e.embedding, e.embedding))), 4) AS cosine
  FROM q, embeddings e WHERE e.vec_id <> q.q_id
)
SELECT q_id, nn_id, cosine, rk FROM (
  SELECT q_id, nn_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, nn_id ASC) AS BIGINT) AS rk
  FROM scored
) WHERE rk <= 3
"""


def q_events_hourly(spark, sf_dir):
    """Batch windowed aggregation: hourly event counts by type."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))


SQL_EVENTS_HOURLY = """
SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n,
       ROUND(SUM(value), 2) AS total_value
FROM events GROUP BY date_trunc('hour', ts), event_type
"""


# ---------------------------------------------------------------------------
# rows-only queries (non-SQL-expressible kernels) — no oracle entry
# ---------------------------------------------------------------------------

_FETCH_FIXTURE = dict(threads=3, duration_ms=100, server_delay_ms=1000,
                      max_crawl_delay_ms=30000, max_exc=2, t0=1_700_000_000_000)

_FETCH_FIXTURE_SCHEMA = (
    "url string, host string, page_status string, crawl_delay double, "
    "robots_allowed boolean, redirect_to string, content_length long, "
    "declared_length long, signature_seed long, score double, "
    "fetch_interval int, retries int, sort_hash int"
)


def _fetch_fixture_rows() -> list[dict]:
    """Deterministic fetchlist exercising every politeness path: multi-URL
    host queues with default + robots crawl delays, robots denial, per-queue
    exception purge, Crawl-Delay > max (gone), redirects, notmodified, gone,
    missing pages, and a null-host row (its own '' queue)."""
    rows: list[dict] = []

    def add(url, host, page_status="ok", crawl_delay=None, robots_allowed=True,
            redirect_to=None):
        rows.append({
            "url": url, "host": host, "page_status": page_status,
            "crawl_delay": crawl_delay, "robots_allowed": robots_allowed,
            "redirect_to": redirect_to, "content_length": 100,
            "declared_length": 100, "signature_seed": 7, "score": 1.0,
            "fetch_interval": 2592000, "retries": 0, "sort_hash": len(rows),
        })

    for i in range(5):
        add(f"http://a.com/{i}", "a.com")
    for i in range(4):
        add(f"http://b.com/{i}", "b.com", crawl_delay=2.0)
    add("http://c.com/private/0", "c.com", robots_allowed=False)
    add("http://c.com/ok", "c.com")
    add("http://c.com/private/1", "c.com", robots_allowed=False)
    add("http://d.com/x0", "d.com", page_status="exception")
    add("http://d.com/ok", "d.com")
    add("http://d.com/x1", "d.com", page_status="exception")
    add("http://d.com/never0", "d.com")  # purged after 2nd exception
    add("http://d.com/never1", "d.com")
    add("http://e.com/slow", "e.com", crawl_delay=40.0)  # > max -> gone
    add("http://f.com/rp", "f.com", page_status="redir_perm", redirect_to="http://f.com/t")
    add("http://f.com/rt", "f.com", page_status="redir_temp", redirect_to="http://f.com/u")
    add("http://f.com/nm", "f.com", page_status="notmodified")
    add("http://f.com/gone", "f.com", page_status="gone")
    add("http://f.com/miss", "f.com", page_status=None)
    add("http://no-host-row/x", None)
    return rows


def q_fetch_kernel(spark, sf_dir):
    """R1-R9: virtual-clock politeness kernel over a fixed fetchlist fixture.
    Oracled against an INDEPENDENT pure-Python scheduler simulation
    (nutch_spark.oracles.simulate_fetch_reference) rendered to SQL VALUES —
    the full inject->generate->fetch integration stays covered by pytest."""
    from nutch_spark.config import CrawlConfig
    from nutch_spark.operators.fetch import FETCH_OUT_SCHEMA, fetch_partition_kernel

    fx = _FETCH_FIXTURE
    cfg = CrawlConfig(
        num_partitions=1, fetcher_threads=fx["threads"],
        fetch_duration_ms=fx["duration_ms"],
        fetcher_server_delay_ms=fx["server_delay_ms"],
        fetcher_max_crawl_delay_ms=fx["max_crawl_delay_ms"],
        fetcher_max_exceptions_per_queue=fx["max_exc"],
    )
    df = spark.createDataFrame(_fetch_fixture_rows(), schema=_FETCH_FIXTURE_SCHEMA)
    fl = df.repartition(1).sortWithinPartitions("sort_hash")
    kernel = fetch_partition_kernel(cfg, 1, fx["t0"])
    return fl.mapInPandas(kernel, FETCH_OUT_SCHEMA).select(
        "url", "host",
        F.col("fetch_status").cast("long").alias("fetch_status"),
        F.col("seq").cast("long").alias("seq"),
        F.col("fetch_ts").cast("long").alias("fetch_ts"),
    )


def _sql_fetch_kernel():
    from nutch_spark.oracles import sql_fetch_kernel

    return sql_fetch_kernel(_fetch_fixture_rows(), **_FETCH_FIXTURE)


# --- R5 redirect-following kernel fixture -----------------------------------

_FETCH_REDIR_FIXTURE = dict(threads=3, duration_ms=100, server_delay_ms=1000,
                            max_crawl_delay_ms=30000, max_exc=2,
                            t0=1_700_000_000_000, max_redirect=2)

_FETCH_REDIR_SCHEMA = _FETCH_FIXTURE_SCHEMA + (
    ", redirect_chain array<struct<hop:int,url:string,host:string,"
    "page_status:string,redirect_to:string,content_length:bigint,"
    "declared_length:bigint,signature_seed:bigint,crawl_delay:double,"
    "robots_allowed:boolean>>"
)


def _hop(hop, url, host, page_status="ok", redirect_to=None, crawl_delay=None,
         robots_allowed=True):
    return {"hop": hop, "url": url, "host": host, "page_status": page_status,
            "redirect_to": redirect_to, "content_length": 100,
            "declared_length": 100, "signature_seed": 7,
            "crawl_delay": crawl_delay, "robots_allowed": robots_allowed}


def _fetch_redirect_fixture() -> tuple[list[dict], dict[str, list[dict]]]:
    """Fetchlist + pre-joined chains exercising every R5 path: same-host
    follow (queue-clock coupling), cross-host multi-hop, redirect-count
    exceeded (GONE lookahead), robots-denied target, plain rows competing
    for threads."""
    rows: list[dict] = []
    chains: dict[str, list[dict]] = {}

    def add(url, host, page_status="ok", crawl_delay=None, robots_allowed=True,
            redirect_to=None, chain=None):
        rows.append({
            "url": url, "host": host, "page_status": page_status,
            "crawl_delay": crawl_delay, "robots_allowed": robots_allowed,
            "redirect_to": redirect_to, "content_length": 100,
            "declared_length": 100, "signature_seed": 7, "score": 1.0,
            "fetch_interval": 2592000, "retries": 0, "sort_hash": len(rows),
            "redirect_chain": chain,
        })
        if chain:
            chains[url] = chain

    add("http://r.com/a", "r.com", page_status="redir_perm",
        redirect_to="http://r.com/b",
        chain=[_hop(1, "http://r.com/b", "r.com")])
    add("http://r.com/c", "r.com")  # waits out the hop's politeness window
    add("http://s.com/a", "s.com", page_status="redir_temp",
        redirect_to="http://t.com/x",
        chain=[_hop(1, "http://t.com/x", "t.com", "redir_perm", "http://t.com/y"),
               _hop(2, "http://t.com/y", "t.com")])
    add("http://t.com/z", "t.com")  # target host's own fetchlist row
    add("http://u.com/a", "u.com", page_status="redir_perm",
        redirect_to="http://u.com/b",
        chain=[_hop(1, "http://u.com/b", "u.com", "redir_perm", "http://u.com/c"),
               _hop(2, "http://u.com/c", "u.com", "redir_perm", "http://u.com/d"),
               _hop(3, "http://u.com/d", "u.com")])  # count>max -> GONE
    add("http://v.com/a", "v.com", page_status="redir_perm",
        redirect_to="http://w.com/priv/p",
        chain=[_hop(1, "http://w.com/priv/p", "w.com", robots_allowed=False)])
    for i in range(3):
        add(f"http://p.com/{i}", "p.com")
    return rows, chains


def q_fetch_redirects(spark, sf_dir):
    """R5: in-thread redirect following inside the politeness kernel
    (fetcher/Fetcher.java:826-942 do-loop: target fetched immediately by
    the same thread, target host's queue clock pushed to hop end + delay,
    count > http.redirect.max -> GONE/REDIR_EXCEEDED). Oracle = the
    independent pure-Python scheduler simulation with the same chains."""
    from nutch_spark.config import CrawlConfig
    from nutch_spark.operators.fetch import FETCH_OUT_SCHEMA, fetch_partition_kernel

    fx = _FETCH_REDIR_FIXTURE
    rows, _ = _fetch_redirect_fixture()
    cfg = CrawlConfig(
        num_partitions=1, fetcher_threads=fx["threads"],
        fetch_duration_ms=fx["duration_ms"],
        fetcher_server_delay_ms=fx["server_delay_ms"],
        fetcher_max_crawl_delay_ms=fx["max_crawl_delay_ms"],
        fetcher_max_exceptions_per_queue=fx["max_exc"],
        http_redirect_max=fx["max_redirect"],
    )
    df = spark.createDataFrame(rows, schema=_FETCH_REDIR_SCHEMA)
    fl = df.repartition(1).sortWithinPartitions("sort_hash")
    kernel = fetch_partition_kernel(cfg, 1, fx["t0"])
    return fl.mapInPandas(kernel, FETCH_OUT_SCHEMA).select(
        "url", "host",
        F.col("fetch_status").cast("long").alias("fetch_status"),
        F.col("seq").cast("long").alias("seq"),
        F.col("fetch_ts").cast("long").alias("fetch_ts"),
    )


def _sql_fetch_redirects():
    from nutch_spark.oracles import sql_fetch_kernel

    rows, chains = _fetch_redirect_fixture()
    sim_rows = [{k: v for k, v in r.items() if k != "redirect_chain"} for r in rows]
    return sql_fetch_kernel(sim_rows, chains=chains, **_FETCH_REDIR_FIXTURE)


# --- R8 throughput kill-switch kernel fixture --------------------------------

_FETCH_THR_FIXTURE = dict(threads=2, duration_ms=100, server_delay_ms=1500,
                          max_crawl_delay_ms=30000, max_exc=-1,
                          t0=1_700_000_000_000, thr_pages=2, thr_retries=3,
                          thr_check_after=-1)


def _fetch_throughput_rows() -> list[dict]:
    """Two slow hosts (~1.25 pages/s combined < threshold 2): the monitor
    accumulates violations each virtual second and empties the queues at
    the third — the emitted prefix is the deterministic kill boundary."""
    rows: list[dict] = []
    for i in range(10):
        for h in ("m.com", "n.com"):
            rows.append({
                "url": f"http://{h}/{i}", "host": h, "page_status": "ok",
                "crawl_delay": None, "robots_allowed": True,
                "redirect_to": None, "content_length": 100,
                "declared_length": 100, "signature_seed": 7, "score": 1.0,
                "fetch_interval": 2592000, "retries": 0, "sort_hash": len(rows),
            })
    return rows


def q_fetch_throughput(spark, sf_dir):
    """R8: throughput kill-switch (fetcher.throughput.threshold.*;
    Fetcher.java:1330-1386) emulated on the virtual clock — sustained
    sub-threshold pages/s empties every queue; dropped items stay due.
    Oracle = the independent scheduler simulation with the same knobs."""
    from nutch_spark.config import CrawlConfig
    from nutch_spark.operators.fetch import FETCH_OUT_SCHEMA, fetch_partition_kernel

    fx = _FETCH_THR_FIXTURE
    cfg = CrawlConfig(
        num_partitions=1, fetcher_threads=fx["threads"],
        fetch_duration_ms=fx["duration_ms"],
        fetcher_server_delay_ms=fx["server_delay_ms"],
        fetcher_max_crawl_delay_ms=fx["max_crawl_delay_ms"],
        fetcher_max_exceptions_per_queue=fx["max_exc"],
        fetcher_throughput_threshold_pages=fx["thr_pages"],
        fetcher_throughput_threshold_retries=fx["thr_retries"],
        fetcher_throughput_check_after_ms=fx["thr_check_after"],
    )
    df = spark.createDataFrame(_fetch_throughput_rows(), schema=_FETCH_FIXTURE_SCHEMA)
    fl = df.repartition(1).sortWithinPartitions("sort_hash")
    kernel = fetch_partition_kernel(cfg, 1, fx["t0"])
    return fl.mapInPandas(kernel, FETCH_OUT_SCHEMA).select(
        "url", "host",
        F.col("fetch_status").cast("long").alias("fetch_status"),
        F.col("seq").cast("long").alias("seq"),
        F.col("fetch_ts").cast("long").alias("fetch_ts"),
    )


def _sql_fetch_throughput():
    from nutch_spark.oracles import sql_fetch_kernel

    return sql_fetch_kernel(_fetch_throughput_rows(), **_FETCH_THR_FIXTURE)


def q_span_extraction(spark, sf_dir):
    """X1-X5: span extraction over the synthetic corpus, through the crawl's
    own parse kernel and span projection. Oracle = the corpus's
    ground-truth ordered segment lists (built independently of the regex
    parse kernel) as SQL VALUES."""
    from nutch_spark.corpus import SyntheticWeb
    from nutch_spark.operators.parse import explode_spans, extract_documents_by_mime

    tables = SyntheticWeb(n_hosts=6, pages_per_host=3, mega_factor=3).to_spark(spark)
    return explode_spans(extract_documents_by_mime(tables["raw_content"])).select(
        "doc_id", "offset", "kind", "text", "media_ref"
    )


def _sql_span_extraction():
    from nutch_spark.oracles import sql_span_extraction

    return sql_span_extraction(n_hosts=6, pages_per_host=3, mega_factor=3)


def q_minhash_neardup(spark, sf_dir):
    """MinHash+LSH near-dup over documents (Arrow UDF signatures)."""
    from nutch_spark.operators.dedup import minhash_near_duplicates

    d = load(spark, sf_dir, "documents")
    return minhash_near_duplicates(d, threshold=0.5)


def q_simhash_neardup(spark, sf_dir):
    """SimHash near-dup over documents."""
    from nutch_spark.operators.dedup import simhash_near_duplicates

    d = load(spark, sf_dir, "documents")
    return simhash_near_duplicates(d, max_hamming=6)


def q_ann_topk(spark, sf_dir):
    """Multi-table LSH ANN top-k (scale path of q_cosine_topk): 2 tables x
    6 planes, exact cosine within shared buckets only."""
    from nutch_spark.functions.similarity import ann_cosine_topk

    e = load(spark, sf_dir, "embeddings")
    q = e.orderBy("vec_id").limit(5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return ann_cosine_topk(e, q, k=3, n_planes=6, n_tables=2, dim=64,
                           exclude_self=True)


def _sql_ann_topk():
    from nutch_spark.functions.similarity import hyperplanes
    from nutch_spark.oracles import sql_ann_topk

    return sql_ann_topk(hyperplanes(64, 6, 2), k=3)


def q_linkrank(spark, sf_dir):
    """L2: iterative LinkRank over a DETERMINISTIC edge subset
    (l_orderkey % 3 = 0 — a filter, not a limit, so the oracle sees the
    identical graph), reference-exact semantics: initial score 1.0
    (LinkRank.java:333), per-iteration rankOne base 1/numNodes (:625-627),
    and the Analyzer's one-counted-inlink-per-src-domain dedup (:509-545).
    Src hosts carry DISTINCT registered domains (h{sk}.example{sk}.com) so
    the domain dedup is exercised; srcs are distinct per dst, so the greedy
    reduces exactly to first-per-(dst, domain) in src order — which is what
    the oracle unrolls as SQL CTEs."""
    from nutch_spark.operators.webgraph import linkrank

    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 3 == 0)
    sk = (F.col("l_suppkey") % 50).cast("string")
    pk = (F.col("l_partkey") % 40).cast("string")
    e = li.select(
        F.concat(F.lit("http://h"), sk, F.lit(".example"), sk,
                 F.lit(".com/order/"),
                 F.col("l_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("http://p"), pk, F.lit(".example.com/part/"),
                 F.col("l_partkey").cast("string")).alias("dst"),
    ).distinct()
    nodes = (
        e.select(F.col("src").alias("url"))
        .union(e.select(F.col("dst").alias("url")))
        .distinct()
    )
    return linkrank(e, nodes, iterations=3).select(
        "url", F.round("rank", 6).alias("rank")
    )


def _sql_linkrank():
    from nutch_spark.oracles import sql_linkrank

    return sql_linkrank(iterations=3, damping=0.85)


def q_ngram_jaccard(spark, sf_dir):
    """n-gram Jaccard similarity over LSH candidate pairs (dedup suite)."""
    from nutch_spark.operators.dedup import (
        lsh_candidate_pairs, minhash_signatures, ngram_jaccard_pairs,
    )

    d = load(spark, sf_dir, "documents")
    sigs = minhash_signatures(d)
    pairs = lsh_candidate_pairs(sigs)
    return ngram_jaccard_pairs(d, pairs)


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs via multi-table LSH-bucketed
    self-join (2 tables x 4 planes)."""
    from nutch_spark.functions.similarity import embedding_near_duplicates

    e = load(spark, sf_dir, "embeddings")
    # synthetic embeddings are near-orthogonal (p99 cosine ~0.29), so the
    # near-dup threshold is set where real pairs exist at test scale
    return embedding_near_duplicates(e, threshold=0.3, n_planes=4, n_tables=2, dim=64)


def _sql_embedding_neardup():
    from nutch_spark.functions.similarity import hyperplanes
    from nutch_spark.oracles import sql_embedding_neardup

    return sql_embedding_neardup(hyperplanes(64, 4, 2), threshold=0.3)


def q_quality_score(spark, sf_dir):
    """Composite quality heuristic (functions/text.py:quality_score). The
    oracle mirrors the blend expression-for-expression (same association
    order -> bit-identical doubles before round(4))."""
    from nutch_spark.functions.text import quality_score

    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score(F.col("text")).alias("quality"))


def _sql_quality_score():
    from nutch_spark.oracles import sql_quality_score

    return sql_quality_score()


def _sql_minhash_neardup():
    from nutch_spark.oracles import sql_minhash_neardup

    return sql_minhash_neardup(threshold=0.5)


def _sql_simhash_neardup():
    from nutch_spark.oracles import sql_simhash_neardup

    return sql_simhash_neardup(max_hamming=6)


def _sql_ngram_jaccard():
    from nutch_spark.oracles import sql_ngram_jaccard

    return sql_ngram_jaccard()


def q_media_features(spark, sf_dir):
    """Multimodal feature extraction over REAL decoded pixels: the synth
    payloads are actual PPM/BMP/PNG files (rotating per ref index, all
    encoding pixel byte j = (idx+j)%256 for an 8x8 RGB image), the kernel
    decodes them with the stdlib codecs and takes per-row means. Output is
    scalar-sortable: round(f * 6120) inverts mean-of-24-bytes/255 exactly,
    so the driver can sort+hash rows and DuckDB recomputes the decoded
    row-sums arithmetically — a wrong decode in ANY of the three formats
    breaks the hash."""
    from nutch_spark.operators.media import extract_media_features, synth_media_table

    refs = [f"http://img.example-cdn.com/{i}.jpg" for i in range(100)]
    feats = extract_media_features(synth_media_table(spark, refs))
    cols = [
        F.round(F.element_at("feature", j + 1).cast("double") * 6120)
        .cast("long").alias(f"f{j}")
        for j in range(8)
    ]
    return feats.select("media_ref", "kind", "decoded", *cols)


def _sql_media_feature_col(r: int) -> str:
    return (f"CAST((SELECT SUM((idx + {24 * r} + j.k) % 256) "
            f"FROM range(24) j(k)) AS BIGINT) AS f{r}")


SQL_MEDIA_FEATURES = f"""
WITH refs AS (
  SELECT CAST(i AS INTEGER) AS idx,
         'http://img.example-cdn.com/' || CAST(i AS VARCHAR) || '.jpg' AS media_ref
  FROM range(100) t(i)
)
SELECT media_ref, 'image' AS kind, TRUE AS decoded,
       {", ".join(_sql_media_feature_col(r) for r in range(8))}
FROM refs
"""


def _derived_graph(spark, sf_dir):
    e = derived_edges(spark, sf_dir).select(
        F.col("from_url").alias("src"), F.col("to_url").alias("dst")
    ).distinct()
    out_deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    in_deg = e.groupBy("dst").agg(F.count("*").alias("in_deg"))
    nodes = (
        out_deg.select(F.col("src").alias("url"), "out_deg")
        .join(in_deg.select(F.col("dst").alias("url"), "in_deg"), "url", "full_outer")
        .fillna(0, ["in_deg", "out_deg"])
    )
    return e, nodes


def q_nodedump(spark, sf_dir):
    """J7 NodeDumper (scoring/webgraph/NodeDumper.java:58-220): top-200 urls
    by inlink count, desc, url tiebreak."""
    from nutch_spark.operators.webgraph import node_dump

    e, nodes = _derived_graph(spark, sf_dir)
    return node_dump(nodes, by="inlinks", topn=200)


SQL_NODEDUMP = f"""
WITH {EDGES_CTE},
e AS (SELECT DISTINCT from_url AS src, to_url AS dst FROM edges),
outd AS (SELECT src AS url, COUNT(*) AS out_deg FROM e GROUP BY src),
ind AS (SELECT dst AS url, COUNT(*) AS in_deg FROM e GROUP BY dst),
nodes AS (
  SELECT COALESCE(o.url, i.url) AS url, COALESCE(i.in_deg, 0) AS in_deg
  FROM outd o FULL OUTER JOIN ind i ON o.url = i.url
)
SELECT url, CAST(in_deg AS DOUBLE) AS value
FROM nodes ORDER BY value DESC, url ASC LIMIT 200
"""


def q_linkdump(spark, sf_dir):
    """J7 LinkDumper (scoring/webgraph/LinkDumper.java:60-130): per-target
    inlink-node view, projected to scalar columns for the gate (count +
    first inlink in sorted order)."""
    from nutch_spark.operators.webgraph import link_dump

    e, nodes = _derived_graph(spark, sf_dir)
    ld = link_dump(e, nodes)
    return ld.select(
        "url", "n_inlinks",
        F.element_at("inlink_nodes", 1)["src"].alias("top_src"),
    )


SQL_LINKDUMP = f"""
WITH {EDGES_CTE},
e AS (SELECT DISTINCT from_url AS src, to_url AS dst FROM edges)
SELECT dst AS url, COUNT(*) AS n_inlinks, MIN(src) AS top_src
FROM e GROUP BY dst
"""


def q_http_dates(spark, sf_dir):
    """C12 HttpDateFormat (net/protocols/HttpDateFormat.java:37): RFC-822
    GMT format + lenient parse roundtrip over frontier fetch times."""
    from nutch_spark.functions.dates import http_date_format_udf, http_date_parse_udf

    f = derived_frontier(spark, sf_dir)
    return (
        f.select("url", http_date_format_udf(F.col("fetch_time")).alias("http_date"))
        .withColumn("parsed_ms", http_date_parse_udf(F.col("http_date")))
    )


SQL_HTTP_DATES = f"""
WITH {FRONTIER_CTE}
SELECT url,
       strftime(to_timestamp(fetch_time / 1000.0) AT TIME ZONE 'UTC',
                '%a, %d %b %Y %H:%M:%S GMT') AS http_date,
       fetch_time AS parsed_ms
FROM frontier
"""


def q_regex_normalize(spark, sf_dir):
    """F3 RegexURLNormalizer (urlnormalizer-regex/.../RegexURLNormalizer.java:182-191):
    session-id stripping, default-page collapsing, anchor removal, query
    cleanup — native Java-regex chain (whole-stage codegen). The oracle runs
    the RE2-dialect port of the same rules; both dialects verified against
    the reference's regex-normalize-default.test pairs."""
    from nutch_spark.functions.normalizers import RegexURLNormalizer

    o = load(spark, sf_dir, "orders")
    base = F.concat(F.lit("http://h"), (F.col("o_custkey") % 50).cast("string"),
                    F.lit(".example.com/"))
    ok = F.col("o_orderkey")
    url = (
        F.when(ok % 4 == 0, F.concat(base, F.lit("foo.php?PHPSESSID="), F.md5(ok.cast("string"))))
        .when(ok % 4 == 1, F.concat(base, F.lit("a/index.html")))
        .when(ok % 4 == 2, F.concat(base, F.lit("p.html#anchor?x="), ok.cast("string")))
        .otherwise(F.concat(base, F.lit("q.html?a=1&&b="), ok.cast("string")))
    )
    rn = RegexURLNormalizer()
    return o.select(url.alias("url")).select("url", rn.col(F.col("url")).alias("normalized"))


def _sql_regex_normalize():
    from nutch_spark.oracles import sql_regex_normalize

    return sql_regex_normalize()


def q_items(spark, sf_dir):
    """X11: all 15 platform item extractors over the synthetic corpus
    (parse kernel documents -> config-driven extraction incl. the
    price-image OCR-lookup analogue). Oracle = the corpus's planted item
    ground truth."""
    from nutch_spark.corpus import SyntheticWeb
    from nutch_spark.operators.items import extract_items
    from nutch_spark.operators.parse import extract_documents_by_mime

    tables = SyntheticWeb(n_hosts=6, pages_per_host=3, mega_factor=3).to_spark(spark)
    # documents = the non-empty nested rows, as run_parse commits them
    docs = extract_documents_by_mime(tables["raw_content"]).filter(
        F.size("spans") > 0).select("doc_id", "spans")
    items = extract_items(docs, tables["price_images"])
    return items.select(
        "doc_id", "platform", "item_id", "name",
        F.array_join("category", " > ").alias("category_path"),
        F.round("price", 2).alias("price"), "photo_ref",
    )


def _sql_items():
    from nutch_spark.oracles import sql_items

    return sql_items(n_hosts=6, pages_per_host=3, mega_factor=3)


# ---------------------------------------------------------------------------
# round-2 surface: C8-C10 content kernels, S8 ARC, S9 DMOZ, R10 follow,
# duplicate clustering
# ---------------------------------------------------------------------------

# repo-local scratch dir beside the package (git-ignored), so every
# checkout or copy writes its fixtures into itself
_FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".gate_fixtures")


def q_mime_resolve(spark, sf_dir):
    """C10 MIME resolution (util/MimeUtil.java:145-199) over six derived
    cases: declared-clean, octet-stream->extension, magic override,
    extension+plain magic, magic only, unresolvable->octet-stream."""
    from nutch_spark.functions.content import resolve_mime_udf

    o = load(spark, sf_dir, "orders")
    k = F.col("o_orderkey") % 6
    i = F.col("o_orderkey").cast("string")
    url = (
        F.when(k == 0, F.concat(F.lit("http://m.example.com/a"), i, F.lit(".html")))
        .when(k == 1, F.concat(F.lit("http://m.example.com/p"), i, F.lit(".png")))
        .when(k == 2, F.concat(F.lit("http://m.example.com/x"), i, F.lit(".bin")))
        .when(k == 3, F.concat(F.lit("http://m.example.com/t"), i, F.lit(".txt")))
        .otherwise(F.concat(F.lit("http://m.example.com/n"), i))
    )
    declared = (
        F.when(k == 0, F.lit("text/html; charset=utf-8"))
        .when(k == 1, F.lit("application/octet-stream"))
        .when(k == 2, F.lit("text/html"))
        .when(k == 5, F.lit("application/octet-stream"))
        .otherwise(F.lit(None).cast("string"))
    )
    content = (
        F.when(k == 0, F.encode(F.lit("<html><p>x</p></html>"), "utf-8"))
        .when(k == 1, F.unhex(F.lit("89504E470D0A1A0A00")))     # PNG magic
        .when(k == 2, F.encode(F.lit("%PDF-1.4 body"), "utf-8"))
        .when(k == 3, F.encode(F.lit("plain words only"), "utf-8"))
        .when(k == 4, F.encode(F.lit("GIF89a-data"), "utf-8"))
        .otherwise(F.unhex(F.lit("000102030405")))               # binary junk
    )
    df = o.select(url.alias("url"), declared.alias("declared"),
                  content.alias("content"), k.cast("long").alias("kind_case"))
    return df.select(
        "url", "kind_case",
        resolve_mime_udf(F.col("declared"), F.col("url"), F.col("content")).alias("mime"),
    )


SQL_MIME_RESOLVE = """
SELECT 'http://m.example.com/' ||
       CASE o_orderkey % 6
         WHEN 0 THEN 'a' || CAST(o_orderkey AS VARCHAR) || '.html'
         WHEN 1 THEN 'p' || CAST(o_orderkey AS VARCHAR) || '.png'
         WHEN 2 THEN 'x' || CAST(o_orderkey AS VARCHAR) || '.bin'
         WHEN 3 THEN 't' || CAST(o_orderkey AS VARCHAR) || '.txt'
         ELSE 'n' || CAST(o_orderkey AS VARCHAR) END AS url,
       CAST(o_orderkey % 6 AS BIGINT) AS kind_case,
       CASE o_orderkey % 6
         WHEN 0 THEN 'text/html'
         WHEN 1 THEN 'image/png'
         WHEN 2 THEN 'application/pdf'
         WHEN 3 THEN 'text/plain'
         WHEN 4 THEN 'image/gif'
         ELSE 'application/octet-stream' END AS mime
FROM orders
"""


def q_charset_sniff(spark, sf_dir):
    """C8 charset detection (HtmlParser.java:95-121 meta sniff +
    EncodingDetector clue walk): detect clues (BOM / strict multibyte
    UTF-8, the ICU slot) > header > meta sniff (alias-resolved) > default
    — the reference's clue insertion order with autodetection enabled."""
    from nutch_spark.functions.content import charset_udf

    o = load(spark, sf_dir, "orders")
    k = F.col("o_orderkey") % 5
    content = (
        F.when(k == 0, F.concat(F.unhex(F.lit("EFBBBF")), F.encode(F.lit("<p>x</p>"), "utf-8")))
        .when(k == 1, F.encode(
            F.lit('<meta http-equiv="content-type" content="text/html; charset=gb2312"><p>x</p>'),
            "utf-8"))
        .when(k == 2, F.encode(F.lit("plain ascii body"), "utf-8"))
        .when(k == 3, F.encode(F.lit("café utf-8 bytes"), "utf-8"))
        .otherwise(F.unhex(F.lit("FDFF81FE")))
    )
    header = F.when(k == 2, F.lit("ISO-8859-1")).otherwise(F.lit(None).cast("string"))
    df = o.select(F.col("o_orderkey").cast("long").alias("rec_id"),
                  content.alias("content"), header.alias("header_charset"))
    return df.select(
        "rec_id", charset_udf(F.col("content"), F.col("header_charset")).alias("charset")
    )


SQL_CHARSET_SNIFF = """
SELECT CAST(o_orderkey AS BIGINT) AS rec_id,
       CASE o_orderkey % 5
         WHEN 0 THEN 'utf-8'
         WHEN 1 THEN 'gb18030'
         WHEN 2 THEN 'windows-1252'
         WHEN 3 THEN 'utf-8'
         ELSE 'windows-1252' END AS charset
FROM orders
"""


def _gzip_fixture_df(spark, n: int = 200):
    """(rec_id, gz) rows: gzip of a text both engines can restate exactly.
    Compression happens at plan-build time (driver); the DISTRIBUTED kernel
    under test is the decompression UDF."""
    import gzip as _gzip

    rows = [
        (i, bytearray(_gzip.compress(
            f"doc {i} {'x' * (i % 50)}".encode(), mtime=0)))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "rec_id long, gz binary")


def q_gzip_decompress(spark, sf_dir):
    """C9 gzip decompress (GZIPUtils.java:44-92): unzip_best_effort inverts
    the fixture's compression; digest + length restated arithmetically by
    the oracle (truncated/corrupt best-effort paths are pytest-covered)."""
    from nutch_spark.functions.content import unzip_udf

    df = _gzip_fixture_df(spark)
    out = df.withColumn("plain", unzip_udf(F.col("gz")))
    return out.select(
        "rec_id",
        F.md5(F.col("plain")).alias("digest"),
        F.length(F.col("plain")).cast("long").alias("n_bytes"),
    )


SQL_GZIP_DECOMPRESS = """
SELECT CAST(i AS BIGINT) AS rec_id,
       md5('doc ' || CAST(i AS VARCHAR) || ' ' || repeat('x', CAST(i % 50 AS INTEGER))) AS digest,
       CAST(length('doc ' || CAST(i AS VARCHAR) || ' ' || repeat('x', CAST(i % 50 AS INTEGER))) AS BIGINT) AS n_bytes
FROM range(200) t(i)
"""


def _write_arc_gate_fixture() -> str:
    """Deterministic 2-file ARC fixture under the repo-scratch dir
    (idempotent rewrite per call)."""
    from nutch_spark.sources.arc import write_arc_file

    d = os.path.join(_FIXTURE_DIR, "arc")
    os.makedirs(d, exist_ok=True)
    for f in range(2):
        recs = [
            {
                "url": f"http://h{i % 7}.example.com/arc/{i}",
                "ip": "10.0.0.1",
                "archive_date": "20080101000000",
                "content_type": "text/html",
                "content": f"<html><p>arc doc {i}</p></html>".encode(),
            }
            for i in range(f * 100, f * 100 + 100)
        ]
        write_arc_file(os.path.join(d, f"part{f}.arc.gz"), recs)
    return d


def q_arc_import(spark, sf_dir):
    """S8 ARC import (tools/arc/ArcRecordReader.java:42-270 +
    ArcSegmentCreator.java:276-330): gzip-member splitting, header parse,
    version-block skip, fetcher-scope normalize + filter."""
    from nutch_spark.sources.arc import arc_to_segment, read_arc

    d = _write_arc_gate_fixture()
    seg = arc_to_segment(read_arc(spark, d + "/*.arc.gz"))
    return seg.select(
        "url", "content_type",
        F.length(F.col("content")).cast("long").alias("n_bytes"),
    )


SQL_ARC_IMPORT = """
SELECT 'http://h' || CAST(i % 7 AS VARCHAR) || '.example.com/arc/' || CAST(i AS VARCHAR) AS url,
       'text/html' AS content_type,
       CAST(length('<html><p>arc doc ' || CAST(i AS VARCHAR) || '</p></html>') AS BIGINT) AS n_bytes
FROM range(200) t(i)
"""


def _dmoz_gate_rdf(n: int = 600) -> str:
    parts = ['<?xml version="1.0" encoding="UTF-8"?>\n<RDF>']
    topics = ["Top/Computers/Software", "Top/Adult/Stuff", "Top/Sports/Soccer"]
    for i in range(n):
        t = topics[i % 3]
        parts.append(f'<Topic r:id="{t}"></Topic>')
        parts.append(
            f'<ExternalPage about="http://d{i}.example.com/">'
            f"<d:Title>Site {i}</d:Title></ExternalPage>"
        )
    parts.append("</RDF>")
    return "\n".join(parts)


def q_dmoz_import(spark, sf_dir):
    """S9 DMOZ import (tools/DmozParser.java:54-400): structure walk, adult
    filter, md5-quarter-digest subset sampling (denominator 4)."""
    from nutch_spark.sources.dmoz import read_dmoz

    d = os.path.join(_FIXTURE_DIR, "dmoz")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "content.rdf.u8"), "w") as f:
        f.write(_dmoz_gate_rdf())
    return read_dmoz(spark, os.path.join(d, "content.rdf.u8"), subset_denom=4)


# The oracle replays the adult filter + the exact sampling arithmetic:
# signed int32 of the first 4 md5 bytes (Hadoop MD5Hash.quarterDigest),
# Java abs, % 4 == 0 (DmozParser.java:146-150).
SQL_DMOZ_IMPORT = """
WITH pages AS (
  SELECT i,
         'http://d' || CAST(i AS VARCHAR) || '.example.com/' AS url,
         'Site ' || CAST(i AS VARCHAR) AS title,
         CASE i % 3 WHEN 0 THEN 'Top/Computers/Software'
                    WHEN 1 THEN 'Top/Adult/Stuff'
                    ELSE 'Top/Sports/Soccer' END AS topic
  FROM range(600) t(i)
),
hashed AS (
  SELECT url, title, topic,
         ('0x' || substr(md5(url), 1, 8))::BIGINT AS h_unsigned
  FROM pages WHERE topic NOT LIKE 'Top/Adult%'
),
signed AS (
  SELECT url, title, topic,
         h_unsigned - CASE WHEN h_unsigned >= 2147483648 THEN 4294967296 ELSE 0 END AS h32
  FROM hashed
)
SELECT url, title, topic FROM signed WHERE abs(h32) % 4 = 0
"""


def _follow_edges(spark, sf_dir):
    """Bidirectional follow graph: order->part edges (offset=l_linenumber)
    plus the reversed part->order edges, so depth-2 following has real
    targets."""
    e = derived_edges(spark, sf_dir)
    fwd = e.select(
        F.col("from_url").alias("url"), F.col("to_url"),
        F.col("segment").cast("int").alias("offset"),
    )
    rev = e.select(
        F.col("to_url").alias("url"), F.col("from_url").alias("to_url"),
        F.col("segment").cast("int").alias("offset"),
    )
    return fwd.unionByName(rev).distinct()


def q_outlink_follow(spark, sf_dir):
    """R10 outlink following (Fetcher.java:1160-1192): per-page cap =
    num.links in outlink order (the loop bound; the computed per-depth
    budget is dead code in the reference), cross-depth dedupe, 2 depths."""
    from nutch_spark.config import CrawlConfig
    from nutch_spark.operators.followup import select_followup_outlinks

    cfg = CrawlConfig(follow_outlinks_depth=2, follow_outlinks_num_links=4,
                      follow_outlinks_ignore_external=False)
    edges = _follow_edges(spark, sf_dir)
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_linenumber") == 1) & (F.col("l_orderkey") % 199 == 0)
    )
    sk = (F.col("l_suppkey") % 50).cast("string")
    seeds = li.select(
        F.concat(F.lit("http://h"), sk, F.lit(".example.com/order/"),
                 F.col("l_orderkey").cast("string")).alias("url")
    ).distinct()
    seen = seeds
    frontier = seeds
    outs = []
    for depth in range(2):
        links = edges.join(frontier, "url")
        nxt = (
            select_followup_outlinks(links, depth, cfg)
            .join(seen, "url", "left_anti")
            .select("url")
            .distinct()
        )
        outs.append(nxt.withColumn("depth", F.lit(depth + 1).cast("long")))
        seen = seen.unionByName(nxt).distinct()
        frontier = nxt
    return outs[0].unionByName(outs[1])


SQL_OUTLINK_FOLLOW = f"""
WITH {EDGES_CTE},
fedges AS (
  SELECT from_url AS url, to_url, CAST(segment AS INTEGER) AS off FROM edges
  UNION
  SELECT to_url AS url, from_url AS to_url, CAST(segment AS INTEGER) AS off FROM edges
),
seeds AS (
  SELECT DISTINCT 'http://h' || CAST(l_suppkey % 50 AS VARCHAR) || '.example.com/order/'
           || CAST(l_orderkey AS VARCHAR) AS url
  FROM lineitem WHERE l_linenumber = 1 AND l_orderkey % 199 = 0
),
d1_ranked AS (
  SELECT f.url, f.to_url,
         ROW_NUMBER() OVER (PARTITION BY f.url ORDER BY f.off, f.to_url) AS rk
  FROM fedges f JOIN seeds s ON f.url = s.url
),
d1 AS (
  SELECT DISTINCT to_url AS url FROM d1_ranked
  WHERE rk <= 4 AND to_url NOT IN (SELECT url FROM seeds)
),
d2_ranked AS (
  SELECT f.url, f.to_url,
         ROW_NUMBER() OVER (PARTITION BY f.url ORDER BY f.off, f.to_url) AS rk
  FROM fedges f JOIN d1 ON f.url = d1.url
),
d2 AS (
  SELECT DISTINCT to_url AS url FROM d2_ranked
  WHERE rk <= 4
    AND to_url NOT IN (SELECT url FROM seeds)
    AND to_url NOT IN (SELECT url FROM d1)
)
SELECT url, CAST(1 AS BIGINT) AS depth FROM d1
UNION ALL
SELECT url, CAST(2 AS BIGINT) AS depth FROM d2
"""


def q_loops(spark, sf_dir):
    """L3 Loops (scoring/webgraph/Loops.java:79-560) over a planted graph:
    orders rows rank into triples that form 3-rings (plus acyclic skip
    edges rn -> rn+7); depth=2 must find every ring membership and nothing
    on the skip chain. Output scalar-sortable (loop_set joined)."""
    from nutch_spark.operators.webgraph import find_loops

    o = load(spark, sf_dir, "orders").select("o_orderkey")
    # global dense index WITHOUT a single-partition window: range-partition
    # on the key, rank within each partition, add per-partition offsets
    # (tiny groupBy collected once; replaces the old base.count() action)
    ranged = o.repartitionByRange(16, "o_orderkey").withColumn(
        "pid", F.spark_partition_id()
    )
    wp = Window.partitionBy("pid").orderBy("o_orderkey")
    local = _cache_slot(
        "loops.local", ranged.withColumn("lrn", F.row_number().over(wp) - 1))
    sizes = sorted((r["pid"], r["count"]) for r in local.groupBy("pid").count().collect())
    offsets, acc = {}, 0
    for pid, cnt in sizes:
        offsets[pid] = acc
        acc += cnt
    n_total = acc
    off_expr = F.element_at(
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]),
        F.col("pid"),
    )
    base = _cache_slot(
        "loops.base", local.select((F.col("lrn") + off_expr).alias("rn")))
    url = lambda c: F.concat(F.lit("http://l.example.com/"), c.cast("string"))  # noqa: E731
    ring_next = (F.col("rn") - F.col("rn") % 3) + (F.col("rn") + 1) % 3
    ring = base.filter(ring_next < n_total).select(
        url(F.col("rn")).alias("src"), url(ring_next).alias("dst")
    )
    skip = base.filter(F.col("rn") + 7 < n_total).select(
        url(F.col("rn")).alias("src"), url(F.col("rn") + 7).alias("dst")
    )
    res = find_loops(ring.unionByName(skip), depth=2)
    return res.select(
        "url", F.array_join("loop_set", ",").alias("loop_set"), "n_loops"
    )


SQL_LOOPS = """
WITH base AS (
  SELECT ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rn FROM orders
),
n AS (SELECT COUNT(*) AS total FROM base),
ring AS (
  SELECT 'http://l.example.com/' || CAST(rn AS VARCHAR) AS src,
         'http://l.example.com/' || CAST((rn - rn % 3) + (rn + 1) % 3 AS VARCHAR) AS dst
  FROM base, n WHERE (rn - rn % 3) + (rn + 1) % 3 < total
),
skip AS (
  SELECT 'http://l.example.com/' || CAST(rn AS VARCHAR) AS src,
         'http://l.example.com/' || CAST(rn + 7 AS VARCHAR) AS dst
  FROM base, n WHERE rn + 7 < total
),
e AS (SELECT DISTINCT src, dst FROM (SELECT * FROM ring UNION ALL SELECT * FROM skip)),
inlinked AS (SELECT DISTINCT dst AS src FROM e),
r0 AS (
  SELECT DISTINCT e.src AS lf, e.dst AS fh, e.dst AS pos
  FROM e JOIN inlinked i ON e.src = i.src
),
f1 AS (
  SELECT DISTINCT r.lf, r.fh FROM r0 r JOIN e ON e.src = r.pos WHERE e.dst = r.lf
),
r1 AS (
  SELECT DISTINCT r.lf, r.fh, e.dst AS pos
  FROM r0 r JOIN e ON e.src = r.pos
  WHERE NOT EXISTS (SELECT 1 FROM f1 WHERE f1.lf = r.lf AND f1.fh = r.fh)
),
f2 AS (
  SELECT DISTINCT r.lf, r.fh FROM r1 r JOIN e ON e.src = r.pos WHERE e.dst = r.lf
),
found AS (SELECT * FROM f1 UNION SELECT * FROM f2)
SELECT lf AS url,
       string_agg(fh, ',' ORDER BY fh) AS loop_set,
       COUNT(DISTINCT fh) AS n_loops
FROM found GROUP BY lf
"""


def q_js_outlinks(spark, sf_dir):
    """X12 parse-js (JSParseFilter.java:175-240): string-literal scan,
    URI-pattern full-match gate, www.-prefix vs base-resolution, &amp;
    unescape — one row per extracted link in scan order."""
    from nutch_spark.operators.parse import extract_documents_by_mime

    o = load(spark, sf_dir, "orders")
    k = F.col("o_orderkey").cast("string")
    base = F.concat(F.lit("http://js.example.com/app"), k, F.lit(".js"))
    script = F.concat(
        F.lit('var a = "/p/'), k, F.lit('.html"; var b = \'www.ex'),
        (F.col("o_orderkey") % 9).cast("string"),
        F.lit(".com/x.y'; var c = \"nope\"; var d = \"q.php?a=1&amp;b="),
        k, F.lit('";'),
    )
    # orders is ONE parquet file at bench SF: spread before the python
    # kernel or it runs single-threaded (PLANS.md §5.5 lesson)
    df = o.repartition(spark.sparkContext.defaultParallelism).select(
        base.alias("url"), script.alias("content"),
        F.lit("application/javascript").alias("content_type"))
    docs = extract_documents_by_mime(df)
    links = docs.select(
        F.col("doc_id").alias("url"), F.posexplode("spans").alias("i", "s")
    ).filter(F.col("s.kind") == "link")
    return links.select(
        "url",
        F.col("s.offset").cast("long").alias("rank"),
        F.col("s.media_ref").alias("to_url"),
    )


SQL_JS_OUTLINKS = """
WITH base AS (
  SELECT 'http://js.example.com/app' || CAST(o_orderkey AS VARCHAR) || '.js' AS url,
         o_orderkey AS k
  FROM orders
)
SELECT url, CAST(1 AS BIGINT) AS rank,
       'http://js.example.com/p/' || CAST(k AS VARCHAR) || '.html' AS to_url
FROM base
UNION ALL
SELECT url, CAST(2 AS BIGINT) AS rank,
       'http://www.ex' || CAST(k % 9 AS VARCHAR) || '.com/x.y' AS to_url
FROM base
UNION ALL
SELECT url, CAST(3 AS BIGINT) AS rank,
       'http://js.example.com/q.php?a=1&b=' || CAST(k AS VARCHAR) AS to_url
FROM base
"""


def q_zip_parse(spark, sf_dir):
    """X12 parse-zip (ZipParser.java:56-109, ZipTextExtractor.java:79-134):
    member walk in entry order, extension-resolved member MIME dispatch,
    '<name> <member text> ' text concatenation, member outlink collection;
    directory, extension-less, and parser-less members are skipped."""
    import io
    import zipfile

    from nutch_spark.operators.parse import extract_documents_by_mime

    rows = []
    for i in range(120):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
            zf.writestr("sub/", b"")  # directory entry: skipped
            zf.writestr(
                f"doc{i}.html",
                f"<html><title>Z{i}</title><p>zip doc {i} alpha</p>"
                f'<a href="http://z{i % 7}.example.com/a{i}.html">anchor {i}</a></html>',
            )
            zf.writestr("README", "no extension, skipped")
            zf.writestr(f"notes{i}.txt", f"note  {i}\n beta gamma")
            zf.writestr(f"data{i}.bin", b"\x00\x01binary")  # no parser: skipped
        rows.append((f"http://zips.example.com/pack{i}.zip",
                     bytearray(buf.getvalue()), "application/zip"))
    df = spark.createDataFrame(
        rows, "url string, content binary, content_type string")
    docs = extract_documents_by_mime(df)
    first_link = F.filter(
        F.col("spans"), lambda s: s["kind"] == F.lit("link"))[0]
    return docs.select(
        F.col("doc_id").alias("url"),
        F.element_at(F.col("spans"), 1)["text"].alias("text"),
        (F.size("spans") - 1).cast("long").alias("n_outlinks"),
        first_link["media_ref"].alias("to_url"),
        first_link["text"].alias("anchor"),
    )


SQL_ZIP_PARSE = """
SELECT 'http://zips.example.com/pack' || CAST(i AS VARCHAR) || '.zip' AS url,
       'doc' || CAST(i AS VARCHAR) || '.html zip doc ' || CAST(i AS VARCHAR)
         || ' alpha notes' || CAST(i AS VARCHAR) || '.txt note '
         || CAST(i AS VARCHAR) || ' beta gamma ' AS text,
       CAST(1 AS BIGINT) AS n_outlinks,
       'http://z' || CAST(i % 7 AS VARCHAR) || '.example.com/a'
         || CAST(i AS VARCHAR) || '.html' AS to_url,
       'anchor ' || CAST(i AS VARCHAR) AS anchor
FROM range(120) t(i)
"""


def q_ann_ivf(spark, sf_dir):
    """IVF-flat ANN top-k — the second scale path next to the LSH tables
    (q_ann_topk): a deterministic sampled-centroid coarse quantizer
    (16 lists), data vectors in the inverted list of their argmax-cosine
    centroid, each query probing its 2 best lists; exact cosine only within
    probed lists. Assignment is a narrow literal-centroid projection (no
    join/shuffle); the only exchange is the list-id equi-join."""
    from nutch_spark.functions.similarity import ivf_cosine_topk

    e = load(spark, sf_dir, "embeddings")
    q = e.orderBy("vec_id").limit(5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return ivf_cosine_topk(e, q, k=3, n_centroids=16, n_probe=2,
                           exclude_self=True)


def _sql_ann_ivf():
    from nutch_spark.oracles import sql_ivf_topk

    return sql_ivf_topk(n_centroids=16, n_probe=2, k=3)


def q_pdf_parse(spark, sf_dir):
    """X12 parse-tika PDF analogue (TikaParser.java:71-171 + the
    OutlinkExtractor.java:60-140 text-regex outlink fallback, since PDFs
    yield no DOM anchors): per-doc title from the Info /Title entry, text
    recovered from Tj/TJ text-showing operators (FlateDecode inflated on
    even rows, raw streams on odd, hex-string tail on i%3==0), outlinks
    from the URL regex over the text. 15 headerless bodies exercise the
    FAILED -> no-document path."""
    import zlib

    from nutch_spark.operators.parse import extract_documents_by_mime

    rows = []
    for i in range(150):
        tail = f" tail {i}"
        if i % 3 == 0:
            tail_op = "<" + tail.encode("latin-1").hex() + "> Tj "
        else:
            tail_op = f"({tail}) Tj "
        ops = (
            f"BT /F1 12 Tf 72 720 Td (pdf doc {i} alpha) Tj "
            f"[(see )-250(http://p{i % 7}.example.com/r{i}.html)] TJ "
            + tail_op + "ET"
        ).encode("latin-1")
        if i % 2 == 0:
            body = zlib.compress(ops)
            filt = b"/Filter /FlateDecode "
        else:
            body, filt = ops, b""
        pdf = (
            b"%PDF-1.4\n"
            b"1 0 obj\n<< " + filt + b"/Length "
            + str(len(body)).encode() + b" >>\nstream\n" + body
            + b"\nendstream\nendobj\n"
            b"2 0 obj\n<< /Title (P" + str(i).encode()
            + b" \\(report\\)) /Producer (synth) >>\nendobj\n"
            b"trailer\n<< /Info 2 0 R >>\n%%EOF\n"
        )
        rows.append((f"http://pdfs.example.com/doc{i}.pdf",
                     bytearray(pdf), "application/pdf"))
    for i in range(15):  # FAILED path: no %PDF- header
        rows.append((f"http://pdfs.example.com/bad{i}.pdf",
                     bytearray(b"GIF89a not a pdf"), "application/pdf"))
    df = spark.createDataFrame(
        rows, "url string, content binary, content_type string")
    docs = extract_documents_by_mime(df)
    first_link = F.filter(
        F.col("spans"), lambda s: s["kind"] == F.lit("link"))[0]
    return docs.select(
        F.col("doc_id").alias("url"),
        F.col("title"),
        F.element_at(F.col("spans"), 1)["text"].alias("text"),
        (F.size("spans") - 1).cast("long").alias("n_outlinks"),
        first_link["media_ref"].alias("to_url"),
    )


SQL_PDF_PARSE = """
SELECT 'http://pdfs.example.com/doc' || CAST(i AS VARCHAR) || '.pdf' AS url,
       'P' || CAST(i AS VARCHAR) || ' (report)' AS title,
       'pdf doc ' || CAST(i AS VARCHAR) || ' alpha see http://p'
         || CAST(i % 7 AS VARCHAR) || '.example.com/r' || CAST(i AS VARCHAR)
         || '.html tail ' || CAST(i AS VARCHAR) AS text,
       CAST(1 AS BIGINT) AS n_outlinks,
       'http://p' || CAST(i % 7 AS VARCHAR) || '.example.com/r'
         || CAST(i AS VARCHAR) || '.html' AS to_url
FROM range(150) t(i)
"""


def q_urlmeta(spark, sf_dir):
    """urlmeta plugin through the REAL update_frontier: linked rows carry
    the parent datum's configured tag map (URLMetaScoringFilter.java:63-85
    distributeScoreToOutlinks); a brand-new linked-only child takes the
    metadata of its top-scoring inlink datum (CrawlDbReducer.java:143-147
    fetch = linkList.get(0), score ties pinned by greatest from_url).
    Edges with segment%3==0 carry metadata; children whose inlinks all
    lack it stay null."""
    from nutch_spark import schemas
    from nutch_spark.config import CrawlConfig
    from nutch_spark.operators.updatedb import update_frontier

    cfg = CrawlConfig(urlmeta_tags=("ckey",))
    f = derived_frontier(spark, sf_dir).select(
        "*",
        F.lit(0).cast("long").alias("modified_time"),
        F.lit(None).cast("map<string,string>").alias("metadata"),
    )
    e = derived_edges(spark, sf_dir)
    pu = e.select(
        F.col("to_url").alias("url"),
        F.lit(schemas.STATUS_LINKED).alias("kind"),
        F.col("link_score").cast("float").alias("score"),
        F.lit(None).cast("string").alias("signature"),
        F.col("anchor"),
        "from_url",
        F.when(
            F.col("segment") % 3 == 0,
            F.create_map(F.lit("ckey"), F.col("from_host")),
        ).alias("metadata"),
    )
    empty_fetch = spark.createDataFrame(
        [],
        "url string, host string, fetch_status int, fetch_ts long, seq long, "
        "repr_url string, signature string, content_length int, "
        "truncated boolean, score float, fetch_interval int, retries int, "
        "partition_id int",
    )
    nf = update_frontier(f, empty_fetch, pu, cfg, cur_time_ms=946684800000,
                         include_new_flag=True)
    return nf.filter(F.col("is_new")).select(
        "url",
        F.col("status").cast("long").alias("status"),
        F.col("fetch_time").alias("fetch_time"),
        F.element_at(F.col("metadata"), "ckey").alias("ckey"),
    )


SQL_URLMETA = f"""
WITH {EDGES_CTE},
best AS (
  SELECT to_url, from_host,
         ROW_NUMBER() OVER (
           PARTITION BY to_url
           ORDER BY CAST(link_score AS REAL) DESC, from_url DESC
         ) AS rn
  FROM edges WHERE segment % 3 = 0
)
SELECT t.to_url AS url,
       CAST(1 AS BIGINT) AS status,
       CAST(946684800000 AS BIGINT) AS fetch_time,
       b.from_host AS ckey
FROM (SELECT DISTINCT to_url FROM edges) t
LEFT JOIN (SELECT to_url, from_host FROM best WHERE rn = 1) b
  ON t.to_url = b.to_url
"""


def q_segment_dump(spark, sf_dir):
    """SegmentReader dump (segment/SegmentReader.java:204-316): merged
    per-URL view across crawl_fetch + parse documents + parse_text. Fetch
    rows derive from the frontier; documents derive from edges (one text
    span + one link span per outlink, doc_id = from_url); URLs present on
    only one side survive the full-outer co-group with nulls."""
    from nutch_spark.operators.stats import segment_dump

    f = derived_frontier(spark, sf_dir)
    fetch_status = f.select(
        "url",
        F.when(F.col("status") == 2, F.lit(33)).otherwise(F.lit(35))
        .cast("int").alias("fetch_status"),
        F.col("fetch_time").alias("fetch_ts"),
        "signature",
        (F.col("retries") * 100 + 500).cast("int").alias("content_length"),
    )
    e = derived_edges(spark, sf_dir)
    docs = (
        e.groupBy(F.col("from_url").alias("doc_id"))
        .agg(F.count("*").alias("n_links"))
        .select(
            "doc_id",
            F.concat(
                F.array(F.struct(
                    F.lit("text").alias("kind"),
                    F.concat(F.lit("body of "), F.col("doc_id")).alias("text"),
                    F.lit(None).cast("string").alias("media_ref"),
                    F.lit(0).alias("offset"),
                )),
                F.transform(
                    F.sequence(F.lit(1), F.col("n_links").cast("int")),
                    lambda i: F.struct(
                        F.lit("link").alias("kind"),
                        F.lit("").alias("text"),
                        F.concat(F.lit("http://t"), i.cast("string"),
                                 F.lit(".example.com/")).alias("media_ref"),
                        i.alias("offset"),
                    ),
                ),
            ).alias("spans"),
        )
    )
    ptext = docs.select(
        F.col("doc_id").alias("url"),
        F.element_at(F.col("spans"), 1)["text"].alias("text"),
    )
    return segment_dump(fetch_status, docs, ptext).select(
        "url", "fetch_status", "fetch_ts", "signature", "content_length",
        "n_spans", "n_outlinks", "text",
    )


SQL_SEGMENT_DUMP = f"""
WITH {FRONTIER_CTE}, {EDGES_CTE},
fetchside AS (
  SELECT url,
         CAST(CASE WHEN status = 2 THEN 33 ELSE 35 END AS INTEGER) AS fetch_status,
         fetch_time AS fetch_ts, signature,
         CAST(retries * 100 + 500 AS INTEGER) AS content_length
  FROM frontier
),
parseside AS (
  SELECT from_url AS url,
         CAST(COUNT(*) + 1 AS BIGINT) AS n_spans,
         CAST(COUNT(*) AS BIGINT) AS n_outlinks,
         'body of ' || from_url AS text
  FROM edges GROUP BY from_url
)
SELECT COALESCE(f.url, p.url) AS url,
       f.fetch_status, f.fetch_ts, f.signature, f.content_length,
       p.n_spans, p.n_outlinks, p.text
FROM fetchside f FULL OUTER JOIN parseside p ON f.url = p.url
"""


def q_crawldb_scan(spark, sf_dir):
    """CrawlDBScanner (tools/CrawlDBScanner.java:80-100): regex-filtered
    crawldb dump with optional status-name pre-filter. Java String.matches
    is a FULL match, so the regex is anchored; status 'db_fetched' = 2."""
    from nutch_spark.operators.stats import crawldb_scan

    f = derived_frontier(spark, sf_dir)
    return crawldb_scan(
        f, r"http://h1\d\.example\.com/order/.*[02468]", status="db_fetched"
    ).select("url", "status", "retries", F.round("score", 2).alias("score"))


SQL_CRAWLDB_SCAN = f"""
WITH {FRONTIER_CTE}
SELECT url, status, retries, ROUND(score, 2) AS score
FROM frontier
WHERE status = 2
  AND regexp_full_match(url, 'http://h1\\d\\.example\\.com/order/.*[02468]')
"""


def q_linkdb_read(spark, sf_dir):
    """LinkDbReader (`readlinkdb -dump`, crawl/LinkDbReader.java:95-120):
    dump the linkdb as <url, Inlinks.toString()> text rows. Inlink rows
    derive from edges, deduped per (to,from) with the invert's min-anchor
    convention, aggregated, then rendered by linkdb_dump — the repr string
    is a native array fold, no extra shuffle above the linkdb aggregate."""
    from nutch_spark.config import CrawlConfig
    from nutch_spark.operators.linkdb import (
        _dedupe_and_cap, linkdb_aggregate, linkdb_dump,
    )

    cfg = CrawlConfig()
    e = derived_edges(spark, sf_dir).select("to_url", "from_url", "anchor")
    db = linkdb_aggregate(_dedupe_and_cap(e, cfg), cfg)
    return linkdb_dump(db)


SQL_LINKDB_READ = f"""
WITH {EDGES_CTE},
ded AS (
  SELECT to_url, from_url, MIN(anchor) AS anchor
  FROM edges GROUP BY to_url, from_url
)
SELECT to_url AS url,
       COUNT(*) AS n_inlinks,
       'Inlinks:' || chr(10) ||
       string_agg(' fromUrl: ' || coalesce(from_url, '')
                    || ' anchor: ' || coalesce(anchor, ''),
                  chr(10) ORDER BY from_url NULLS FIRST, anchor NULLS FIRST) AS inlinks_repr
FROM ded GROUP BY to_url
"""


def q_index_clean(spark, sf_dir):
    """SolrClean (`solrclean`, indexer/solr/SolrClean.java:42-120): delete
    index documents whose crawldb entry went STATUS_DB_GONE. Fixture: the
    index holds every frontier url (digest/boost from the derived columns);
    the gone slice is retries==3 mapped to status 3 — clean_index anti-joins
    it out by id (= url)."""
    from nutch_spark.operators.indexer import clean_index

    f = derived_frontier(spark, sf_dir)
    idx = f.select(
        "url",
        F.col("signature").alias("digest"),
        F.round(F.sqrt("score"), 4).alias("boost"),
    )
    crawldb = f.select(
        "url",
        F.when(F.col("retries") == 3, F.lit(3)).otherwise(F.col("status"))
        .alias("status"),
    )
    return clean_index(idx, crawldb)


SQL_INDEX_CLEAN = f"""
WITH {FRONTIER_CTE}
SELECT url, signature AS digest, ROUND(SQRT(score), 4) AS boost
FROM frontier
WHERE NOT (retries = 3)
"""


def q_paragraph_dedup(spark, sf_dir):
    """Corpus-wide paragraph dedup (keep first occurrence by (doc_id, pos),
    reassemble docs). Fixture: three-paragraph docs where the first two
    paragraphs repeat across docs (k%7, k%5) and only the third is unique —
    within-doc repeats also occur when k%7 == k%5 (35-periodic)."""
    from nutch_spark.operators.dedup import dedup_paragraphs

    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("doc_id"))
    k = F.col("doc_id")
    docs = o.select(
        "doc_id",
        F.concat(
            F.format_string("para-%d", k % 7), F.lit("\n\n"),
            F.format_string("para-%d", k % 5), F.lit("\n\n"),
            F.format_string("paraU-%d", k),
        ).alias("text"),
    )
    out = dedup_paragraphs(docs)
    return out.select("doc_id", "clean_text", "n_kept")


SQL_PARAGRAPH_DEDUP = """
WITH docs AS (
  SELECT CAST(o_orderkey AS BIGINT) AS doc_id,
         'para-' || (o_orderkey % 7) || chr(10) || chr(10) ||
         'para-' || (o_orderkey % 5) || chr(10) || chr(10) ||
         'paraU-' || o_orderkey AS text
  FROM orders
),
paras AS (
  SELECT doc_id,
         unnest(string_split(text, chr(10) || chr(10))) AS para,
         unnest(range(0, len(string_split(text, chr(10) || chr(10))))) AS pos
  FROM docs
),
kept AS (
  SELECT doc_id, pos, para,
         ROW_NUMBER() OVER (PARTITION BY md5(para)
                            ORDER BY doc_id, pos) AS rk
  FROM paras
)
SELECT doc_id,
       string_agg(para, chr(10) || chr(10) ORDER BY pos) AS clean_text,
       COUNT(*) AS n_kept
FROM kept WHERE rk = 1
GROUP BY doc_id
"""


def q_repetition_signals(spark, sf_dir):
    """Gopher-style within-doc repetition signals (functions/text.py:
    repetition_signals). The real documents corpus is single-line, so the
    fixture derives multi-line docs from orders with planted repeats: every
    k%3==0 doc repeats its first line, and 'alpha beta' recurs so the top
    bigram is exercised (ties break deterministically to the larger gram in
    both engines). Uses the staged DataFrame form (intermediates pinned
    behind Generate barriers — PLANS §6.25)."""
    from nutch_spark.functions.text import with_repetition_signals

    # the sf0.1 orders parquet is ONE small file -> a single scan partition;
    # a real corpus arrives in thousands of splits, so spread the map work
    # the way the scan would at scale
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("doc_id")
    ).repartition(spark.sparkContext.defaultParallelism)
    k = F.col("doc_id")
    line1 = F.format_string("alpha beta gamma-%d", k % 5)
    line2 = F.when(k % 3 == 0, line1).otherwise(
        F.format_string("delta-%d epsilon", k))
    docs = o.select(
        "doc_id",
        F.concat_ws("\n", line1, line2, F.lit("alpha beta tail")).alias("text"),
    )
    return with_repetition_signals(docs).select("doc_id", "rep.*")


SQL_REPETITION_SIGNALS = r"""
WITH docs AS (
  SELECT CAST(o_orderkey AS BIGINT) AS doc_id,
         ('alpha beta gamma-' || (o_orderkey % 5)) || chr(10) ||
         (CASE WHEN o_orderkey % 3 = 0
               THEN 'alpha beta gamma-' || (o_orderkey % 5)
               ELSE 'delta-' || o_orderkey || ' epsilon' END) || chr(10) ||
         'alpha beta tail' AS text
  FROM orders
),
lines AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                     x -> x <> '') AS ls
  FROM docs
),
per_line AS (
  SELECT doc_id, line, COUNT(*) AS c, length(line) AS len
  FROM (SELECT doc_id, unnest(ls) AS line FROM lines)
  GROUP BY doc_id, line
),
line_chars AS (
  SELECT doc_id,
         CAST(SUM(c) AS INT) AS n_lines,
         COUNT(*) AS n_distinct,
         CAST(SUM(c * len) AS BIGINT) AS total_chars,
         CAST(SUM((c - 1) * len) AS BIGINT) AS dup_chars
  FROM per_line GROUP BY doc_id
),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(regexp_replace(text, '[^\w\s]+', ' ', 'g')), '\s+'),
                     x -> x <> '') AS t
  FROM docs
),
tokchars AS (
  SELECT doc_id,
         CAST(COALESCE(list_aggregate(list_transform(t, x -> length(x)), 'sum'), 0) AS BIGINT) AS token_chars
  FROM toks
),
gcount AS (
  SELECT doc_id, g, COUNT(*) AS c
  FROM (SELECT doc_id, t[i] || ' ' || t[i+1] AS g
        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)
        WHERE len(t) >= 2)
  GROUP BY doc_id, g
),
gbest AS (
  SELECT doc_id, c, g FROM (
    SELECT doc_id, c, g,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, g DESC) AS rk
    FROM gcount) WHERE rk = 1
)
SELECT d.doc_id,
       COALESCE(lc.n_lines, 0) AS n_lines,
       CASE WHEN lc.n_lines > 0
            THEN ROUND((lc.n_lines - lc.n_distinct) / lc.n_lines, 6)
            ELSE 0.0 END AS dup_line_frac,
       CASE WHEN lc.total_chars > 0
            THEN ROUND(lc.dup_chars / lc.total_chars, 6)
            ELSE 0.0 END AS dup_line_char_frac,
       CASE WHEN gb.c IS NOT NULL AND tc.token_chars > 0
            THEN ROUND(gb.c * (length(gb.g) - 1) / tc.token_chars, 6)
            ELSE 0.0 END AS top_bigram_frac
FROM docs d
LEFT JOIN line_chars lc USING (doc_id)
LEFT JOIN tokchars tc USING (doc_id)
LEFT JOIN gbest gb USING (doc_id)
"""


def q_ngram_contamination(spark, sf_dir):
    """Benchmark-contamination detection over the real documents table:
    benchmark = docs with doc_id % 10 == 0 (an eval-suite stand-in),
    training side = the rest; a training doc is contaminated when it shares
    any 8-token word n-gram with the benchmark (GPT-3 appendix C-style
    decontamination). The benchmark gram-hash set is broadcast, so the
    training side never shuffles."""
    from nutch_spark.operators.dedup import ngram_contamination

    # single-file fixture -> spread like a many-split scan would at scale
    d = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism)
    bench = d.filter(F.col("doc_id") % 10 == 0)
    train = d.filter(F.col("doc_id") % 10 != 0)
    return ngram_contamination(train, bench, n=8)


SQL_NGRAM_CONTAMINATION = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(regexp_replace(text, '[^\w\s]+', ' ', 'g')), '\s+'),
                     x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, md5(array_to_string(t[i:i+7], ' ')) AS h
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 7)) AS i)
  WHERE len(t) >= 8
),
counts AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
bench AS (SELECT DISTINCT h FROM grams WHERE doc_id % 10 = 0),
hits AS (
  SELECT g.doc_id, COUNT(*) AS n_hits
  FROM grams g JOIN bench USING (h)
  WHERE g.doc_id % 10 <> 0
  GROUP BY g.doc_id
)
SELECT h.doc_id,
       CAST(h.n_hits AS BIGINT) AS n_hits,
       CAST(c.n_grams AS BIGINT) AS n_grams,
       ROUND(h.n_hits / c.n_grams, 6) AS contaminated_frac
FROM hits h JOIN counts c USING (doc_id)
"""


def q_domain_quota_sample(spark, sf_dir):
    """Deterministic per-source quota sampling (domain mixing): at most 7
    docs per source survive, chosen by md5 priority. The oracle restates
    the selection as one ROW_NUMBER window, as does the Spark side, whose
    Partial WindowGroupLimit keeps each map task's per-source top 7 before
    the shuffle and must not change the selected set."""
    from nutch_spark.operators.sampling import domain_quota_sample

    d = load(spark, sf_dir, "documents")
    return domain_quota_sample(d, quota=7).select("doc_id", "source")


SQL_DOMAIN_QUOTA_SAMPLE = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(coalesce(source, '') || ':' || CAST(doc_id AS VARCHAR))) AS rk
  FROM documents) WHERE rk <= 7
"""


def q_train_val_split(spark, sf_dir):
    """Deterministic hash-bucket train/val split
    (operators/sampling.train_val_split): the 500 lowest of 10,000 md5
    buckets are validation (val_frac 0.05). Map-only — zero Exchange;
    membership is recomputable from the id alone. The oracle restates the
    bucket arithmetic with DuckDB's hex cast."""
    from nutch_spark.operators.sampling import train_val_split

    d = load(spark, sf_dir, "documents")
    return train_val_split(d, val_frac=0.05).select("doc_id", "split")


SQL_TRAIN_VAL_SPLIT = """
SELECT doc_id,
       CASE WHEN (('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
                  % 10000) < 500
            THEN 'val' ELSE 'train' END AS split
FROM documents
"""


def q_pii_scrub(spark, sf_dir):
    """PII scrub pass (functions/pii.py): per-category regex counts +
    typed-placeholder redaction, pure Catalyst (zero Exchange). The
    synthetic corpus carries no PII, so both engines build the identical
    deterministic fixture — doc_id-derived email/phone/ip/ssn/cc snippets
    appended on modular gates — and the hash compare then verifies the
    PATTERNS behave identically under Java regex and RE2 (the dialect
    parity the module promises)."""
    from nutch_spark.functions.pii import pii_counts, scrub_pii

    d = load(spark, sf_dir, "documents")
    did = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    pad = lambda m, w: F.lpad(s(did % m), w, "0")  # noqa: E731
    fixture = F.concat(
        F.substring("text", 1, 40),
        F.when(did % 3 == 0,
               F.concat(F.lit(" mail user"), s(did), F.lit("@example.com"))
               ).otherwise(""),
        F.when(did % 2 == 0,
               F.concat(F.lit(" tel +1-555-"), pad(1000, 3), F.lit("-"),
                        pad(10000, 4))).otherwise(""),
        F.when(did % 4 == 0,
               F.concat(F.lit(" ip "), s(did % 256), F.lit(".10.0."),
                        s((did * 7) % 256))).otherwise(""),
        F.when(did % 5 == 0,
               F.concat(F.lit(" ssn "), pad(1000, 3), F.lit("-"),
                        pad(100, 2), F.lit("-"), pad(10000, 4))
               ).otherwise(""),
        F.when(did % 7 == 0,
               F.concat(F.lit(" card "), pad(10000, 4), F.lit("-"),
                        pad(10000, 4), F.lit("-"), pad(10000, 4),
                        F.lit("-"), pad(10000, 4))).otherwise(""),
    )
    return d.select(
        "doc_id",
        pii_counts(fixture).alias("p"),
        scrub_pii(fixture).alias("scrubbed"),
    ).select("doc_id", "p.*", "scrubbed")


SQL_PII_SCRUB = r"""
WITH fixture AS (
  SELECT doc_id,
         substring(text, 1, 40)
         || CASE WHEN doc_id % 3 = 0 THEN ' mail user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
         || CASE WHEN doc_id % 2 = 0 THEN ' tel +1-555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
         || CASE WHEN doc_id % 4 = 0 THEN ' ip ' || CAST(doc_id % 256 AS VARCHAR) || '.10.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN ' ssn ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN ' card ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
         AS t
  FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
       CAST(len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS INT) AS n_ssn,
       CAST(len(regexp_extract_all(t, '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b')) AS INT) AS n_cc,
       CAST(len(regexp_extract_all(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS INT) AS n_ipv4,
       CAST(len(regexp_extract_all(t, '\+?\d{1,2}[- ]\(?\d{3}\)?[- ]\d{3}[- ]\d{4}\b')) AS INT) AS n_phone,
       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
            + len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b'))
            + len(regexp_extract_all(t, '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b'))
            + len(regexp_extract_all(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b'))
            + len(regexp_extract_all(t, '\+?\d{1,2}[- ]\(?\d{3}\)?[- ]\d{3}[- ]\d{4}\b')) AS INT) AS n_pii,
       regexp_replace(
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
             '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b', '<CC>', 'g'),
           '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
         '\+?\d{1,2}[- ]\(?\d{3}\)?[- ]\d{3}[- ]\d{4}\b', '<PHONE>', 'g') AS scrubbed
FROM fixture
"""


def q_sequence_pack(spark, sf_dir):
    """GPT-style concatenate-then-chunk sequence packing
    (operators/packing.pack_sequences): per (source, md5-nibble shard),
    docs laid end to end by doc_id and the token stream cut into 64-token
    chunks; one row per (doc, chunk) with the doc's token slice. The
    oracle restates the same plan as one window cumsum + generate_series;
    the md5-nibble shard keeps the selection engine-neutral."""
    from nutch_spark.operators.packing import pack_sequences

    d = load(spark, sf_dir, "documents")
    return pack_sequences(d, max_len=64, group_col="source", shards=4)


SQL_SEQUENCE_PACK = r"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(((strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) % 4 AS INT) AS shard,
         CAST(len(list_filter(string_split_regex(lower(regexp_replace(text, '[^\w\s]+', ' ', 'g')), '\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents),
cum AS (
  SELECT doc_id, source, shard, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c
  FROM toks WHERE n_tokens > 0),
spans AS (
  SELECT doc_id, source, shard, n_tokens, c - n_tokens AS s,
         unnest(generate_series((c - n_tokens) // 64, (c - 1) // 64)) AS chunk_id
  FROM cum)
SELECT doc_id, source, shard, chunk_id, n_tokens,
       GREATEST(0, chunk_id * 64 - s) AS tok_start,
       LEAST(n_tokens, (chunk_id + 1) * 64 - s) AS tok_end
FROM spans
"""


def q_dataset_build(spark, sf_dir):
    """End-to-end training-dataset build (plans/dataset.build_dataset):
    language gate -> quality gate -> exact dedup keep-first -> PII scrub ->
    per-source quota -> train/val split, each step the SAME operator
    function its per-op gate query verifies, composed in pipeline order.
    Every 10th doc is re-unioned under a shifted id so the dedup stage
    provably bites (keep-first must drop ALL shifted copies — their
    originals have lower ids); at sf0.01 every stage changes the row count
    (550 -> 426 lang -> 422 quality -> 378 dedup -> 363 quota)."""
    from nutch_spark.plans.dataset import build_dataset

    # the documents parquet is ONE small file -> a single scan partition;
    # a real corpus arrives in thousands of splits, so spread the
    # interpreted lang-HOF map work the way the scan would at scale
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text", "source")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    dupes = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text", "source"
    )
    return build_dataset(
        d.unionByName(dupes),
        langs=("en",),
        min_chars=80,
        punct_permille_max=200,
        quota=20,
        val_frac=0.05,
    )


SQL_DATASET_BUILD = f"""
WITH all_docs AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, text, source FROM documents WHERE doc_id % 10 = 0
),
scored AS (
  SELECT doc_id, text, source,
         {_lang_score(['the','and','of','to','in','is','that','for','with','was'])} AS s_en,
         {_lang_score(['der','die','und','das','nicht','ist','ein','mit','den','auf'])} AS s_de,
         {_lang_score(['le','la','les','et','des','est','pour','dans','que','une'])} AS s_fr,
         {_lang_score(['el','la','los','de','que','y','en','un','por','con'])} AS s_es
  FROM all_docs),
filt AS (
  SELECT doc_id, text, source, 'en' AS lang_pred,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM scored
  WHERE s_en > 0 AND s_en = greatest(s_en, s_de, s_fr, s_es)
    AND s_fr < greatest(s_en, s_de, s_fr, s_es)
    AND s_es < greatest(s_en, s_de, s_fr, s_es)
    AND length(text) >= 80
    AND length(regexp_replace(text, '[^!?.,;:]', '', 'g')) * 1000 <= 200 * length(text)),
dedup AS (
  SELECT doc_id, text, source, lang_pred, n_chars FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS _rk
    FROM filt) WHERE _rk = 1),
scrubbed AS (
  SELECT doc_id, source, lang_pred, n_chars,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
                 '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b', '<SSN>', 'g'),
               '\\b\\d{{4}}[- ]\\d{{4}}[- ]\\d{{4}}[- ]\\d{{4}}\\b', '<CC>', 'g'),
             '\\b(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b', '<IP>', 'g'),
           '\\+?\\d{{1,2}}[- ]\\(?\\d{{3}}\\)?[- ]\\d{{3}}[- ]\\d{{4}}\\b', '<PHONE>', 'g') AS text
  FROM dedup),
quota AS (
  SELECT doc_id, source, lang_pred, n_chars, text FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY source
      ORDER BY md5(coalesce(source, '') || ':' || CAST(doc_id AS VARCHAR))) AS _qk
    FROM scrubbed) WHERE _qk <= 20)
SELECT doc_id, source, lang_pred, n_chars,
       CAST(len(list_filter(regexp_split_to_array(lower(regexp_replace(text, '[^\\w\\s]+', ' ', 'g')), '\\s+'),
                            t -> t <> '')) AS BIGINT) AS n_tokens,
       CASE WHEN (('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
                  % 10000) < 500
            THEN 'val' ELSE 'train' END AS split
FROM quota
"""


def q_video_frames(spark, sf_dir):
    """Multimodal frame-sampling plumbing: one row per sampled timestamp
    (JVM-side sequence+explode; per-frame decode stays a downstream Arrow
    kernel). duration = 1000 + (idx%256)*100 by the synth table's
    construction — restated arithmetically by the oracle."""
    from nutch_spark.operators.media import sample_video_frames, synth_media_table

    refs = [f"http://cdn.example.com/vid/{i}.mp4" for i in range(80)]
    frames = sample_video_frames(synth_media_table(spark, refs), every_ms=700)
    return frames.select("media_ref", F.col("frame_ts_ms").cast("long").alias("frame_ts_ms"))


SQL_VIDEO_FRAMES = """
SELECT 'http://cdn.example.com/vid/' || CAST(i AS VARCHAR) || '.mp4' AS media_ref,
       CAST(ts AS BIGINT) AS frame_ts_ms
FROM range(80) t(i),
     LATERAL unnest(generate_series(0, 1000 + (i % 256) * 100, 700)) u(ts)
"""


def q_media_resize(spark, sf_dir):
    """REAL image resize: decode the synthetic PPM/BMP/PNG payloads, 2x2
    integer box filter, re-encode as PPM. out dims come from the decoded
    array (8x8 -> 4x4); checksum sums every output-payload byte (PPM header
    456 + the 48 box-filtered pixel bytes), all restated arithmetically by
    the oracle — a wrong decode, filter, or re-encode breaks the hash."""
    from nutch_spark.operators.media import resize_media, synth_media_table

    import numpy as np
    from pyspark.sql.types import LongType

    refs = [f"http://img.example-cdn.com/{i}.jpg" for i in range(120)]
    rs = resize_media(synth_media_table(spark, refs), scale=2)

    byte_sum = F.pandas_udf(
        lambda p: p.map(lambda b: int(np.frombuffer(b, dtype=np.uint8).sum())),
        LongType(),
    )

    return rs.select(
        "media_ref",
        F.col("width").cast("long").alias("out_width"),
        F.col("height").cast("long").alias("out_height"),
        byte_sum(F.col("payload")).alias("checksum"),
    )


# header bytes of "P6\n4 4\n255\n" sum to 456; each output pixel byte is the
# floor-mean of its 2x2 input block, input byte (row,col,ch) = (i + 24*row
# + 3*col + ch) % 256
SQL_MEDIA_RESIZE = """
SELECT 'http://img.example-cdn.com/' || CAST(i AS VARCHAR) || '.jpg' AS media_ref,
       CAST(4 AS BIGINT) AS out_width,
       CAST(4 AS BIGINT) AS out_height,
       CAST(456 + (SELECT SUM((
             (i + 48*r.a + 6*c.b + ch.c) % 256
           + (i + 48*r.a + 6*c.b + 3 + ch.c) % 256
           + (i + 48*r.a + 24 + 6*c.b + ch.c) % 256
           + (i + 48*r.a + 24 + 6*c.b + 3 + ch.c) % 256) // 4)
         FROM range(4) r(a), range(4) c(b), range(3) ch(c)) AS BIGINT) AS checksum
FROM range(120) t(i)
"""


def q_dedup_clusters(spark, sf_dir):
    """Duplicate clustering: near-dup PAIRS -> connected components
    (hash-min propagation; groups keyed by min doc_id). Pairs are derived
    chains over the documents ids: (d, d+1) when d%10 in {0,1,2} — pair
    A~B, B~C must yield one group even though A~C never appears."""
    from nutch_spark.operators.dedup import duplicate_clusters

    d = load(spark, sf_dir, "documents").select(F.col("doc_id").cast("long").alias("doc_id"))
    pairs = (
        d.filter(F.col("doc_id") % 10 < 3)
        .select(F.col("doc_id").alias("a"), (F.col("doc_id") + 1).alias("b"))
        .join(d.select(F.col("doc_id").alias("b")), "b")  # keep in-table ends
    )
    return duplicate_clusters(pairs)


SQL_DEDUP_CLUSTERS = """
WITH RECURSIVE pairs AS (
  SELECT CAST(d.doc_id AS BIGINT) AS a, CAST(d.doc_id + 1 AS BIGINT) AS b
  FROM documents d
  JOIN documents e ON e.doc_id = d.doc_id + 1
  WHERE d.doc_id % 10 < 3
),
sym AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION
  SELECT b AS src, a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM sym),
reach(id, comp) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN sym e ON e.src = r.id
)
SELECT id AS doc_id, MIN(comp) AS component FROM reach GROUP BY id
"""


def q_url_filters(spark, sf_dir):
    """F7 dedicated filters (plugin/urlfilter-{prefix,suffix,domain}) over a
    fixture with outcomes known by construction: prefix accepts hosts h1/h2,
    suffix (default-accept mode) rejects gif/exe extensions
    (SuffixURLFilter.java:85-160 match-flips-default), domain accepts the
    registered domain example.com only (DomainURLFilter.java:172-201), and
    domainblacklist rejects the org public suffix plus one exact host
    (DomainBlacklistURLFilter.java:172-200 reject-on-match)."""
    from nutch_spark.functions.urlfilters import (
        DomainBlacklistUrlFilter, DomainUrlFilter, PrefixUrlFilter,
        SuffixUrlFilter,
    )

    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("k")
    )
    k = F.col("k")
    ext = (
        F.when(k % 4 == 0, F.lit("gif"))
        .when(k % 4 == 1, F.lit("html"))
        .when(k % 4 == 2, F.lit("exe"))
        .otherwise(F.lit("pdf"))
    )
    tld = F.when(k % 2 == 0, F.lit("com")).otherwise(F.lit("org"))
    url = F.format_string(
        "http://h%d.shop-%d.example.%s/f%d.%s", k % 7, k % 5, tld, k, ext
    )
    prefix = PrefixUrlFilter(["http://h1.", "http://h2."])
    suffix = SuffixUrlFilter(["gif", "exe"], default_accept=True)
    domain = DomainUrlFilter(["example.com"])
    blacklist = DomainBlacklistUrlFilter.from_text(
        "# blacklist\norg\nh1.shop-1.example.com\n")
    return o.select(
        "k",
        url.alias("url"),
        prefix.col(url).alias("prefix_ok"),
        suffix.col(url).alias("suffix_ok"),
        domain.udf()(url).alias("domain_ok"),
        blacklist.udf()(url).alias("blacklist_ok"),
    )


SQL_URL_FILTERS = """
SELECT CAST(o_orderkey AS BIGINT) AS k,
       'http://h' || (o_orderkey % 7) || '.shop-' || (o_orderkey % 5)
         || '.example.' || (CASE WHEN o_orderkey % 2 = 0 THEN 'com' ELSE 'org' END)
         || '/f' || o_orderkey || '.'
         || (CASE o_orderkey % 4 WHEN 0 THEN 'gif' WHEN 1 THEN 'html'
             WHEN 2 THEN 'exe' ELSE 'pdf' END) AS url,
       (o_orderkey % 7) IN (1, 2) AS prefix_ok,
       (o_orderkey % 4) IN (1, 3) AS suffix_ok,
       (o_orderkey % 2) = 0 AS domain_ok,
       NOT ((o_orderkey % 2) = 1
            OR ((o_orderkey % 7) = 1 AND (o_orderkey % 5) = 1)) AS blacklist_ok
FROM orders
"""


def q_linkdb_merge(spark, sf_dir):
    """A6 LinkDbMerger (crawl/LinkDbMerger.java:45+): union two linkdbs with
    overlapping segments, dedupe (to,from) keeping the min anchor, re-cap
    at db.max.inlinks=3 per target."""
    from nutch_spark.config import CrawlConfig
    from nutch_spark.operators.linkdb import merge_linkdbs

    cfg = CrawlConfig(db_max_inlinks=3)
    e = derived_edges(spark, sf_dir).select("to_url", "from_url", "anchor", "segment")
    db1 = e.filter(F.col("segment") <= 4).drop("segment")
    db2 = e.filter(F.col("segment") >= 3).drop("segment")
    return merge_linkdbs([db1, db2], cfg)


SQL_LINKDB_MERGE = f"""
WITH {EDGES_CTE},
un AS (
  SELECT to_url, from_url, anchor FROM edges WHERE segment <= 4
  UNION ALL
  SELECT to_url, from_url, anchor FROM edges WHERE segment >= 3
),
ded AS (
  SELECT to_url, from_url, MIN(anchor) AS anchor FROM un GROUP BY to_url, from_url
),
capped AS (
  SELECT to_url, from_url, anchor,
         ROW_NUMBER() OVER (PARTITION BY to_url ORDER BY from_url) AS rn
  FROM ded
)
SELECT to_url, from_url, anchor FROM capped WHERE rn <= 3
"""


def q_signatures(spark, sf_dir):
    """C6 MD5Signature (crawl/MD5Signature.java:33-37) + C7
    TextProfileSignature (crawl/TextProfileSignature.java:40-170) over a
    fixture whose token profile is known by construction: counts a=2 b=3
    c=1, max_freq 3 -> quant 2, c floored out, ties sorted token-asc ->
    profile 't<k>a 2\\nt<k>b 2'."""
    from nutch_spark.functions.signatures import (
        md5_signature_col, text_profile_signature_udf,
    )

    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("k")
    ).repartition(spark.sparkContext.defaultParallelism)
    k = F.col("k")
    content = F.format_string("body %d", k)
    text = F.format_string("t%da t%da t%db t%db t%db t%dc", k, k, k, k, k, k)
    return o.select(
        "k",
        md5_signature_col(content).alias("md5_sig"),
        text_profile_signature_udf(text).alias("profile_sig"),
    )


SQL_SIGNATURES = """
SELECT CAST(o_orderkey AS BIGINT) AS k,
       md5('body ' || o_orderkey) AS md5_sig,
       md5('t' || o_orderkey || 'a 2' || chr(10) || 't' || o_orderkey || 'b 2') AS profile_sig
FROM orders
"""


def q_repr_url(spark, sf_dir):
    """C4 repr-URL on redirects (URLUtil.chooseRepr:343-449, exact port in
    functions/urls.choose_repr_url). Fixture branches: v=0 perm non-root
    src -> dst; v=1 temp same-host, dst has fewer path segments -> dst;
    v=2 temp same-host, equal segments + longer dst file -> src; v=3 temp
    same registered domain, equal host label counts -> src."""
    from nutch_spark.functions.urls import choose_repr_url

    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("k")
    )
    k = F.col("k")
    v = k % 4
    src = F.format_string("http://h%d.example.com/aaaa/%d", k, k)
    dst = (
        F.when(v == 0, F.format_string("http://h%d.example.com/p/%d", k, k))
        .when(v == 1, F.format_string("http://h%d.example.com/b", k))
        .when(v == 2, F.format_string("http://h%d.example.com/bbbbbbbbbbbbbbbbbbbbbbbb/%d", k, k))
        .otherwise(F.format_string("http://other%d.example.com/b", k))
    )
    temp = v != 0

    @F.pandas_udf("string")
    def repr_udf(s: pd.Series, d: pd.Series, t: pd.Series) -> pd.Series:
        return pd.Series(
            [choose_repr_url(a, b, bool(c)) for a, b, c in zip(s, d, t)]
        )

    return o.select(
        "k", src.alias("src"), dst.alias("dst"),
        repr_udf(src, dst, temp.cast("boolean")).alias("repr_url"),
    )


SQL_REPR_URL = """
WITH f AS (
  SELECT CAST(o_orderkey AS BIGINT) AS k,
         'http://h' || o_orderkey || '.example.com/aaaa/' || o_orderkey AS src,
         CASE o_orderkey % 4
           WHEN 0 THEN 'http://h' || o_orderkey || '.example.com/p/' || o_orderkey
           WHEN 1 THEN 'http://h' || o_orderkey || '.example.com/b'
           WHEN 2 THEN 'http://h' || o_orderkey || '.example.com/bbbbbbbbbbbbbbbbbbbbbbbb/' || o_orderkey
           ELSE 'http://other' || o_orderkey || '.example.com/b'
         END AS dst
  FROM orders)
SELECT k, src, dst,
       CASE k % 4
         WHEN 0 THEN dst   -- permanent, src not root -> dst
         WHEN 1 THEN dst   -- temp same-host: dst has fewer path segments
         WHEN 2 THEN src   -- temp same-host: equal segments, dst file longer
         ELSE src          -- temp same domain, equal host label counts
       END AS repr_url
FROM f
"""


def q_schedule_forced(spark, sf_dir):
    """T5 forced-refetch clamp (AbstractFetchSchedule.java:168-185
    shouldFetch via select_due): a fetch_time more than
    db.fetch.interval.max (90 d) remote is pulled to now (and thus
    selected), an interval beyond the max shrinks to max*0.9; plus the
    F9/F10 gates — not-due rows, gone rows and gen-delay-suppressed rows
    drop out."""
    from nutch_spark.config import CrawlConfig
    from nutch_spark.operators.generate import select_due

    cfg = CrawlConfig(gen_delay_ms=60_000)
    max_iv = cfg.db_fetch_interval_max  # 7_776_000 s (90 d)
    cur = 1_000_000_000_000
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("k")
    )
    k = F.col("k")
    v = k % 5
    # v==2 rows alternate a sane and an over-max interval so the clamp's
    # interval shrink shows up in the hashed output
    interval = (
        F.when(v == 2, F.when(k % 2 == 0, F.lit(max_iv + 86400)).otherwise(F.lit(3600)))
        .otherwise(86400 * (1 + k % 3))
    ).cast("long")
    fetch_time = (
        F.when(v == 0, F.lit(cur - 1000))
        .when(v == 1, F.lit(cur + 1000))
        .when(v == 2, F.lit(cur + (max_iv + 10) * 1000))  # > max_iv remote
        .otherwise(F.lit(cur - 1000))
    ).cast("long")
    status = F.when(v == 3, F.lit(3)).otherwise(F.lit(1)).cast("long")
    meta = F.when(
        v == 4,
        F.create_map(F.lit("_ngt_"), F.lit(str(cur - 30_000))),
    ).otherwise(F.create_map().cast("map<string,string>"))
    frontier = o.select(
        F.format_string("http://h%d.example.com/f/%d", k, k).alias("url"),
        status.alias("status"),
        fetch_time.alias("fetch_time"),
        interval.alias("fetch_interval"),
        F.lit(1.0).alias("score"),
        meta.alias("metadata"),
        "k",
    )
    return select_due(frontier, cfg, cur).select(
        "k", "url", "fetch_time", "fetch_interval")


SQL_SCHEDULE_FORCED = """
SELECT CAST(o_orderkey AS BIGINT) AS k,
       'http://h' || o_orderkey || '.example.com/f/' || o_orderkey AS url,
       CASE WHEN o_orderkey % 5 = 2
            THEN CAST(1000000000000 AS BIGINT)         -- pulled to now
            ELSE CAST(1000000000000 - 1000 AS BIGINT)
       END AS fetch_time,
       CAST(CASE
            WHEN o_orderkey % 5 = 2 AND o_orderkey % 2 = 0
            THEN CAST(7776000 * 0.9 AS BIGINT)         -- shrunk to max*0.9
            WHEN o_orderkey % 5 = 2 THEN 3600
            ELSE 86400 * (1 + o_orderkey % 3)
       END AS BIGINT) AS fetch_interval
FROM orders
WHERE o_orderkey % 5 IN (0, 2)
"""


def q_url_validator(spark, sf_dir):
    """urlfilter-validator (UrlValidator.java:152-343) over a 12-variant
    fixture with validity known by construction: scheme/authority/tld/port/
    path-dots/ascii rules all exercised; the Spark side is the native
    Catalyst cascade (UrlValidatorFilter.col)."""
    from nutch_spark.functions.urlfilters import UrlValidatorFilter

    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("k")
    )
    k = F.col("k")
    v = k % 12
    url = (
        F.when(v == 0, F.format_string("http://h%d.example.com/p/%d", k, k))
        .when(v == 1, F.format_string("http://h%d.example.com:8080/p", k))
        .when(v == 2, F.format_string("http://256.1.2.%d/x", k % 256))
        .when(v == 3, F.format_string("http://1.2.3.%d/ok", k % 256))
        .when(v == 4, F.format_string("http://h%d.example.comics/", k))
        .when(v == 5, F.format_string("http://h%d_x.example.com/", k))
        .when(v == 6, F.format_string("h%d.example.com/nope", k))
        .when(v == 7, F.format_string("http://h%d.example.com/a/../..", k))
        .when(v == 8, F.format_string("http://h%d.example.com/a/b/../c", k))
        .when(v == 9, F.format_string("http://h%d.example.com/q?x=%d", k, k))
        .when(v == 10, F.format_string("http://h%d.example.com/sp ace", k))
        .otherwise(F.format_string("ftp://h%d.example.com:21/f", k))
    )
    return o.select(
        "k",
        url.alias("url"),
        UrlValidatorFilter().col(url).alias("valid"),
    )


SQL_URL_VALIDATOR = """
SELECT k, url, (k % 12) IN (0, 1, 3, 8, 9, 11) AS valid FROM (
  SELECT CAST(o_orderkey AS BIGINT) AS k,
    CASE o_orderkey % 12
      WHEN 0 THEN 'http://h' || o_orderkey || '.example.com/p/' || o_orderkey
      WHEN 1 THEN 'http://h' || o_orderkey || '.example.com:8080/p'
      WHEN 2 THEN 'http://256.1.2.' || (o_orderkey % 256) || '/x'
      WHEN 3 THEN 'http://1.2.3.' || (o_orderkey % 256) || '/ok'
      WHEN 4 THEN 'http://h' || o_orderkey || '.example.comics/'
      WHEN 5 THEN 'http://h' || o_orderkey || '_x.example.com/'
      WHEN 6 THEN 'h' || o_orderkey || '.example.com/nope'
      WHEN 7 THEN 'http://h' || o_orderkey || '.example.com/a/../..'
      WHEN 8 THEN 'http://h' || o_orderkey || '.example.com/a/b/../c'
      WHEN 9 THEN 'http://h' || o_orderkey || '.example.com/q?x=' || o_orderkey
      WHEN 10 THEN 'http://h' || o_orderkey || '.example.com/sp ace'
      ELSE 'ftp://h' || o_orderkey || '.example.com:21/f'
    END AS url
  FROM orders)
"""


def q_index_plugins(spark, sf_dir):
    """headings + microformats-reltag + subcollection + language-identifier
    through the REAL parse kernel and build_index: html built JVM-side with
    h1 (nested-element exclusion), a rel=tag anchor (url-decoded last path
    segment), and a conditional content-language meta; subcollection
    white/blacklists over the url; lang = meta declaration else the n-gram
    identifier (LanguageIndexingFilter.java:55-70)."""
    from nutch_spark import schemas
    from nutch_spark.config import CrawlConfig
    from nutch_spark.operators.indexer import build_index
    from nutch_spark.operators.parse import extract_documents_by_mime

    cfg = CrawlConfig(
        headings=("h1", "h2"),
        index_reltag=True,
        index_lang=True,
        index_cc=True,
        subcollections=(
            ("colA", ("/order/",), ()),
            ("colB", (".example.com",), ("//h1.",)),
        ),
    )
    f = derived_frontier(spark, sf_dir)
    key = F.regexp_extract(F.col("url"), r"/order/(\d+)$", 1).cast("long")
    lang_meta = F.when(
        key % 4 == 0, F.lit('<meta name="content-language" content="fr">')
    ).otherwise(F.lit(""))
    cc_bits = (
        F.when(
            key % 3 == 0,
            F.lit(
                '<!-- <rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
                ' xmlns:cc="http://web.resource.org/cc/">'
                '<cc:License rdf:about="http://creativecommons.org/licenses/by-nc/2.0/"/>'
                "</rdf:RDF> -->"
            ),
        )
        .when(
            key % 3 == 1,
            F.lit('<a href="http://creativecommons.org/licenses/by/2.0/" rel="license">cc</a>'),
        )
        .otherwise(
            F.lit('<a href="http://creativecommons.org/licenses/sa/1.0/">cc</a>')
        )
    )
    content = F.format_string(
        '%s<title>T %s</title><h1>H <b>x</b> %d</h1><p>the data of %d</p>'
        '<a href="http://t.example.com/tag/t%%20%d" rel="tag">t</a>%s',
        lang_meta, F.col("host"), key, key, key % 5, cc_bits,
    )
    docs = _cache_slot("index_plugins.docs", extract_documents_by_mime(
        f.repartition(spark.sparkContext.defaultParallelism).select(
            "url", content.alias("content"), F.lit("text/html").alias("content_type")
        )
    ))  # parse_data AND parse_text branch from here: one kernel pass,
    #     not two (a real pipeline materializes the parse once)
    parse_data = docs.select(
        F.col("doc_id").alias("url"), "title", "meta", "noindex"
    )
    parse_text = docs.select(
        F.col("doc_id").alias("url"),
        F.array_join(
            F.transform(
                F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("text")),
                lambda s: s["text"],
            ),
            " ",
        ).alias("text"),
    )
    fetch_out = f.select(
        "url",
        F.lit(schemas.STATUS_FETCH_SUCCESS).alias("fetch_status"),
        F.col("fetch_time").alias("fetch_ts"),
        F.lit(1000).alias("content_length"),
    )
    idx = build_index(f, fetch_out, parse_text, parse_data, None, cfg)
    return idx.select(
        "url",
        "title",
        F.element_at("headings", "h1").alias("h1"),
        F.array_join("tag", ",").alias("tag"),
        F.array_join("subcollection", ",").alias("subcoll"),
        "lang",
        F.array_join("cc", "|").alias("cc"),
    )


SQL_INDEX_PLUGINS = f"""
WITH {FRONTIER_CTE},
keyed AS (
  SELECT url, host,
         CAST(regexp_extract(url, '/order/(\\d+)$', 1) AS BIGINT) AS k
  FROM frontier WHERE status <> 3
)
SELECT url,
       'T ' || host AS title,
       'H  ' || k AS h1,
       't ' || (k % 5) AS tag,
       CASE WHEN host = 'h1.example.com' THEN 'colA' ELSE 'colA,colB' END AS subcoll,
       CASE WHEN k % 4 = 0 THEN 'fr' ELSE 'en' END AS lang,
       CASE k % 3
         WHEN 0 THEN 'license=http://creativecommons.org/licenses/by-nc/2.0/|by|nc|2.0|meta=rdf'
         WHEN 1 THEN 'license=http://creativecommons.org/licenses/by/2.0/|by|2.0|meta=rel'
         ELSE 'license=http://creativecommons.org/licenses/sa/1.0/|sa|1.0|meta=a'
       END AS cc
FROM keyed
"""


def q_feed_parse(spark, sf_dir):
    """X12 parse-feed (plugin/feed FeedParser.java:106-150,221-287): RSS
    fixture built JVM-side from orders keys; the distributed kernel under
    test is the feed MIME-family extractor (entry link normalize+filter,
    html-subparsed bodies, feed/author/tags/published meta, the feed doc
    itself). One output row per span."""
    from nutch_spark.operators.parse import extract_documents_by_mime

    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("k")
    )
    k = F.col("k")
    n_items = k % 3 + 1
    day = k % 28 + 1

    def item(j):
        anchor = F.when(
            j == 0,
            F.format_string(
                " &lt;a href=&quot;http://feed%d.example.com/n/0&quot;&gt;more&lt;/a&gt;", k
            ),
        ).otherwise(F.lit(""))
        return F.format_string(
            "<item><title>Post %d-%d</title>"
            "<link>http://feed%d.example.com/p/%d</link>"
            "<description>&lt;p&gt;body %d %d&lt;/p&gt;%s</description>"
            "<author>a%d</author><category>c%d</category><category>c%d</category>"
            "<pubDate>Mon, %02d Jan 2008 %02d:00:00 GMT</pubDate></item>",
            k, j, k, j, k, j, anchor, (k + j) % 7, k % 3, (k + 1) % 3, day, j % 24,
        )

    items = F.array_join(
        F.transform(F.sequence(F.lit(0).cast("long"), n_items - 1), item), ""
    )
    content = F.format_string(
        '<rss version="2.0"><channel><title>Feed %d</title>'
        "<link>http://feed%d.example.com/</link>"
        "<description>chan %d</description>%s</channel></rss>",
        k, k, k, items,
    )
    # the orders parquet is one file at small SF — spread the python kernel
    # over the executors (the shuffle moves one long per row)
    cdf = o.repartition(spark.sparkContext.defaultParallelism).select(
        F.format_string("http://feed%d.example.com/feed.xml", k).alias("url"),
        content.alias("content"),
        F.lit("application/rss+xml").alias("content_type"),
    )
    docs = extract_documents_by_mime(cdf)
    return docs.select("doc_id", "title", "meta", F.explode("spans").alias("s")).select(
        "doc_id",
        "title",
        F.col("s.offset").cast("long").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("meta").getItem("feed").alias("feed"),
        F.col("meta").getItem("author").alias("author"),
        F.col("meta").getItem("tags").alias("tags"),
        F.col("meta").getItem("published").alias("published"),
    )


SQL_FEED_PARSE = """
WITH ks AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders),
e AS (SELECT k, j FROM ks, range(3) t(j) WHERE j < k % 3 + 1),
meta AS (
  SELECT k, j,
    'http://feed' || k || '.example.com/p/' || j AS doc_id,
    'Post ' || k || '-' || j AS title,
    'http://feed' || k || '.example.com/' AS feed,
    'a' || ((k + j) % 7) AS author,
    'c' || (k % 3) || chr(9) || 'c' || ((k + 1) % 3) AS tags,
    CAST(epoch_ms(make_timestamp(2008, 1, CAST(1 + k % 28 AS INT),
                                 CAST(j % 24 AS INT), 0, 0)) AS VARCHAR) AS published
  FROM e)
SELECT doc_id, title, CAST(0 AS BIGINT) AS "offset", 'text' AS kind,
       'body ' || k || ' ' || j AS text, CAST(NULL AS VARCHAR) AS media_ref,
       feed, author, tags, published
FROM meta
UNION ALL
SELECT doc_id, title, CAST(1 AS BIGINT), 'link', 'more',
       'http://feed' || k || '.example.com/n/0', feed, author, tags, published
FROM meta WHERE j = 0
UNION ALL
SELECT 'http://feed' || k || '.example.com/feed.xml', 'Feed ' || k,
       CAST(0 AS BIGINT), 'text', 'chan ' || k, CAST(NULL AS VARCHAR),
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(NULL AS VARCHAR)
FROM ks
"""


# Registry order matters: the round driver gates the FIRST 50 entries in
# insertion order (CORRECTNESS_r01-r03 were exactly the first 50 each round
# while the registry grew to 66). Sections below rotate coverage so every
# query gets a driver-gate row across rounds:
#   1. rotate-in  — never driver-gated before round 4, or semantics changed
#                   this round, or new this round;
#   2. core       — crawl-cycle operators kept under the gate every round;
#   3. rotate-out — stable rows green in CORRECTNESS_r01-r03, parked beyond
#                   the 50-row window this round (still in ORACLES_LOCAL).
def q_ext_parse(spark, sf_dir):
    """parse-ext analogue (parse/ext/ExtParser.java:72-141): pipe content
    through an external command per content type — here the identity
    `cat` via an sh wrapper that absorbs the appended mimeType argument
    (the plugin's shipped `command` fixture contract). Parse text = the
    command's stdout; outlinks = the OutlinkExtractor regex over it."""
    from nutch_spark.operators.extparse import ExtCommand, run_ext_parse

    o = load(spark, sf_dir, "orders").select("o_orderkey").orderBy("o_orderkey").limit(200)
    k = F.col("o_orderkey").cast("long")
    body = F.format_string("doc %d visit http://ext.example.com/page/%d now", k, k)
    df = o.select(
        F.concat(F.lit("http://src.example.com/o/"), k.cast("string")).alias("url"),
        F.encode(body, "utf-8").alias("content"),
        F.lit("text/x-ext").alias("content_type"),
        F.length(body).cast("long").alias("content_length"),
    )
    res = run_ext_parse(df, {"text/x-ext": ExtCommand("sh -c cat wrapper")})
    return res.select(
        "url", "status", "text",
        F.array_join("outlinks", ",").alias("outlinks"), "error",
    )


SQL_EXT_PARSE = """
WITH o AS (SELECT o_orderkey AS k FROM orders ORDER BY o_orderkey LIMIT 200)
SELECT 'http://src.example.com/o/' || CAST(k AS VARCHAR) AS url,
       CAST(1 AS INTEGER) AS status,
       'doc ' || k || ' visit http://ext.example.com/page/' || k || ' now' AS text,
       'http://ext.example.com/page/' || CAST(k AS VARCHAR) AS outlinks,
       CAST(NULL AS VARCHAR) AS error
FROM o
"""


def q_office_parse(spark, sf_dir):
    """parse-tika office slice without the library: real RTF bytes (info
    group title, \\par breaks) and real OpenDocument zip packages
    (content.xml paragraphs + meta.xml dc:title) through the MIME dispatch
    kernel — title + text span + regex outlinks, the TikaParser.java
    ParseResult shape."""
    from nutch_spark.operators.officeparse import encode_odf
    from nutch_spark.operators.parse import extract_documents_by_mime

    rows = []
    for k in range(150):
        url = f"http://docs.example.com/{k}"
        body = f"Office doc {k} visit http://off.example.com/page/{k}"
        line2 = f"second line {k}"
        title = f"T {k}"
        if k % 2 == 0:
            payload = ("{\\rtf1\\ansi{\\info{\\title %s}}%s\\par %s}"
                       % (title, body, line2)).encode()
            ctype = "application/rtf"
        else:
            payload = encode_odf([body, line2], title=title)
            ctype = "application/vnd.oasis.opendocument.text"
        rows.append((url, payload, ctype))
    df = spark.createDataFrame(
        rows, "url string, content binary, content_type string")
    docs = extract_documents_by_mime(df)
    texts = F.filter("spans", lambda s: s["kind"] == F.lit("text"))
    links = F.filter("spans", lambda s: s["kind"] == F.lit("link"))
    return docs.select(
        F.col("doc_id").alias("url"),
        "title",
        F.array_join(F.transform(texts, lambda s: s["text"]), " ").alias("text"),
        F.array_join(F.transform(links, lambda s: s["media_ref"]), ",").alias("outlinks"),
    )


SQL_OFFICE_PARSE = """
SELECT 'http://docs.example.com/' || CAST(i AS VARCHAR) AS url,
       'T ' || i AS title,
       'Office doc ' || i || ' visit http://off.example.com/page/' || i
         || chr(10) || 'second line ' || i AS text,
       'http://off.example.com/page/' || CAST(i AS VARCHAR) AS outlinks
FROM range(150) t(i)
"""


def q_swf_parse(spark, sf_dir):
    """parse-swf analogue: real SWF binaries (DefineEditText initial text
    + a DoAction GetURL; FWS plain for even ids, CWS zlib for odd)
    through the MIME dispatch — text from the tag walk, the GetURL url as
    the first outlink (SWFParser.java:85-130)."""
    import struct
    import zlib as _z

    from nutch_spark.operators.parse import extract_documents_by_mime

    def _tag(code, body):
        return struct.pack("<H", (code << 6) | len(body)) + body

    def _swf(k):
        txt = f"flash doc {k} visit".encode()
        et = struct.pack("<H", 1) + b"\x00" + bytes([0x88, 0x00]) + b"v\x00" + txt + b"\x00"
        url = f"http://swf.example.com/page/{k}".encode()
        act = bytes([0x83]) + struct.pack("<H", len(url) + 8) + url + b"\x00_blank\x00" + b"\x00"
        body = (b"\x00" + struct.pack("<HH", 0x0C00, 1)
                + _tag(37, et) + _tag(12, act) + _tag(0, b""))
        if k % 2:
            return b"CWS" + bytes([6]) + struct.pack("<I", 8 + len(body)) + _z.compress(body)
        return b"FWS" + bytes([6]) + struct.pack("<I", 8 + len(body)) + body

    rows = [(f"http://flash.example.com/{k}", _swf(k),
             "application/x-shockwave-flash") for k in range(120)]
    df = spark.createDataFrame(
        rows, "url string, content binary, content_type string")
    docs = extract_documents_by_mime(df)
    texts = F.filter("spans", lambda s: s["kind"] == F.lit("text"))
    links = F.filter("spans", lambda s: s["kind"] == F.lit("link"))
    return docs.select(
        F.col("doc_id").alias("url"),
        F.array_join(F.transform(texts, lambda s: s["text"]), " ").alias("text"),
        F.array_join(F.transform(links, lambda s: s["media_ref"]), ",").alias("outlinks"),
    )


SQL_SWF_PARSE = """
SELECT 'http://flash.example.com/' || CAST(i AS VARCHAR) AS url,
       'flash doc ' || i || ' visit' AS text,
       'http://swf.example.com/page/' || CAST(i AS VARCHAR) AS outlinks
FROM range(120) t(i)
"""


def q_video_decode(spark, sf_dir):
    """REAL video decode: the synth video payloads are actual uncompressed
    RIFF/AVI files (10 fps, 4x4 DIB frames whose RGB byte j is
    (idx+7f+j)%256); extract_video_frames decodes them, samples a frame
    every 700 ms and checksums its ACTUAL pixels — the oracle restates
    frame selection and pixel sums arithmetically."""
    from nutch_spark.operators.media import (
        extract_video_frames, synth_media_table)

    refs = [f"http://cdn.example.com/vid/{i}.mp4" for i in range(60)]
    return extract_video_frames(synth_media_table(spark, refs), every_ms=700)


SQL_VIDEO_DECODE = """
WITH refs AS (
  SELECT CAST(i AS INTEGER) AS idx,
         'http://cdn.example.com/vid/' || CAST(i AS VARCHAR) || '.mp4' AS media_ref
  FROM range(60) t(i)
),
fr AS (SELECT idx, media_ref, 10 + (idx % 256) AS n FROM refs),
ts AS (
  SELECT idx, media_ref, n,
         unnest(generate_series(0, n * 100 - 1, 700)) AS t
  FROM fr
)
SELECT media_ref,
       CAST(t AS BIGINT) AS frame_ts_ms,
       CAST(t // 100 AS BIGINT) AS frame_index,
       CAST(4 AS BIGINT) AS width,
       CAST(4 AS BIGINT) AS height,
       CAST((SELECT SUM((idx + 7 * (t // 100) + j.k) % 256)
             FROM range(48) j(k)) AS BIGINT) AS checksum
FROM ts
"""


def q_audio_features(spark, sf_dir):
    """REAL audio decode: the synth audio payloads are actual 8-bit PCM
    WAV files (RIFF chunk walk, functions/audio.py) whose 64 data bytes
    are (idx+j)%256 — decoded samples ((b-128)/128 are exact binary
    fractions, so rms/peak round-trip bit-exactly against the oracle's
    arithmetic restatement; zero crossings count sign flips."""
    from nutch_spark.operators.media import (
        extract_audio_features, synth_media_table)

    refs = [f"http://cdn.example.com/a/{i}.wav" for i in range(100)]
    feats = extract_audio_features(synth_media_table(spark, refs))
    return feats.select(
        "media_ref", "n_samples", "sample_rate", "duration_ms",
        F.round("rms", 6).alias("rms"),
        "zero_crossings",
        F.round("peak", 6).alias("peak"),
        "decoded",
    )


SQL_AUDIO_FEATURES = """
WITH refs AS (
  SELECT CAST(i AS INTEGER) AS idx,
         'http://cdn.example.com/a/' || CAST(i AS VARCHAR) || '.wav' AS media_ref
  FROM range(100) t(i)
),
s AS (
  SELECT idx, media_ref, j.k AS k,
         ((idx + j.k) % 256 - 128) / 128.0 AS v
  FROM refs, range(64) j(k)
)
SELECT media_ref,
       CAST(64 AS BIGINT) AS n_samples,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(8 AS BIGINT) AS duration_ms,
       ROUND(SQRT(AVG(v * v)), 6) AS rms,
       CAST(SUM(CASE WHEN k < 63 AND (((idx + k) % 256 < 128)
                       <> ((idx + k + 1) % 256 < 128)) THEN 1 ELSE 0 END)
            AS BIGINT) AS zero_crossings,
       ROUND(MAX(ABS(v)), 6) AS peak,
       TRUE AS decoded
FROM s GROUP BY idx, media_ref
"""


QUERIES: dict[str, tuple] = {
    # --- 0. new in round 5 ---
    "ext_parse": (q_ext_parse, SQL_EXT_PARSE),
    "office_parse": (q_office_parse, SQL_OFFICE_PARSE),
    "swf_parse": (q_swf_parse, SQL_SWF_PARSE),
    "audio_features": (q_audio_features, SQL_AUDIO_FEATURES),
    "video_decode": (q_video_decode, SQL_VIDEO_DECODE),
    # --- 1. r05 gate window head: not driver-verified since r03 (VERDICT r4
    #     item 4: every query must hit a driver CORRECTNESS file in r03-r05;
    #     these 32 were green in r03's window, re-verify on r5 code) ---
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "cosine_topk": (q_cosine_topk, SQL_COSINE_TOPK),
    "events_hourly": (q_events_hourly, SQL_EVENTS_HOURLY),
    "regex_normalize": (q_regex_normalize, _sql_regex_normalize),
    "items": (q_items, _sql_items),
    "outlink_follow": (q_outlink_follow, SQL_OUTLINK_FOLLOW),
    "dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "loops": (q_loops, SQL_LOOPS),
    "js_outlinks": (q_js_outlinks, SQL_JS_OUTLINKS),
    "index_plugins": (q_index_plugins, SQL_INDEX_PLUGINS),
    "zip_parse": (q_zip_parse, SQL_ZIP_PARSE),
    "url_validator": (q_url_validator, SQL_URL_VALIDATOR),
    "linkdb_merge": (q_linkdb_merge, SQL_LINKDB_MERGE),
    "crawldb_stats": (q_crawldb_stats, SQL_CRAWLDB_STATS),
    "schedule_default": (q_schedule_default, SQL_SCHEDULE_DEFAULT),
    "schedule_adaptive": (q_schedule_adaptive, SQL_SCHEDULE_ADAPTIVE),
    "schedule_mime": (q_schedule_mime, SQL_SCHEDULE_MIME),
    "token_count": (q_token_count, SQL_TOKEN_COUNT),
    "doc_quality": (q_doc_quality, SQL_DOC_QUALITY),
    "lang_distribution": (q_lang_distribution, SQL_LANG_DISTRIBUTION),
    "lang_id": (q_lang_id, SQL_LANG_ID),
    "bpe_token_count": (q_bpe_token_count, SQL_BPE_TOKEN_COUNT),
    "doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    "nodedump": (q_nodedump, SQL_NODEDUMP),
    "linkdump": (q_linkdump, SQL_LINKDUMP),
    "mime_resolve": (q_mime_resolve, SQL_MIME_RESOLVE),
    "charset_sniff": (q_charset_sniff, SQL_CHARSET_SNIFF),
    "gzip_decompress": (q_gzip_decompress, SQL_GZIP_DECOMPRESS),
    "arc_import": (q_arc_import, SQL_ARC_IMPORT),
    "dmoz_import": (q_dmoz_import, SQL_DMOZ_IMPORT),
    "video_frames": (q_video_frames, SQL_VIDEO_FRAMES),
    "media_resize": (q_media_resize, SQL_MEDIA_RESIZE),
    # --- 2. behavior touched in round 5 (LSH bucket caps, linkdb oracle
    #     NULL order, cache/eager + loops/linkrank probes, seen fmt gate) ---
    "minhash_neardup": (q_minhash_neardup, _sql_minhash_neardup),
    "simhash_neardup": (q_simhash_neardup, _sql_simhash_neardup),
    "ngram_jaccard": (q_ngram_jaccard, _sql_ngram_jaccard),
    "ann_topk": (q_ann_topk, _sql_ann_topk),
    "embedding_neardup": (q_embedding_neardup, _sql_embedding_neardup),
    "linkdb_read": (q_linkdb_read, SQL_LINKDB_READ),
    "linkrank": (q_linkrank, _sql_linkrank),
    "fetch_kernel": (q_fetch_kernel, _sql_fetch_kernel),
    "seen_antijoin": (q_seen_antijoin, SQL_SEEN_ANTIJOIN),
    # --- 3. driver-green in r04, unchanged ---
    "pii_scrub": (q_pii_scrub, SQL_PII_SCRUB),
    "sequence_pack": (q_sequence_pack, SQL_SEQUENCE_PACK),
    "train_val_split": (q_train_val_split, SQL_TRAIN_VAL_SPLIT),
    "repetition_signals": (q_repetition_signals, SQL_REPETITION_SIGNALS),
    "ngram_contamination": (q_ngram_contamination, SQL_NGRAM_CONTAMINATION),
    "domain_quota_sample": (q_domain_quota_sample, SQL_DOMAIN_QUOTA_SAMPLE),
    "index_clean": (q_index_clean, SQL_INDEX_CLEAN),
    "paragraph_dedup": (q_paragraph_dedup, SQL_PARAGRAPH_DEDUP),
    "ann_ivf": (q_ann_ivf, _sql_ann_ivf),
    "pdf_parse": (q_pdf_parse, SQL_PDF_PARSE),
    "urlmeta": (q_urlmeta, SQL_URLMETA),
    "segment_dump": (q_segment_dump, SQL_SEGMENT_DUMP),
    "crawldb_scan": (q_crawldb_scan, SQL_CRAWLDB_SCAN),
    "partition_byip": (q_partition_byip, SQL_PARTITION_BYIP),
    "dataset_build": (q_dataset_build, SQL_DATASET_BUILD),
    "fetch_redirects": (q_fetch_redirects, _sql_fetch_redirects),
    "fetch_throughput": (q_fetch_throughput, _sql_fetch_throughput),
    "span_extraction": (q_span_extraction, _sql_span_extraction),
    "signatures": (q_signatures, SQL_SIGNATURES),
    "repr_url": (q_repr_url, SQL_REPR_URL),
    "schedule_forced": (q_schedule_forced, SQL_SCHEDULE_FORCED),
    "url_filters": (q_url_filters, SQL_URL_FILTERS),
    "quality_score": (q_quality_score, _sql_quality_score),
    "media_features": (q_media_features, SQL_MEDIA_FEATURES),
    "http_dates": (q_http_dates, SQL_HTTP_DATES),
    "feed_parse": (q_feed_parse, SQL_FEED_PARSE),
    "generator_topn": (q_generator_topn, SQL_GENERATOR_TOPN),
    "generator_hostcap": (q_generator_hostcap, SQL_GENERATOR_HOSTCAP),
    "generator_due": (q_generator_due, SQL_GENERATOR_DUE),
    "partition_hostcount": (q_partition_hostcount, SQL_PARTITION_HOSTCOUNT),
    "inject_merge": (q_inject_merge, SQL_INJECT_MERGE),
    "updatedb_transitions": (q_updatedb_transitions, SQL_UPDATEDB_TRANSITIONS),
    "linkdb_invert": (q_linkdb_invert, SQL_LINKDB_INVERT),
    "opic_inlink_sum": (q_opic_inlink_sum, SQL_OPIC_INLINK_SUM),
    "segment_merge": (q_segment_merge, SQL_SEGMENT_MERGE),
    "crawldb_merge": (q_crawldb_merge, SQL_CRAWLDB_MERGE),
    "index_dedup": (q_index_dedup, SQL_INDEX_DEDUP),
    "indexer_join": (q_indexer_join, SQL_INDEXER_JOIN),
    "index_fields": (q_index_fields, SQL_INDEX_FIELDS),
    "domain_stats": (q_domain_stats, SQL_DOMAIN_STATS),
    "score_updater": (q_score_updater, SQL_SCORE_UPDATER),
}
