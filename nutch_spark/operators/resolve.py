"""byIP politeness partitioning + ResolveUrls analogue.

Reference: crawl/URLPartitioner.java:79-86 — PARTITION_MODE_IP hashes the
resolved host address, and UnknownHostException falls back to the host hash
already computed — and tools/ResolveUrls.java (the bulk resolver
diagnostic, a thread pool over a URL list).

This sandbox has no DNS, and a real cluster should not resolve 10^8 distinct
hosts inline inside the generate job either (the reference's per-record
InetAddress.getByName is the classic byIP scale trap: one blocking lookup
per reduce record). So the resolver is an injectable (host, ip) mapping
TABLE — in production a periodically refreshed resolution table built by a
batched resolver job and stored bucketed by host; in tests a deterministic
fixture. Unresolved hosts (left-join miss → null ip) keep the host string as
the politeness key, exactly the reference's UnknownHostException path.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, functions as F

from nutch_spark.functions.urls import domain_udf, host_col


def politeness_key(df: DataFrame, mode: str,
                   resolver: DataFrame | None) -> tuple[DataFrame, str]:
    """Attach the politeness unit of `mode` to a host-bearing frame and
    return (frame, key column). The one derivation of the unit: generate
    keys its logical partition_id on `partition_mode`
    (URLPartitioner.java:36-93) and run_fetch its queues and placement on
    `fetcher_queue_mode` (Fetcher.java FetchItemQueues queueMode).

    - byHost: `host`.
    - byDomain: `domain`, the registered domain.
    - byIP: `pkey`, the resolved address, or the host where the resolver
      has none (URLPartitioner.java:79-86, the UnknownHostException path).
      The join is a plain host-equi join: at 10^10 URLs the resolver table
      is ~|distinct hosts|, far beyond broadcast size, so both sides hash
      on host. With no resolver table the key is the host, with a warning.

    A key column the frame already carries is reused, so a fetchlist
    generated under the fetch's mode pays one domain_udf or one resolver
    join, not two.
    """
    if mode == "byDomain":
        if "domain" not in df.columns:
            df = df.withColumn("domain", domain_udf(F.col("url")))
        return df, "domain"
    if mode != "byIP":
        return df, "host"
    if "pkey" not in df.columns:
        if resolver is None:
            warnings.warn(
                "byIP politeness key with no resolver table: keying by host "
                "(pass resolver= to generate()/run_fetch()/CrawlDriver)",
                stacklevel=3)
            return df, "host"
        df = (df.join(resolver.select("host", "ip"), "host", "left")
              .withColumn("pkey", F.coalesce(F.col("ip"), F.col("host"))).drop("ip"))
    return df, "pkey"


def resolve_urls(urls: DataFrame, resolver: DataFrame | None,
                 url_col: str = "url") -> DataFrame:
    """ResolveUrls analogue (tools/ResolveUrls.java): per-URL resolution
    report — url, host, ip, resolved — as a DataFrame instead of log lines."""
    df = urls.select(F.col(url_col).alias("url"))
    df = df.withColumn("host", host_col(F.col("url")))
    if resolver is None:
        return df.withColumn("ip", F.lit(None).cast("string")).withColumn(
            "resolved", F.lit(False))
    return (
        df.join(resolver.select("host", "ip"), "host", "left")
        .withColumn("resolved", F.col("ip").isNotNull())
        .select("url", "host", "ip", "resolved")
    )


def fake_resolver(hosts: DataFrame, coverage_hex_lt: str = "c") -> DataFrame:
    """Deterministic resolver fixture for tests/benches (no DNS in sandbox):
    hosts whose md5 leading nibble is < `coverage_hex_lt` (~75% at 'c')
    resolve to 'ip-' + md5(host)[:8]; the rest stay unresolved to exercise
    the host-fallback path. Portable across engines (md5 over UTF-8 in both
    Spark and DuckDB) so oracle SQL can reproduce it exactly.
    """
    h = hosts.select("host").distinct()
    return h.withColumn(
        "ip",
        F.when(
            F.substring(F.md5(F.col("host")), 1, 1) < F.lit(coverage_hex_lt),
            F.concat(F.lit("ip-"), F.substring(F.md5(F.col("host")), 1, 8)),
        ),
    )
