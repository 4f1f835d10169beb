"""Diagnostic: bisect the outlink pipeline cost at a given core count.

Usage: python tools/probe_links.py CORES [--barrier]

--barrier uses with_column_once (the Generate-barrier idiom now used by
run_parse) for the scoped regex tail instead of a collapsible withColumn,
so the A/B measures Catalyst re-inlining the normalizer chain into the
filter cascade.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    cores = int(sys.argv[1])
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from nutch_spark.bench_corpus import bench_web_tables
    from nutch_spark.config import CrawlConfig
    from nutch_spark.functions.normalizers import ScopedNormalizers
    from nutch_spark.functions.urls import RegexUrlFilter, host_col, normalize_split
    from nutch_spark.operators.fetch import run_fetch
    from nutch_spark.operators.generate import generate
    from nutch_spark.operators.inject import inject
    from nutch_spark.operators.parse import extract_documents_by_mime
    from nutch_spark.session import get_spark

    spark = get_spark("probe-links", master=f"local[{cores}]",
                      shuffle_partitions=max(2 * cores, 16))
    cfg = CrawlConfig(num_partitions=32, topn=10_000_000, fetcher_threads=16,
                      fetch_duration_ms=10, fetcher_server_delay_ms=50,
                      gen_delay_ms=0)
    tables = bench_web_tables(spark, n_hosts=4000, pages_per_host=250,
                              mega_factor=4, n_partitions=64)
    for name in ("web_graph", "raw_content", "robots"):
        tables[name] = tables[name].cache()
        tables[name].count()
    cur = 1_700_000_000_000 + 24 * 3600 * 1000
    frontier = inject(None, tables["seeds"], cfg, 1_700_000_000_000).cache()
    frontier.count()
    fl = generate(frontier, cfg, cur).cache()
    fl.count()
    fetch_out = run_fetch(fl, tables["web_graph"], tables["robots"], cfg, 1, cur).cache()
    fetch_out.count()

    from nutch_spark import schemas
    ok = fetch_out.filter(F.col("fetch_status") == schemas.STATUS_FETCH_SUCCESS)
    ok = ok.filter(~F.coalesce(F.col("truncated"), F.lit(False)))
    content = ok.select("url", "score", "signature").join(tables["raw_content"], "url", "inner")
    docs_nested = extract_documents_by_mime(content).cache()
    t = {}
    t0 = time.time()
    docs_nested.write.format("noop").mode("overwrite").save()
    t["docs_nested_cache"] = time.time() - t0

    span_rows = docs_nested.select(
        "doc_id", "title", F.posexplode("spans").alias("_pos", "s")
    ).select(
        "doc_id", F.col("s.offset").alias("offset"), F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"), F.col("s.media_ref").alias("media_ref"), "title",
    )
    nofollow_docs = docs_nested.filter(F.col("nofollow")).select("doc_id")
    raw_links = (
        span_rows.filter(F.col("kind") == "link")
        .join(F.broadcast(nofollow_docs), "doc_id", "left_anti")
        .select(F.col("doc_id").alias("url"), F.col("offset"), F.col("media_ref"),
                F.substring(F.col("text"), 1, cfg.db_max_anchor_length).alias("anchor"))
    )
    t0 = time.time()
    raw_links.write.format("noop").mode("overwrite").save()
    t["raw_links_noop"] = time.time() - t0

    if "--inline" in sys.argv:
        from nutch_spark.functions.urls import normalize_inline
        n1 = normalize_inline(raw_links, "media_ref", "to_url")
    else:
        n1 = normalize_split(raw_links, "media_ref", "to_url")
    t0 = time.time()
    n1.write.format("noop").mode("overwrite").save()
    t["plus_normalize_split"] = time.time() - t0

    ns = ScopedNormalizers()
    if "--barrier" in sys.argv or "--inline" in sys.argv:
        from nutch_spark.functions.normalizers import with_column_once
        n2 = with_column_once(
            n1.drop("media_ref"), "to_url",
            ns.post_basic_col(F.col("to_url"), "outlink"))
    else:
        n2 = n1.withColumn(
            "to_url", ns.post_basic_col(F.col("to_url"), "outlink")).drop("media_ref")
    t0 = time.time()
    n2.write.format("noop").mode("overwrite").save()
    t["plus_regex_tail"] = time.time() - t0

    uf = RegexUrlFilter()
    n3 = (n2.filter(F.col("to_url").isNotNull())
          .filter(F.col("to_url") != F.col("url"))
          .filter(uf.col(F.col("to_url"))))
    t0 = time.time()
    n3.write.format("noop").mode("overwrite").save()
    t["plus_filters"] = time.time() - t0

    n4 = n3.groupBy("url", "to_url").agg(
        F.min("offset").alias("offset"), F.min_by("anchor", "offset").alias("anchor"))
    w_url = Window.partitionBy("url")
    n5 = (n4.withColumn("link_rank", F.row_number().over(w_url.orderBy("offset")))
          .filter(F.col("link_rank") <= cfg.db_max_outlinks_per_page)
          .withColumn("n_out", F.count("*").over(w_url)))
    t0 = time.time()
    n5.write.format("noop").mode("overwrite").save()
    t["plus_dedupe_window"] = time.time() - t0

    print(json.dumps({"cores": cores, **{k: round(v, 2) for k, v in t.items()}}))
    spark.stop()


if __name__ == "__main__":
    main()
