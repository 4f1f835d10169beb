"""Load-independent shuffle-byte evidence for the one-exchange outlink tail
(PLANS 6.17). Runs the parse_updates materialization over the bench corpus
and reports total shuffle WRITE bytes from the status REST API (bytes are
deterministic per plan shape; walls on this host are not). Run at HEAD and
at the pre-change commit to compare shapes.

usage: python tools/probe_outlink_shuffle.py [n_hosts] [pages_per_host]
"""
import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def shuffle_write_bytes() -> int:
    base = "http://127.0.0.1:4040/api/v1"
    with urllib.request.urlopen(f"{base}/applications") as r:
        apps = json.load(r)
    app_id = apps[0]["id"]
    with urllib.request.urlopen(
            f"{base}/applications/{app_id}/stages?status=complete") as r:
        stages = json.load(r)
    return sum(s.get("shuffleWriteBytes", 0) for s in stages)


def main() -> None:
    n_hosts = int(sys.argv[1]) if len(sys.argv) > 1 else 4000
    pages = int(sys.argv[2]) if len(sys.argv) > 2 else 250
    from nutch_spark.session import get_spark
    from nutch_spark.config import CrawlConfig
    from nutch_spark.bench_corpus import bench_web_tables
    from nutch_spark.operators.generate import generate
    from nutch_spark.operators.inject import inject
    from nutch_spark.operators.fetch import run_fetch
    from nutch_spark.operators.parse import run_parse

    spark = get_spark("probe_outlink_shuffle", master="local[32]",
                      shuffle_partitions=64,
                      extra_conf={"spark.ui.enabled": "true"})
    cfg = CrawlConfig(num_partitions=32, topn=10_000_000, fetcher_threads=16,
                      fetch_duration_ms=10, fetcher_server_delay_ms=50,
                      gen_delay_ms=0)
    tables = bench_web_tables(spark, n_hosts=n_hosts, pages_per_host=pages,
                              mega_factor=4, n_partitions=64)
    for n in ("web_graph", "raw_content", "robots"):
        tables[n] = tables[n].cache()
        tables[n].count()
    fr = inject(None, tables["seeds"], cfg, 1_700_000_000_000).cache()
    fr.count()
    cur = 1_700_000_000_000 + 24 * 3600 * 1000
    fl = generate(fr, cfg, cur).cache()
    fo = run_fetch(fl, tables["web_graph"], tables["robots"], cfg, 1, cur).cache()
    fo.count()
    parsed = run_parse(fo, tables["raw_content"], cfg)
    parsed["docs_nested"].count()

    b0 = shuffle_write_bytes()
    n_out = parsed["parse_updates"].count()
    b1 = shuffle_write_bytes()
    print(json.dumps({"n_hosts": n_hosts, "pages_per_host": pages,
                      "parse_updates_rows": n_out,
                      "shuffle_write_bytes": b1 - b0}))


if __name__ == "__main__":
    main()
