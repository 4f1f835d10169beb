"""Post-restructure evidence (PLANS §6.7/6.8): the two-phase frontier
commit kept the updatedb merge exchange-free on the frontier side.

Runs two steady-state cycles through the REAL CrawlDriver, then:
1. reports cycle-2's total shuffle WRITE bytes (status REST API) for
   comparison against the §5.3 bucketed datapoints (~45 MB @ 1M rows);
2. rebuilds cycle-3's merge plan and prints the formatted explain slice
   around the frontier scan, counting Exchange operators above it.

Usage: python tools/probe_twophase.py [CORES] [N_HOSTS]
"""
from __future__ import annotations

import io
import json
import os
import sys
import time
import urllib.request
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def shuffle_write_bytes() -> int:
    base = "http://127.0.0.1:4040/api/v1"
    with urllib.request.urlopen(f"{base}/applications") as r:
        apps = json.load(r)
    app_id = apps[0]["id"]
    with urllib.request.urlopen(f"{base}/applications/{app_id}/stages?status=complete") as r:
        stages = json.load(r)
    return sum(s.get("shuffleWriteBytes", 0) for s in stages)


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    n_hosts = int(sys.argv[2]) if len(sys.argv) > 2 else 4000
    import tempfile

    from pyspark.sql import functions as F

    from nutch_spark.bench_corpus import bench_web_tables
    from nutch_spark.config import CrawlConfig
    from nutch_spark.operators.fetch import run_fetch
    from nutch_spark.operators.generate import generate
    from nutch_spark.operators.parse import run_parse
    from nutch_spark.operators.updatedb import update_frontier
    from nutch_spark.plans.crawl_cycle import CYCLE_VIRTUAL_MS, T0_DEFAULT, CrawlDriver
    from nutch_spark.session import get_spark

    spark = get_spark("probe-twophase", master=f"local[{cores}]",
                      shuffle_partitions=max(2 * cores, 16),
                      extra_conf={"spark.ui.enabled": "true"})
    cfg = CrawlConfig(num_partitions=32, topn=10_000_000, fetcher_threads=16,
                      fetch_duration_ms=10, fetcher_server_delay_ms=50,
                      gen_delay_ms=0)
    tables = bench_web_tables(spark, n_hosts=n_hosts, pages_per_host=250,
                              mega_factor=4, n_partitions=64)
    for name in ("web_graph", "raw_content", "robots"):
        tables[name] = tables[name].cache()
        tables[name].count()

    root = tempfile.mkdtemp(prefix="twophase-")
    drv = CrawlDriver(spark, root, cfg, tables["web_graph"], tables["robots"],
                      tables["raw_content"])
    drv.bootstrap(tables["seeds"])
    drv.run_cycle(1)

    b0 = shuffle_write_bytes()
    t0 = time.time()
    res2 = drv.run_cycle(2)
    cyc2_wall = time.time() - t0
    cyc2_bytes = shuffle_write_bytes() - b0

    # cycle-3 merge plan: same construction run_cycle would do
    cur = T0_DEFAULT + 3 * CYCLE_VIRTUAL_MS
    frontier = drv.frontier()
    fl = generate(frontier, cfg, cur)
    fo = run_fetch(fl, tables["web_graph"], tables["robots"], cfg, 3, cur)
    parsed = run_parse(fo, tables["raw_content"], cfg)
    nf = update_frontier(frontier, fo, parsed["parse_updates"], cfg, cur,
                         include_new_flag=True)
    buf = io.StringIO()
    with redirect_stdout(buf):
        nf.explain("formatted")
    plan = buf.getvalue()

    frontier_tbl = drv.frontier_t.latest().table_name or ""
    scan_lines = [ln for ln in plan.splitlines()
                  if "Scan" in ln and frontier_tbl and frontier_tbl in ln]
    # operators between the frontier scan and the merge join: walk the tree
    # text upward from the scan id — cheap proxy: count Exchanges total and
    # report SelectedBucketsCount presence
    n_exchange = plan.count("Exchange")
    bucketed = "SelectedBucketsCount" in plan or "Bucketed: true" in plan
    print(json.dumps({
        "cycle2_wall_s": round(cyc2_wall, 2),
        "cycle2_frontier_rows": res2.frontier_size,
        "cycle2_shuffle_write_bytes": cyc2_bytes,
        "cycle2_shuffle_write_mb": round(cyc2_bytes / 1e6, 1),
        "merge_plan_exchanges": n_exchange,
        "frontier_scan_bucketed": bucketed,
        "frontier_scan_lines": scan_lines[:4],
    }))
    # the slice of the plan around the frontier scan, for PLANS.md
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if frontier_tbl and frontier_tbl in ln and "Scan" in ln:
            print("\n".join(lines[max(0, i - 6):i + 10]))
            break


if __name__ == "__main__":
    main()
