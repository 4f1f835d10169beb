"""Benchmark harness (driver contract).

Default: runs the headline suite on local[$SPARK_GRAFT_CPUS] at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and prints ONE JSON
line: {"metric", "value" (total sec), "unit": "sec", "queries": {name: sec},
"sf", "urls_per_sec", ...}.

Headline job = the authoritative metric from BASELINE.json: URLs
fetched+deduped per second through the full generate->fetch->parse->updatedb
cycle over a deterministic synthetic web (the corpus IS the network; the
politeness clock is virtual, so wall time measures engine dataflow cost).

Modes:
  python bench.py                 # full suite, one JSON line
  python bench.py --crawl-only    # just the crawl throughput job
  python bench.py --scaling       # identical crawl job at N and 4N cores
                                  # (SCALE_N, default 1: N=1 -> 4N=4) ->
                                  # throughput at both + efficiency
                                  # (sandbox protocol from BASELINE.md)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())

# bench-corpus shape (distributed generator, nutch_spark/bench_corpus.py):
# mega host ~ one partition's worth of URLs so the politeness constraint
# (host never split across partitions) does not cap scaling
BENCH_HOSTS = int(os.environ.get("BENCH_HOSTS", "4000"))
BENCH_PAGES = int(os.environ.get("BENCH_PAGES", "250"))
BENCH_MEGA = int(os.environ.get("BENCH_MEGA", "4"))
BENCH_DEPTH = int(os.environ.get("BENCH_DEPTH", "1"))

# operator queries timed at sf0.1 (subset of __spark_entry__.queries():
# the shuffle/join/window-heavy ones that grow with SF)
BENCH_QUERIES = [
    "generator_topn",
    "generator_hostcap",
    "inject_merge",
    "updatedb_transitions",
    "linkdb_invert",
    "opic_inlink_sum",
    "segment_merge",
    "crawldb_merge",
    "indexer_join",
    "seen_antijoin",
    "score_updater",
    "dedup_exact",
    "token_count",
    "minhash_neardup",
    "simhash_neardup",
    "ann_topk",
    "ann_ivf",
    "regex_normalize",
    "cosine_topk",
    "events_hourly",
    # round-2 surface
    "js_outlinks",
    "zip_parse",
    "outlink_follow",
    "loops",
    "dedup_clusters",
    # round-3 surface
    "fetch_redirects",
    "feed_parse",
    "url_validator",
    "url_filters",
    "index_plugins",
    "linkrank",
    # round-4 surface
    "pdf_parse",
    "urlmeta",
    "segment_dump",
    "crawldb_scan",
    "partition_byip",
    "linkdb_read",
    "index_clean",
    "paragraph_dedup",
    "repetition_signals",
    "ngram_contamination",
    "domain_quota_sample",
    "pii_scrub",
    "sequence_pack",
    "train_val_split",
    "dataset_build",
    # round-5 surface
    "ext_parse",
    "office_parse",
    "swf_parse",
    "audio_features",
    "video_decode",
    "media_features",
    "media_resize",
]


def _spark(cpus: int, shuffle_partitions: int):
    from nutch_spark.session import get_spark

    return get_spark(
        "bench",
        master=f"local[{cpus}]",
        shuffle_partitions=shuffle_partitions,
    )


def run_crawl_throughput(spark, num_partitions: int) -> dict:
    """Headline: URLs fetched+deduped/s through generate->fetch->parse->
    updatedb over a saturated frontier (all corpus URLs seeded up-front,
    FreeGenerator semantics). Inject/bootstrap is setup, not steady state —
    throughput divides by the sum of cycle walls."""
    import shutil
    import tempfile

    from nutch_spark.bench_corpus import bench_web_tables
    from nutch_spark.config import CrawlConfig
    from nutch_spark.plans.crawl_cycle import crawl

    cfg = CrawlConfig(
        num_partitions=num_partitions,
        topn=10_000_000,  # no artificial cap: measure full-frontier flow
        fetcher_threads=16,
        fetch_duration_ms=10,
        fetcher_server_delay_ms=50,
        gen_delay_ms=0,
    )
    tables = bench_web_tables(
        spark, n_hosts=BENCH_HOSTS, pages_per_host=BENCH_PAGES,
        mega_factor=BENCH_MEGA, n_partitions=2 * num_partitions,
    )
    for name in ("web_graph", "raw_content", "robots"):
        tables[name] = tables[name].cache()
        tables[name].count()

    root = tempfile.mkdtemp(prefix="bench_crawl_")
    try:
        results = crawl(
            spark, root, cfg,
            tables["seeds"], tables["web_graph"], tables["robots"],
            tables["raw_content"], depth=BENCH_DEPTH,
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
        # release the cached corpus: in full-suite mode the 46-query suite
        # runs next in THIS session, and ~1M cached rendered-HTML rows
        # would otherwise sit in storage memory causing eviction pressure
        # and noisier query timings
        for name in ("web_graph", "raw_content", "robots"):
            tables[name].unpersist()

    fetched = sum(r.fetched for r in results)
    wall = sum(r.wall_s for r in results)
    frontier = results[-1].frontier_size if results else 0
    return {
        "crawl_wall_s": round(wall, 3),
        "urls_fetched": fetched,
        "frontier_size": frontier,
        "urls_per_sec": round(fetched / wall, 2) if wall > 0 else 0.0,
        "cycles": [
            {"cycle": r.cycle, "generated": r.generated, "fetched": r.fetched,
             "frontier": r.frontier_size, "wall_s": round(r.wall_s, 3)}
            for r in results
        ],
    }


def run_query_suite(spark) -> dict:
    from nutch_spark.entry_queries import QUERIES, clear_query_caches

    timings = {}
    for name in BENCH_QUERIES:
        fn, _sql = QUERIES[name]
        t0 = time.time()
        # noop write forces full evaluation of every row without collect
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.time() - t0, 3)
        # drop fixture-slot caches so query N's resident cache doesn't
        # shrink execution memory for queries N+1.. (each query still pays
        # its own cache materialization inside its timed window)
        clear_query_caches()
    return timings


def main_bench(crawl_only: bool) -> dict:
    spark = _spark(CPUS, max(2 * CPUS, 16))
    t_total = time.time()
    crawl_stats = run_crawl_throughput(spark, num_partitions=CPUS)
    timings = {} if crawl_only else run_query_suite(spark)
    total = time.time() - t_total
    spark.stop()

    try:
        sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:  # SF_DIR without a trailing sfN.NN component
        sf = 0.1
    out = {
        "metric": "headline suite wall time (crawl cycles + operator queries); "
                  "urls_per_sec = URLs fetched+deduped/s through "
                  "generate->fetch->parse->updatedb",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {"crawl_cycle": crawl_stats["crawl_wall_s"], **timings},
        "sf": sf,
        "urls_per_sec": crawl_stats["urls_per_sec"],
        "urls_fetched": crawl_stats["urls_fetched"],
        "frontier_size": crawl_stats["frontier_size"],
        "cores": CPUS,
        "cycles": crawl_stats["cycles"],
    }
    return out


def cpu_capacity(nprocs: tuple[int, ...] = (1, 4, 8, 32)) -> dict[int, float]:
    """Aggregate CPU capacity delivered at N concurrent processes (fixed
    pure-python work per process). On SMT / host-throttled sandboxes the
    capacity from N to 4N cores is < 4x — the scaling report normalizes by
    this hardware curve so software efficiency is not conflated with
    missing silicon."""
    import multiprocessing as mp

    out = {}
    ctx = mp.get_context("spawn")
    for n in nprocs:
        with ctx.Pool(n) as p:
            t0 = time.time()
            p.map(_burn, range(n))
            out[n] = round(n / (time.time() - t0), 3)
    return out


def _burn(_i: int) -> int:
    x = 0
    for i in range(20_000_000):
        x += i * 3 % 7
    return x


def mem_bandwidth_capacity(nprocs: tuple[int, ...] = (1, 4)) -> dict[int, float]:
    """Aggregate capacity for memory-STREAM-bound work (numpy copy+sum of
    200 MB buffers). Spark cycles are a CPU/bandwidth mix; a single box
    scales CPU ~linearly to 4 procs but memory bandwidth sub-linearly
    (measured here: ~2.8x from 1 to 4), while a real N->4N-executor cluster
    scales both. Reported so raw efficiency can be bracketed honestly."""
    import multiprocessing as mp

    out = {}
    ctx = mp.get_context("spawn")
    for n in nprocs:
        with ctx.Pool(n) as p:
            t0 = time.time()
            p.map(_stream, range(n))
            out[n] = round(n / (time.time() - t0), 3)
    return out


def _stream(_i: int) -> int:
    import numpy as np

    a = np.random.default_rng(0).integers(0, 255, 25_000_000, dtype=np.int64)
    s = 0
    for _ in range(8):
        b = a.copy()
        s += int(b.sum())
    return s


def main_scaling() -> dict:
    """North-rule evidence: identical job, identical input, N vs 4N cores.

    Partitioning is held constant (num_partitions and the shuffle
    partitions pinned to BENCH_PARTS) so both runs execute the same physical
    plan over the same partitions, frontier bucket layout included; only
    available cores differ. efficiency = (thr_4N / thr_N) / 4, target >= 0.8.
    SCALE_N picks the pair (default N=1 -> 4N=4: the pair where this
    sandbox's hardware actually delivers ~4x capacity; see cpu_capacity).
    hw_normalized_efficiency divides by the measured hardware capacity
    ratio instead of the nominal 4.
    """
    n = int(os.environ.get("SCALE_N", "1"))
    n4 = 4 * n
    # bracket the hardware-capacity probe around the measurements: the host
    # is multi-tenant and its deliverable capacity drifts between runs
    caps_pre = cpu_capacity((n, n4))
    runs = {}
    for cores in (n, n4):
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), BENCH_PARTS="32")
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--crawl-only"],
            env=env, capture_output=True, text=True, timeout=7200,
        )
        lines = [ln for ln in p.stdout.strip().splitlines() if ln.startswith("{")]
        if not lines:  # surface rc + stderr instead of a bare IndexError
            raise RuntimeError(
                f"scaling sub-run at {cores} cores produced no JSON "
                f"(rc={p.returncode}); stderr tail: {p.stderr[-500:]}")
        runs[cores] = json.loads(lines[-1])
    caps_post = cpu_capacity((n, n4))
    caps = {k: round((caps_pre[k] + caps_post[k]) / 2, 3) for k in caps_pre}
    bw = mem_bandwidth_capacity((n, n4))
    thr_n, thr_4n = runs[n]["urls_per_sec"], runs[n4]["urls_per_sec"]
    hw_ratio = caps[n4] / caps[n] if caps[n] else 4.0
    bw_ratio = bw[n4] / bw[n] if bw.get(n) else 4.0
    eff = (thr_4n / thr_n) / 4 if thr_n else 0.0
    eff_hw = (thr_4n / thr_n) / hw_ratio if thr_n else 0.0
    return {
        "metric": f"scaling efficiency (URLs fetched+deduped/s, local[{n}] -> local[{n4}])",
        "value": round(eff, 3),
        "unit": "efficiency",
        f"throughput_n{n}": thr_n,
        f"throughput_n{n4}": thr_4n,
        "urls_fetched": runs[n4]["urls_fetched"],
        "cpu_capacity_probe": caps,
        "cpu_capacity_pre": caps_pre,
        "cpu_capacity_post": caps_post,
        "mem_bandwidth_probe": bw,
        "hw_capacity_ratio": round(hw_ratio, 3),
        "mem_bandwidth_ratio": round(bw_ratio, 3),
        "hw_normalized_efficiency": round(eff_hw, 3),
        "bw_normalized_efficiency": round((thr_4n / thr_n) / bw_ratio, 3) if thr_n else 0.0,
        "target": 0.8,
        "pass": eff >= 0.8,
    }


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        result = main_scaling()
    else:
        # in scaling sub-runs BENCH_PARTS pins the partition count, and the
        # shuffle partitions with it (they also size the frontier buckets)
        if os.environ.get("BENCH_PARTS"):
            CPUS_PART = int(os.environ["BENCH_PARTS"])
            spark = _spark(CPUS, CPUS_PART)
            t0 = time.time()
            stats = run_crawl_throughput(spark, num_partitions=CPUS_PART)
            spark.stop()
            result = {
                "metric": "crawl throughput", "value": stats["crawl_wall_s"],
                "unit": "sec", "queries": {"crawl_cycle": stats["crawl_wall_s"]},
                "sf": 0.1, "cores": CPUS, **{k: stats[k] for k in
                ("urls_per_sec", "urls_fetched", "frontier_size")},
            }
        else:
            result = main_bench("--crawl-only" in sys.argv)
    print(json.dumps(result))
