"""End-to-end smoke: inject -> generate -> fetch -> parse -> updatedb on the
synthetic corpus (analogue of the reference's TestFetcher end-to-end run)."""

import pytest
from pyspark.sql import functions as F

from nutch_spark import schemas
from nutch_spark.config import CrawlConfig
from nutch_spark.operators.fetch import run_fetch
from nutch_spark.operators.generate import generate
from nutch_spark.operators.inject import inject
from nutch_spark.operators.parse import run_parse
from nutch_spark.operators.updatedb import update_frontier

T0 = 1_700_000_000_000  # fixed virtual epoch


@pytest.fixture(scope="module")
def cfg():
    return CrawlConfig(num_partitions=8, topn=1000, fetcher_threads=4)


def test_inject(spark, corpus_tables, cfg):
    frontier = inject(None, corpus_tables["seeds"], cfg, T0)
    rows = frontier.collect()
    assert len(rows) > 0
    assert all(r.status == schemas.STATUS_DB_UNFETCHED for r in rows)
    # nutch.score seed metadata honored
    boosted = [r for r in rows if r.url == "http://h000.example.com/page/1.html"]
    assert boosted and abs(boosted[0].score - 10.0) < 1e-6
    # reserved key stripped from metadata
    assert "nutch.score" not in (boosted[0].metadata or {})


def test_inject_existing_wins(spark, corpus_tables, cfg):
    f1 = inject(None, corpus_tables["seeds"], cfg, T0)
    f1 = f1.withColumn("score", F.lit(7.0).cast("float"))
    f2 = inject(f1, corpus_tables["seeds"], cfg, T0 + 1000)
    assert f2.count() == f1.count()
    # default: existing entry wins (Injector.java:175-242)
    assert all(abs(r.score - 7.0) < 1e-6 for r in f2.collect())


def test_full_cycle(spark, corpus_tables, cfg):
    frontier = inject(None, corpus_tables["seeds"], cfg, T0)
    fetchlist = generate(frontier, cfg, T0)
    n_fl = fetchlist.count()
    assert n_fl == frontier.count()  # all seeds due, under topN

    fetch_out = run_fetch(
        fetchlist, corpus_tables["web_graph"], corpus_tables["robots"], cfg,
        cycle=1, start_ms=T0,
    ).cache()
    assert fetch_out.count() == n_fl
    ok = fetch_out.filter(F.col("fetch_status") == schemas.STATUS_FETCH_SUCCESS)
    assert ok.count() > 0

    parsed = run_parse(fetch_out, corpus_tables["raw_content"], cfg)
    linked = parsed["parse_updates"].filter(F.col("kind") == schemas.STATUS_LINKED)
    assert linked.count() > 0

    f2 = update_frontier(frontier, fetch_out, parsed["parse_updates"], cfg, T0).cache()
    # frontier grew: new linked URLs discovered
    assert f2.count() > frontier.count()
    # every fetched URL flipped out of unfetched
    fetched_urls = [r.url for r in ok.collect()]
    statuses = {
        r.url: r.status for r in f2.filter(F.col("url").isin(fetched_urls)).collect()
    }
    assert all(
        s in (schemas.STATUS_DB_FETCHED, schemas.STATUS_DB_NOTMODIFIED)
        for s in statuses.values()
    )
    # new linked rows are unfetched with link-derived score
    new_urls = f2.join(frontier.select("url"), "url", "left_anti")
    assert all(r.status == schemas.STATUS_DB_UNFETCHED for r in new_urls.collect())


def test_politeness_budget(spark, corpus_tables, cfg):
    """TestFetcher.java:105-111 analogue: k same-host URLs take >= k * delay
    on the virtual clock."""
    frontier = inject(None, corpus_tables["seeds"], cfg, T0)
    fetchlist = generate(frontier, cfg, T0)
    fetch_out = run_fetch(
        fetchlist, corpus_tables["web_graph"], corpus_tables["robots"], cfg,
        cycle=1, start_ms=T0,
    ).cache()
    per_host = (
        fetch_out.filter(F.col("fetch_status") != schemas.STATUS_FETCH_GONE)
        .groupBy("host")
        .agg(F.count("*").alias("n"), F.min("fetch_ts").alias("t0"), F.max("fetch_ts").alias("t1"))
        .collect()
    )
    for r in per_host:
        if r.n > 1:
            # host h006 has robots crawl_delay=2s; default is 5s
            delay = 2000 if r.host == "h006.example.com" else cfg.fetcher_server_delay_ms
            assert r.t1 - r.t0 >= (r.n - 1) * delay, r


def test_fetch_deterministic_across_parallelism(spark, corpus_tables, cfg):
    """Same fetch output (url, status, seq per partition) regardless of core
    count — the N-vs-4N determinism property."""
    frontier = inject(None, corpus_tables["seeds"], cfg, T0)
    fetchlist = generate(frontier, cfg, T0).cache()

    def run():
        return sorted(
            (r.url, r.fetch_status, r.partition_id, r.seq)
            for r in run_fetch(
                fetchlist, corpus_tables["web_graph"], corpus_tables["robots"],
                cfg, cycle=1, start_ms=T0,
            ).collect()
        )

    assert run() == run()


def test_robots_rules(spark, corpus_tables, cfg):
    """Disallowed paths denied; Crawl-Delay > max -> gone."""
    from nutch_spark.operators.inject import prepare_seeds

    seeds = spark.createDataFrame(
        [
            ("http://h007.example.com/private/0.html", {}),   # disallowed
            ("http://h005.example.com/page/0.html", {}),       # delay 40s > 30s max
            ("http://h008.example.com/page/0.html", {}),       # plain ok
        ],
        schemas.SEEDS_SCHEMA,
    )
    frontier = inject(None, seeds, cfg, T0)
    fetchlist = generate(frontier, cfg, T0)
    out = {
        r.url: r.fetch_status
        for r in run_fetch(
            fetchlist, corpus_tables["web_graph"], corpus_tables["robots"], cfg, 1, T0
        ).collect()
    }
    assert out["http://h007.example.com/private/0.html"] == schemas.STATUS_FETCH_GONE
    assert out["http://h005.example.com/page/0.html"] == schemas.STATUS_FETCH_GONE
    assert out["http://h008.example.com/page/0.html"] == schemas.STATUS_FETCH_SUCCESS


def test_fetcher_queue_modes_share_politeness_clock(spark, corpus_tables, cfg):
    """fetcher.queue.mode (Fetcher.java FetchItemQueues queueMode): byIP
    shares ONE politeness queue across vhosts resolving to one address;
    byDomain shares one across a domain's hosts; byHost keeps them
    parallel. Evidence = the virtual-clock span of the fetch ordering."""
    seeds = spark.createDataFrame(
        [(f"http://h00{h}.example.com/page/{i}.html", {})
         for h in (1, 2) for i in range(3)],
        schemas.SEEDS_SCHEMA,
    )
    frontier = inject(None, seeds, cfg, T0)
    fetchlist = generate(frontier, cfg, T0).cache()
    resolver = spark.createDataFrame(
        [("h001.example.com", "9.9.9.9"), ("h002.example.com", "9.9.9.9")],
        "host string, ip string",
    )

    def span(cfg2, res=None):
        out = run_fetch(fetchlist, corpus_tables["web_graph"],
                        corpus_tables["robots"], cfg2, 1, T0, resolver=res)
        ok = out.filter(F.col("fetch_status") != schemas.STATUS_FETCH_GONE)
        r = ok.agg(F.min("fetch_ts").alias("a"), F.max("fetch_ts").alias("b"),
                   F.count("*").alias("n")).collect()[0]
        return r.a, r.b, r.n

    d = cfg.fetcher_server_delay_ms
    a0, b0, n0 = span(cfg)                                   # byHost: 2 queues
    ip_cfg = CrawlConfig(**{**cfg.__dict__, "fetcher_queue_mode": "byIP"})
    a1, b1, n1 = span(ip_cfg, resolver)                      # byIP: 1 queue
    dom_cfg = CrawlConfig(**{**cfg.__dict__, "fetcher_queue_mode": "byDomain"})
    a2, b2, n2 = span(dom_cfg)                               # byDomain: 1 queue
    assert n0 == n1 == n2 == 6
    assert b1 - a1 >= 5 * d, "byIP must serialize all six fetches"
    assert b2 - a2 >= 5 * d, "byDomain must serialize all six fetches"
    assert b0 - a0 <= 3 * d, "byHost keeps the two hosts' queues parallel"
    # byIP without a resolver degrades to byHost semantics (declared)
    a3, b3, n3 = span(ip_cfg, None)
    assert n3 == 6 and b3 - a3 <= 3 * d


@pytest.mark.parametrize("pm, qm, domain_udfs, resolver_joins", [
    ("byHost", "byHost", 0, 0),
    ("byDomain", "byDomain", 1, 0),
    ("byIP", "byIP", 0, 1),
    ("byDomain", "byHost", 1, 0),
])
def test_fetchlist_placed_once_per_mode_pair(spark, corpus_tables, cfg, pm, qm,
                                             domain_udfs, resolver_joins):
    """URLPartitioner puts a politeness unit's URLs in one fetch task and
    the fetcher queues them inside it: generate selects, run_fetch places.
    Over generate -> fetch the fetchlist is repartitioned once, and the
    politeness key both stages share is derived once."""
    import re

    frontier = spark.createDataFrame(
        inject(None, corpus_tables["seeds"], cfg, T0).collect(), schemas.FRONTIER_SCHEMA)
    hosts = sorted(r.host for r in frontier.select("host").distinct().collect())
    resolver = spark.createDataFrame([(h, f"10.0.0.{i // 2}") for i, h in enumerate(hosts)],
                                     "host string, ip string")
    mcfg = CrawlConfig(**{**cfg.__dict__, "partition_mode": pm, "fetcher_queue_mode": qm})
    out = run_fetch(generate(frontier, mcfg, T0, resolver=resolver),
                    corpus_tables["web_graph"], corpus_tables["robots"], mcfg, 1, T0,
                    resolver=resolver)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("REPARTITION_BY_NUM") == 1, plan
    assert len(re.findall(r"ArrowEvalPython \[domain_udf", plan)) == domain_udfs, plan
    # each resolver join scans the resolver's (host, ip) rows once
    assert len(re.findall(r"ExistingRDD\[host#\d+,ip#\d+\]", plan)) == resolver_joins, plan


def test_parse_seed_file_metadata_values_and_duplicates(spark, tmp_path):
    """Injector.java splits key=value ONCE (value keeps embedded '=') and
    duplicate keys are last-wins via Map.put — a limit-less split
    truncated values, and map_from_arrays THREW on the first duplicate
    key, killing the whole inject job on one bad seed line."""
    from jobs.crawl_job import parse_seed_file

    p = tmp_path / "seeds.txt"
    p.write_text(
        "http://x.com/\tcustom=a=b\tnutch.score=2\n"
        "http://y.com/\tk=1\tk=2\n"
        "# comment\n")
    rows = {r.url: r.metadata for r in parse_seed_file(spark, str(p)).collect()}
    assert rows["http://x.com/"] == {"custom": "a=b", "nutch.score": "2"}
    assert rows["http://y.com/"] == {"k": "2"}  # last wins
