"""Generator semantics — port of src/test/org/apache/nutch/crawl/
TestGenerator.java:75-245 (highest-scoring selection, per-host and
per-domain caps, filtering, due-gates)."""

import pytest
from pyspark.sql import functions as F

from nutch_spark import schemas
from nutch_spark.config import CrawlConfig
from nutch_spark.operators.fetch import run_fetch
from nutch_spark.operators.generate import GENERATE_TIME_KEY, generate, select_due

T0 = 1_700_000_000_000


def mk_frontier(spark, rows):
    """rows: list of (url, host, score) or dicts with overrides."""
    full = []
    for r in rows:
        if isinstance(r, tuple):
            r = {"url": r[0], "host": r[1], "score": r[2]}
        full.append(
            {
                "url": r["url"],
                "host": r["host"],
                "status": r.get("status", schemas.STATUS_DB_UNFETCHED),
                "fetch_time": r.get("fetch_time", T0 - 1000),
                "retries": r.get("retries", 0),
                "fetch_interval": r.get("fetch_interval", 30 * 24 * 3600),
                "score": float(r["score"]),
                "signature": r.get("signature"),
                "modified_time": r.get("modified_time", 0),
                "metadata": r.get("metadata", {}),
            }
        )
    return spark.createDataFrame(full, schemas.FRONTIER_SCHEMA)


def test_topn_selects_highest_scoring(spark):
    """TestGenerator.java:75-132: generate topN from 100 URLs on ONE host ->
    exactly the topN highest-scoring selected (single host = single
    partition, so per-partition topN == global topN here)."""
    n = 100
    rows = [(f"http://aaa.com/{i:03d}.html", "aaa.com", float(i)) for i in range(n)]
    frontier = mk_frontier(spark, rows)
    cfg = CrawlConfig(topn=25, num_partitions=1)
    fl = generate(frontier, cfg, T0)
    got = sorted(r.url for r in fl.collect())
    want = sorted(f"http://aaa.com/{i:03d}.html" for i in range(n - 25, n))
    assert got == want


def test_per_host_cap(spark):
    """TestGenerator.java:134-190: generate.max.count=2, mode=byHost."""
    rows = []
    for h in ("a.com", "b.com", "c.com"):
        for i in range(5):
            rows.append((f"http://{h}/{i}.html", h, float(i)))
    frontier = mk_frontier(spark, rows)
    cfg = CrawlConfig(topn=100, num_partitions=2, gen_max_count=2, gen_count_mode="byHost")
    fl = generate(frontier, cfg, T0)
    per_host = fl.groupBy("host").count().collect()
    assert all(r["count"] == 2 for r in per_host)
    # and the kept ones are each host's top-2 by score
    kept = {r.url for r in fl.collect()}
    for h in ("a.com", "b.com", "c.com"):
        assert f"http://{h}/4.html" in kept and f"http://{h}/3.html" in kept


def test_host_cap_segment_spill(spark):
    """Generator.java:277-313: overflow spills to next segment up to
    maxNumSegments."""
    rows = [(f"http://a.com/{i}.html", "a.com", float(i)) for i in range(10)]
    frontier = mk_frontier(spark, rows)
    cfg = CrawlConfig(
        topn=100, num_partitions=1, gen_max_count=3, gen_max_num_segments=2
    )
    fl = generate(frontier, cfg, T0)
    segs = {r.segnum: 0 for r in fl.collect()}
    for r in fl.collect():
        segs[r.segnum] += 1
    assert segs == {1: 3, 2: 3}  # 2 segments x 3 per host; rest dropped


def test_due_gate_and_gen_delay(spark):
    rows = [
        {"url": "http://a.com/due.html", "host": "a.com", "score": 1.0},
        {"url": "http://a.com/future.html", "host": "a.com", "score": 1.0,
         "fetch_time": T0 + 10_000_000},
        {"url": "http://a.com/gone.html", "host": "a.com", "score": 1.0,
         "status": schemas.STATUS_DB_GONE},
        {"url": "http://a.com/recently-generated.html", "host": "a.com", "score": 1.0,
         "metadata": {GENERATE_TIME_KEY: str(T0 - 1000)}},
        {"url": "http://a.com/long-ago-generated.html", "host": "a.com", "score": 1.0,
         "metadata": {GENERATE_TIME_KEY: str(T0 - 8 * 24 * 3600 * 1000)}},
    ]
    frontier = mk_frontier(spark, rows)
    cfg = CrawlConfig(topn=100, num_partitions=1)
    got = {r.url for r in generate(frontier, cfg, T0).collect()}
    assert got == {"http://a.com/due.html", "http://a.com/long-ago-generated.html"}


def test_interval_clamp(spark):
    """AbstractFetchSchedule.java:168-185 shouldFetch: fetch_time more than
    db.fetch.interval.max remote is pulled to now -> due, and an interval
    beyond the max is shrunk to max*0.9."""
    max_iv = 90 * 24 * 3600
    rows = [
        {"url": "http://a.com/clamped.html", "host": "a.com", "score": 1.0,
         "fetch_time": T0 + 10**12, "fetch_interval": 3600},
        {"url": "http://a.com/huge-interval.html", "host": "a.com", "score": 1.0,
         "fetch_time": T0 + 10**12, "fetch_interval": 200 * 24 * 3600},
        {"url": "http://a.com/merely-future.html", "host": "a.com", "score": 1.0,
         "fetch_time": T0 + 1000, "fetch_interval": 200 * 24 * 3600},
    ]
    frontier = mk_frontier(spark, rows)
    due = {r.url: r for r in select_due(frontier, CrawlConfig(), T0).collect()}
    assert len(due) == 2  # merely-future stays not-due (fetch_time > cur)
    assert due["http://a.com/clamped.html"].fetch_interval == 3600  # untouched
    assert due["http://a.com/huge-interval.html"].fetch_interval == int(max_iv * 0.9)


def test_min_score_gate(spark):
    rows = [(f"http://a.com/{i}.html", "a.com", float(i)) for i in range(5)]
    frontier = mk_frontier(spark, rows)
    cfg = CrawlConfig(topn=100, num_partitions=1, gen_min_score=3.0)
    got = {r.url for r in generate(frontier, cfg, T0).collect()}
    assert got == {"http://a.com/3.html", "http://a.com/4.html"}


def test_host_colocated_in_one_partition(spark):
    """URLPartitioner byHost: all URLs of one host -> one partition_id."""
    rows = [
        (f"http://h{h}.com/{i}.html", f"h{h}.com", 1.0)
        for h in range(20)
        for i in range(10)
    ]
    frontier = mk_frontier(spark, rows)
    cfg = CrawlConfig(topn=10_000, num_partitions=8)
    fl = generate(frontier, cfg, T0)
    per_host = fl.groupBy("host").agg(F.countDistinct("partition_id").alias("np")).collect()
    assert all(r.np == 1 for r in per_host)


def test_generated_marked_with_ngt(spark):
    rows = [("http://a.com/x.html", "a.com", 1.0)]
    frontier = mk_frontier(spark, rows)
    fl = generate(frontier, CrawlConfig(topn=10, num_partitions=1), T0)
    md = fl.collect()[0].metadata
    assert md[GENERATE_TIME_KEY] == str(T0)


def test_byip_vhosts_colocate_and_unresolved_falls_back(spark, corpus_tables):
    """URLPartitioner.java:79-86 byIP: two vhosts on one address share a
    partition key; a host missing from the resolver keeps its host key
    (the UnknownHostException path)."""
    rows = [
        (f"http://{h}/{i}.html", h, 1.0)
        for h in ("a.com", "b.com", "c.com", "d.com")
        for i in range(5)
    ]
    frontier = mk_frontier(spark, rows)
    resolver = spark.createDataFrame(
        [("a.com", "1.2.3.4"), ("b.com", "1.2.3.4"), ("d.com", "5.6.7.8")],
        "host string, ip string",
    )
    cfg = CrawlConfig(topn=1000, num_partitions=16, partition_mode="byIP")
    fl = generate(frontier, cfg, T0, resolver=resolver)
    pid = {r.host: r.pids for r in fl.groupBy("host")
           .agg(F.collect_set("partition_id").alias("pids")).collect()}
    assert all(len(v) == 1 for v in pid.values())
    # shared address -> shared logical partition
    assert pid["a.com"] == pid["b.com"]
    # unresolved host keys on the host string: same id as a byHost run
    byhost = generate(frontier, CrawlConfig(topn=1000, num_partitions=16), T0)
    byhost_pid = {r.host: r.pid for r in byhost
                  .groupBy("host").agg(F.first("partition_id").alias("pid")).collect()}
    assert pid["c.com"][0] == byhost_pid["c.com"]
    # the fetch places the fetchlist: byIP queues put the vhosts of one
    # address in one fetch task
    fq = CrawlConfig(**{**cfg.__dict__, "fetcher_queue_mode": "byIP"})
    fo = run_fetch(fl, corpus_tables["web_graph"], corpus_tables["robots"], fq, 1, T0,
                   resolver=resolver)
    phys = {r.host: r.parts for r in fo.groupBy("host")
            .agg(F.collect_set("partition_id").alias("parts")).collect()}
    assert phys["a.com"] == phys["b.com"] and len(phys["a.com"]) == 1
    # byIP without a resolver table degrades to byHost (declared fallback)
    nores = generate(frontier, cfg, T0)
    assert nores.count() == 20


def test_resolve_urls_report(spark):
    """tools/ResolveUrls.java analogue: per-URL resolution report."""
    from nutch_spark.operators.resolve import fake_resolver, resolve_urls

    urls = spark.createDataFrame(
        [(f"http://h{i}.example.com/x",) for i in range(40)], "url string")
    hosts = urls.selectExpr("lower(parse_url(url, 'HOST')) AS host")
    res = fake_resolver(hosts)
    rep = resolve_urls(urls, res).collect()
    assert len(rep) == 40
    resolved = [r for r in rep if r.resolved]
    # md5 fixture: ~75% coverage, fallback rows carry null ip
    assert 0 < len(resolved) < 40
    assert all(r.ip.startswith("ip-") for r in resolved)
    assert all(r.ip is None for r in rep if not r.resolved)
    none_rep = resolve_urls(urls, None).collect()
    assert all((not r.resolved) and r.ip is None for r in none_rep)


def test_mega_host_does_not_crowd_out_small_hosts(spark):
    """The host-capped selection must match the reference walk when a
    mega-host outscores every other row: the cap demotes mega rows to
    higher segments, so segment 1 backfills with other hosts' rows. A
    score-only top-K taken before the cap would drop those rows and
    under-fill segment 1."""
    mega = [(f"http://mega.com/{i:03d}.html", "mega.com", float(100 - i))
            for i in range(50)]
    little = [(f"http://h{i}.com/p.html", f"h{i}.com", float(10 - i))
              for i in range(8)]
    frontier = mk_frontier(spark, mega + little)
    cfg = CrawlConfig(topn=10, num_partitions=1, gen_max_count=3,
                      gen_max_num_segments=2)
    fl = generate(frontier, cfg, T0)
    got = {1: set(), 2: set()}
    for r in fl.collect():
        got[r.segnum].add(r.url)

    # reference walk (Generator.java:277-313): score-desc, cap 3/host per
    # segment, segment limit = topn/partitions = 10
    seg1 = ({f"http://mega.com/{i:03d}.html" for i in range(3)}
            | {f"http://h{i}.com/p.html" for i in range(7)})
    seg2 = {f"http://mega.com/{i:03d}.html" for i in (3, 4, 5)}
    assert got[1] == seg1
    assert got[2] == seg2


def test_topn_above_window_group_limit_default(spark):
    """limit = topN / partitions = 1,500 is above Spark's default
    windowGroupLimitThreshold (1,000): the session conf must still plan the
    pre-shuffle top-K (WindowGroupLimit), and the selection must equal the
    reference's per-reducer walk (Generator.java:235-247) with a mega-host
    holding most of one partition."""
    from nutch_spark.operators.generate import partition_expr

    mega = [(f"http://mega.com/{i:05d}.html", "mega.com", float(i % 997))
            for i in range(5000)]
    little = [(f"http://h{h}.com/{i}.html", f"h{h}.com", float((h * 31 + i) % 50))
              for h in range(12) for i in range(40)]
    rows = mega + little
    cfg = CrawlConfig(topn=3000, num_partitions=2)
    fl = generate(mk_frontier(spark, rows), cfg, T0)
    got = {(r.url, r.partition_id) for r in fl.collect()}

    hosts = spark.createDataFrame([(h,) for h in {r[1] for r in rows}], "host string")
    pid = {r.host: r.p for r in
           hosts.select("host", partition_expr(F.col("host"), cfg).alias("p")).collect()}
    by_part = {}
    for url, host, score in rows:
        by_part.setdefault(pid[host], []).append((-score, url))
    want = {(url, p) for p, lst in by_part.items() for _, url in sorted(lst)[:1500]}
    assert got == want
    assert len(got) > 1500  # the mega partition is cut, the other is not

    plan = fl._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
