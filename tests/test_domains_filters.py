"""Full suffix-table registered-domain walk, byDomain generator modes, and
the fork's shipped whitelist rules."""

from pyspark.sql import functions as F

from nutch_spark.config import CrawlConfig
from nutch_spark.functions.filter_rules import ecommerce_filter_rules
from nutch_spark.functions.suffixes import DOMAIN_SUFFIXES
from nutch_spark.functions.urls import (
    RegexUrlFilter, domain_suffix, registered_domain, top_level_domain,
)
from nutch_spark.operators.generate import generate


def test_registered_domain_reference_walk():
    """URLUtil.getDomainName:153-172 walk over the full table (the round-1
    45-entry set returned wrong answers for most ccTLD second levels)."""
    assert registered_domain("lucene.apache.org") == "apache.org"
    assert registered_domain("a.b.example.co.uk") == "example.co.uk"
    assert registered_domain("www.foo.com.cn") == "foo.com.cn"
    assert registered_domain("x.y.z.gov.uk") == "z.gov.uk"
    assert registered_domain("sub.shop.co.jp") == "shop.co.jp"
    assert registered_domain("a.blogspot.com") == "blogspot.com"
    # pref.aichi.jp is itself a listed suffix -> one more label attaches
    assert registered_domain("www.pref.aichi.jp") == "www.pref.aichi.jp"
    assert registered_domain("192.168.0.1") == "192.168.0.1"  # IPs pass through
    assert registered_domain("localhost") == "localhost"
    assert registered_domain("host.") == registered_domain("host")
    # suffix itself: the walk returns the suffix+1 chain head (co.uk case)
    assert registered_domain("co.uk") == "co.uk"


def test_suffix_and_tld_modes_differ():
    assert domain_suffix("a.b.co.uk") == "co.uk"
    assert top_level_domain("a.b.co.uk") == "uk"
    assert domain_suffix("x.apache.org") == "org"
    assert top_level_domain("x.apache.org") == "org"
    assert "co.uk" in DOMAIN_SUFFIXES and "uk" in DOMAIN_SUFFIXES
    assert len(DOMAIN_SUFFIXES) > 2000


def test_generator_by_domain_cap_and_partition(spark):
    """TestGenerator-style byDomain cap: hosts of ONE registered domain
    share the gen_max_count budget (Generator.java:277-313 byDomain mode)."""
    rows = []
    t0 = 1_700_000_000_000
    for i, host in enumerate(["a.shop.co.uk", "b.shop.co.uk", "c.shop.co.uk",
                              "x.other.com", "y.other.com"]):
        for j in range(4):
            rows.append((f"http://{host}/p{j}.html", host, 1, t0 - 1000,
                         0, 86400, float(100 - i - j), None, 0, {}))
    frontier = spark.createDataFrame(
        rows, "url string, host string, status int, fetch_time long, "
              "retries int, fetch_interval int, score float, signature string, "
              "modified_time long, metadata map<string,string>")
    cfg = CrawlConfig(num_partitions=2, topn=1000, gen_max_count=3,
                      gen_count_mode="byDomain", partition_mode="byDomain",
                      gen_max_num_segments=1)
    out = generate(frontier, cfg, t0).collect()
    by_domain = {}
    for r in out:
        dom = registered_domain(r.host)
        by_domain.setdefault(dom, []).append(r)
    # 12 shop.co.uk urls capped to 3; 8 other.com urls capped to 3
    assert len(by_domain["shop.co.uk"]) == 3
    assert len(by_domain["other.com"]) == 3
    # cap keeps the highest-score urls (desc score, asc url)
    got_scores = sorted((r.score for r in by_domain["shop.co.uk"]), reverse=True)
    want = sorted((float(100 - i - j) for i in range(3) for j in range(4)),
                  reverse=True)[:3]
    assert got_scores == want


def test_ecommerce_whitelist_rules():
    """The fork's crawl scope (conf/regex-urlfilter.txt:26-139) as shipped,
    loadable rule data: first match decides, no match rejects."""
    f = RegexUrlFilter(ecommerce_filter_rules())
    # accepted item/category pages
    assert f.accepts("http://detail.tmall.com/item.htm?id=1")
    assert f.accepts("http://www.360buy.com/product/12345.html")
    assert f.accepts("http://item.51buy.com/item-107316.html?YTAG=1")
    assert f.accepts("http://www.yihaodian.com/product/3833859_1")
    assert f.accepts("http://www.newegg.com.cn/Product/A26-032.htm")
    # explicit rejects win over the later accepts (first match decides)
    assert not f.accepts("http://zhaoshang.tmall.com/anything")
    assert not f.accepts("http://pass.tmall.com/login")
    # suffix blacklist fires before any whitelist
    assert not f.accepts("http://detail.tmall.com/img/banner.jpg")
    # everything else: final '-.' rejects
    assert not f.accepts("http://www.wikipedia.org/")
    assert not f.accepts("ftp://ftp.example.com/file")
    # vectorized path agrees with scalar, silently: the shipped rules have
    # capturing groups, on which str.contains warns every batch
    import warnings

    import pandas as pd
    urls = ["http://detail.tmall.com/item.htm?id=1", "http://www.wikipedia.org/",
            "http://zhaoshang.tmall.com/x", "http://www.360buy.com/product/9.html"]
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = list(f.accepts_series(pd.Series(urls)))
    assert got == [f.accepts(u) for u in urls]
