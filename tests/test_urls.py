"""URL kernel tests — port of the semantics asserted by the reference's
TestBasicURLNormalizer and RegexURLFilterBase sample tests."""

import pandas as pd
import pytest

from nutch_spark.functions.urls import (
    RegexUrlFilter,
    extract_domain_series,
    extract_host_series,
    fetch_order_hash,
    normalize_url,
)


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("HTTP://WWW.Example.COM/", "http://www.example.com/"),
        ("http://www.example.com:80/index.html", "http://www.example.com/index.html"),
        ("https://www.example.com:443/a", "https://www.example.com/a"),
        ("http://www.example.com:8080/a", "http://www.example.com:8080/a"),
        ("http://www.example.com/a#frag", "http://www.example.com/a"),
        ("http://www.example.com", "http://www.example.com/"),
        ("http://www.example.com/a/./b.html", "http://www.example.com/a/b.html"),
        ("http://www.example.com/a/c/../b.html", "http://www.example.com/a/b.html"),
        ("http://www.example.com/a//b.html", "http://www.example.com/a/b.html"),
        ("http://www.example.com/a/b/../../c.html", "http://www.example.com/c.html"),
        ("  http://www.example.com/x \n", "http://www.example.com/x"),
        ("http://www.example.com/a?q=1#r", "http://www.example.com/a?q=1"),
        ("not a url", None),
        ("", None),
    ],
)
def test_basic_normalizer(raw, expected):
    assert normalize_url(raw) == expected


def test_normalizer_idempotent():
    urls = [
        "http://h0.example.com/page/0.html",
        "HTTP://H1.Example.com:80/a/../b//c.html#x",
    ]
    for u in urls:
        once = normalize_url(u)
        assert normalize_url(once) == once


def test_filter_first_match_decides():
    f = RegexUrlFilter([("-", r"private"), ("+", r"^http://")])
    assert f.accepts("http://a.com/x")
    assert not f.accepts("http://a.com/private/x")
    assert not f.accepts("ftp://a.com/")  # no match -> reject


def test_filter_series_matches_scalar():
    f = RegexUrlFilter()
    urls = pd.Series(
        [
            "http://a.com/x.html",
            "http://a.com/logo.gif",
            "ftp://a.com/x",
            "mailto:x@a.com",
            None,
            "https://b.org/y",
        ]
    )
    vec = f.accepts_series(urls).tolist()
    scl = [f.accepts(u) for u in urls]
    assert vec == scl
    assert vec == [True, False, False, False, False, True]


def test_host_domain_extraction():
    s = pd.Series(
        [
            "http://www.Example.COM/a",
            "http://sub.a.co.uk:8080/x",
            "https://h003.example.com/page/1.html",
            None,
        ]
    )
    hosts = extract_host_series(s).tolist()
    assert hosts[0] == "www.example.com"
    assert hosts[1] == "sub.a.co.uk"
    assert hosts[2] == "h003.example.com"
    doms = extract_domain_series(s).tolist()
    assert doms[0] == "example.com"
    assert doms[1] == "a.co.uk"
    assert doms[2] == "example.com"


def test_fetch_order_hash_java_parity():
    """hash = 1; for i=len-1..0: h = 31*h + (signed byte)b[i], int32 wrap —
    crawl/Generator.java:389-397. Golden values computed by hand-running the
    Java algorithm."""

    def java_hash(s: str) -> int:
        h = 1
        bs = s.encode("utf-8")
        for b in reversed(bs):
            v = b - 256 if b > 127 else b
            h = (31 * h + v) & 0xFFFFFFFF
        return h - (1 << 32) if h >= (1 << 31) else h

    for u in ["http://a.com/", "http://h000.example.com/page/0.html", "x", ""]:
        assert fetch_order_hash(u) == java_hash(u)
    # same host URLs should get well-spread hashes (the whole point)
    hs = {fetch_order_hash(f"http://h.com/page/{i}.html") for i in range(50)}
    assert len(hs) == 50


MIXED_URLS = [
    "http://h0001.bench.example.com/page/3.html",
    "HTTP://Example.COM:80/a/../b/./c//d#frag",
    "https://example.com",
    "http://example.com./x",
    "http://example.com/x?q=1&r=//weird",
    "http://example.com:8080/y",
    "ftp://Host/",
    "not a url",
    "http://example.com/a/b/../../c",
    "file:///etc/passwd",
    "mailto:x@y.com",
    "http://example.com/image.jpg",
    "http://a.com/?x=1?y=2",
    "http://example.com/trailing/",
]


def test_normalize_series_matches_scalar():
    """Vectorized fast path == exact scalar port, element-wise."""
    import pandas as pd

    from nutch_spark.functions.urls import normalize_url, normalize_url_series

    s = pd.Series(MIXED_URLS + [None, ""])
    vec = normalize_url_series(s)
    for u, v in zip(s, vec):
        ref = normalize_url(u) if isinstance(u, str) else None
        assert (v == ref) or (pd.isna(v) and ref is None), (u, v, ref)


def test_native_filter_chain_matches_python(spark):
    """RegexUrlFilter.col() (JVM rlike cascade) == accepts() per URL."""
    from pyspark.sql import functions as F

    from nutch_spark.functions.urls import RegexUrlFilter

    flt = RegexUrlFilter()
    df = spark.createDataFrame([(u,) for u in MIXED_URLS], "url string")
    got = {r.url: r.ok for r in df.select("url", flt.col(F.col("url")).alias("ok")).collect()}
    for u in MIXED_URLS:
        assert got[u] == flt.accepts(u), u


def test_normalize_split_matches_udf(spark):
    """normalize_inline (native check + python remainder, the basic stage
    of the crawl's normalize_chain_split) == full normalize."""
    from nutch_spark.functions.urls import normalize_inline, normalize_url

    df = spark.createDataFrame([(u,) for u in MIXED_URLS], "raw string")
    out = {
        r.raw: r.norm
        for r in normalize_inline(df, "raw", "norm").collect()
    }
    for u in MIXED_URLS:
        ref = normalize_url(u)
        got = out.get(u)
        assert got == ref or (got is None and ref is None), (u, got, ref)


# TestBasicURLNormalizer.testNormalizer (TestBasicURLNormalizer.java:37-106)
# — the reference's full case table, verbatim.
REFERENCE_NORMALIZER_CASES = [
    (" http://foo.com/ ", "http://foo.com/"),
    ("HTTP://foo.com/", "http://foo.com/"),
    ("http://Foo.Com/index.html", "http://foo.com/index.html"),
    ("http://foo.com:80/index.html", "http://foo.com/index.html"),
    ("http://foo.com:81/", "http://foo.com:81/"),
    ("http://foo.com", "http://foo.com/"),
    ("http://foo.com/foo.html#ref", "http://foo.com/foo.html"),
    ("http://foo.com/aa/./foo.html", "http://foo.com/aa/foo.html"),
    ("http://foo.com/aa/../", "http://foo.com/"),
    ("http://foo.com/aa/bb/../", "http://foo.com/aa/"),
    ("http://foo.com/aa/..", "http://foo.com/aa/.."),
    ("http://foo.com/aa/bb/cc/../../foo.html", "http://foo.com/aa/foo.html"),
    ("http://foo.com/aa/bb/../cc/dd/../ee/foo.html",
     "http://foo.com/aa/cc/ee/foo.html"),
    ("http://foo.com/../foo.html", "http://foo.com/foo.html"),
    ("http://foo.com/../../foo.html", "http://foo.com/foo.html"),
    ("http://foo.com/../aa/../foo.html", "http://foo.com/foo.html"),
    ("http://foo.com/aa/../../foo.html", "http://foo.com/foo.html"),
    ("http://foo.com/aa/../bb/../foo.html/../../", "http://foo.com/"),
    ("http://foo.com/../aa/foo.html", "http://foo.com/aa/foo.html"),
    ("http://foo.com/../aa/../foo.html", "http://foo.com/foo.html"),
    ("http://foo.com/a..a/foo.html", "http://foo.com/a..a/foo.html"),
    ("http://foo.com/a..a/../foo.html", "http://foo.com/foo.html"),
    ("http://foo.com/foo.foo/../foo.html", "http://foo.com/foo.html"),
    ("http://foo.com//aa/bb/foo.html", "http://foo.com/aa/bb/foo.html"),
    ("http://foo.com/aa//bb/foo.html", "http://foo.com/aa/bb/foo.html"),
    ("http://foo.com/aa/bb//foo.html", "http://foo.com/aa/bb/foo.html"),
    ("http://foo.com//aa//bb//foo.html", "http://foo.com/aa/bb/foo.html"),
    ("http://foo.com////aa////bb////foo.html",
     "http://foo.com/aa/bb/foo.html"),
]


@pytest.mark.parametrize("weird,normal", REFERENCE_NORMALIZER_CASES)
def test_basic_normalizer_reference_table(weird, normal):
    assert normalize_url(weird) == normal


def test_domain_udf_tolerates_unparseable_urls(spark):
    """A URL the host regex can't match must yield NULL, not crash the
    Arrow batch (registered_domain used to receive the NaN and raise)."""
    from nutch_spark.functions.urls import domain_udf

    df = spark.createDataFrame(
        [("http://a.example.com/x",), ("not a url",), (None,)],
        "url string")
    got = [r.d for r in df.select(domain_udf("url").alias("d")).collect()]
    assert got == ["example.com", None, None]
