"""RegexURLNormalizer / host-alias / scoped-chain parity tests.

Parity data: the reference plugin's own sample test files
(plugin/urlnormalizer-regex/sample/regex-normalize-{default,scope1}.test),
read from the read-only reference checkout pair-for-pair."""

import os

import pytest
from pyspark.sql import functions as F

from nutch_spark.functions.normalizers import (
    DEFAULT_REGEX_RULES,
    SCOPE1_SAMPLE_RULES,
    HostAliasNormalizer,
    RegexURLNormalizer,
    ScopedNormalizers,
    normalize_chain_split,
)

_SAMPLES = "/root/reference/src/plugin/urlnormalizer-regex/sample"


def _pairs(name):
    path = os.path.join(_SAMPLES, name)
    if not os.path.exists(path):
        pytest.skip(f"reference sample {name} unavailable")
    out = []
    for line in open(path):
        line = line.strip()
        if line and not line.startswith("#"):
            a, b = line.split()
            out.append((a, b))
    return out


def test_default_rules_match_reference_pairs_scalar():
    rn = RegexURLNormalizer()
    for src, want in _pairs("regex-normalize-default.test"):
        assert rn.normalize(src) == want, src


def test_scope1_rules_match_reference_pairs_scalar():
    rn = RegexURLNormalizer(SCOPE1_SAMPLE_RULES)
    for src, want in _pairs("regex-normalize-scope1.test"):
        assert rn.normalize(src) == want, src


def test_default_rules_match_reference_pairs_native(spark):
    """The JVM regexp_replace chain (Java dialect) produces the same output
    as the reference pairs — the hot-path implementation."""
    pairs = _pairs("regex-normalize-default.test")
    df = spark.createDataFrame(pairs, "url string, want string")
    rn = RegexURLNormalizer()
    bad = df.withColumn("got", rn.col(F.col("url"))).filter(
        F.col("got") != F.col("want")
    ).collect()
    assert bad == [], bad


def test_pandas_series_path_matches_scalar():
    import pandas as pd

    rn = RegexURLNormalizer()
    urls = [a for a, _b in _pairs("regex-normalize-default.test")]
    got = list(rn.series(pd.Series(urls)))
    assert got == [rn.normalize(u) for u in urls]


def test_host_alias_normalizer():
    hn = HostAliasNormalizer.from_text(
        "# comment\nwww.apache.org apache.org\n*.example.org example.org\n"
    )
    assert hn.normalize("http://www.apache.org/dist/") == "http://apache.org/dist/"
    assert hn.normalize("https://a.b.example.org/x?y=1") == "https://example.org/x?y=1"
    assert hn.normalize("http://example.org/x") == "http://example.org/x"
    assert hn.normalize("http://other.com/") == "http://other.com/"
    # port and path boundaries respected
    assert hn.normalize("http://www.apache.org:8080/a") == "http://apache.org:8080/a"
    assert hn.normalize("http://www.apache.org.evil.com/") == "http://www.apache.org.evil.com/"


def test_host_alias_native_matches_scalar(spark):
    hn = HostAliasNormalizer({"www.apache.org": "apache.org", "*.example.org": "example.org"})
    urls = [
        "http://www.apache.org/dist/", "https://a.b.example.org/x?y=1",
        "http://example.org/x", "http://other.com/",
        "http://www.apache.org:8080/a", "http://www.apache.org.evil.com/",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [r.n for r in df.select(hn.col(F.col("url")).alias("n")).collect()]
    assert got == [hn.normalize(u) for u in urls]


def test_scoped_chain_fallback_and_override():
    ns = ScopedNormalizers(regex_rules_by_scope={"generate_host_count": SCOPE1_SAMPLE_RULES})
    url = "http://www.foo.bar.com/foo.php?PHPSESSID=abc123"
    # default scope: basic + default regex rules (session id stripped)
    assert ns.normalize(url, "default") == "http://www.foo.bar.com/foo.php"
    # overridden scope: scope1 rules collapse to the registered domain root
    assert ns.normalize(url, "generate_host_count") == "http://bar.com/"
    # unknown scope falls back to default rules (URLNormalizers.java:132+)
    assert ns.normalize(url, "fetcher") == "http://www.foo.bar.com/foo.php"


def test_chain_split_dataframe_path(spark):
    df = spark.createDataFrame(
        [("http://A.com/x/../index.html?PHPSESSID=zz",),
         ("http://b.com/ok.html",)],
        "u string",
    )
    got = {r.n for r in normalize_chain_split(df, "u", "n", "outlink").collect()}
    # basic: lowercase host + ../ resolution; regex: default page + session id
    assert got == {"http://a.com/", "http://b.com/ok.html"}
