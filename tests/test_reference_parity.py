"""Reference unit-test fixtures ported verbatim (public test sources, cited):
URLUtil domain/suffix/chooseRepr/resolve cases from
src/test/org/apache/nutch/util/TestURLUtil.java, run against this repo's
ports. Test DATA is the reference's; the implementations under test are
the from-scratch PySpark-side kernels."""

from urllib.parse import urljoin

import pytest
from pyspark.sql import functions as F

from nutch_spark.functions.urls import (
    choose_repr_url, domain_suffix, registered_domain,
)

# TestURLUtil.testGetDomainName (TestURLUtil.java:30-85)
DOMAIN_CASES = [
    ("lucene.apache.org", "apache.org"),
    ("en.wikipedia.org", "wikipedia.org"),
    ("140.211.11.130", "140.211.11.130"),
    ("www.example.co.uk", "example.co.uk"),
    ("com", "com"),
    ("www.example.co.uk.com", "uk.com"),
    ("example.com.nn", "nn"),          # "nn" is not a tld
    ("", ""),
    ("www.edu.tr.xyz", "xyz"),
    ("www.example.c.se", "example.c.se"),
    ("www.example.plc.co.im", "example.plc.co.im"),   # suffix-listed
    ("www.example.2000.hu", "example.2000.hu"),       # suffix-listed
    ("www.example.商業.tw", "example.商業.tw"),        # non-ascii
]

# TestURLUtil.testGetDomainSuffix (TestURLUtil.java:87-135)
SUFFIX_CASES = [
    ("lucene.apache.org", "org"),
    ("140.211.11.130", None),
    ("www.example.co.uk", "co.uk"),
    ("com", "com"),
    ("www.example.co.uk.com", "com"),
    ("example.com.nn", None),
    ("www.edu.tr.xyz", None),
    ("www.example.plc.co.im", "plc.co.im"),
    ("www.example.2000.hu", "2000.hu"),
    ("www.example.商業.tw", "商業.tw"),
]


@pytest.mark.parametrize("host,expected", DOMAIN_CASES)
def test_urlutil_domain_cases(host, expected):
    assert registered_domain(host) == expected


@pytest.mark.parametrize("host,expected", SUFFIX_CASES)
def test_urlutil_suffix_cases(host, expected):
    assert domain_suffix(host) == expected


def test_urlutil_choose_repr_cases():
    """TestURLUtil.testChooseRepr (TestURLUtil.java:168-213): all 9 rule
    branches of URLUtil.chooseRepr."""
    a, b = "http://www.a.com", "http://www.b.com"
    asub = "http://www.news.a.com"
    aq = "http://www.a.com?y=1"
    ap = "http://www.a.com/xyz/index.html"
    ap2 = "http://www.a.com/abc/page.html"
    ap3 = "http://www.news.a.com/abc/page.html"
    cases = [
        ((a, b, True), b), ((a, b, False), b),      # 1 cross-domain
        ((a, aq, False), a), ((a, ap, False), a),   # 2 perm+root
        ((ap, a, False), a),                        # 3 perm, dest root
        ((ap, ap2, False), ap2),                    # 4 perm, neither root
        ((a, ap, True), a),                         # 5 temp, src root
        ((ap, a, True), a),                         # 6 temp, dest root
        ((ap, ap2, True), ap2), ((ap, ap3, True), ap),  # 7 path/host compare
        ((a, asub, True), a),                       # 8 both root, short host
    ]
    for (s, d, t), exp in cases:
        assert choose_repr_url(s, d, t) == exp, (s, d, t)


def test_choose_repr_host_compare_is_case_sensitive():
    """URLUtil.chooseRepr's same-host test is srcHost.equals(dstHost) on
    java.net.URL.getHost(), which PRESERVES case — 'WWW.a.com' vs
    'www.a.com' takes the different-hosts label-count branch (→ src on a
    3-vs-3 tie), not the same-host path compare (→ dst here). urlsplit's
    .hostname lowercases and silently merged the two branches."""
    src = "http://WWW.a.com/x/y/z.html"   # 4 path segments
    dst = "http://www.a.com/d.html"       # 2 path segments
    assert choose_repr_url(src, dst, True) == src


# TestURLUtil RFC3986 section 5.4.1 resolve table (TestURLUtil.java:215-243)
RFC3986_BASE = "http://a/b/c/d;p?q"
RFC3986_CASES = [
    ("g", "http://a/b/c/g"), ("./g", "http://a/b/c/g"),
    ("g/", "http://a/b/c/g/"), ("/g", "http://a/g"), ("//g", "http://g"),
    ("?y", "http://a/b/c/d;p?y"), ("g?y", "http://a/b/c/g?y"),
    ("#s", "http://a/b/c/d;p?q#s"), ("g#s", "http://a/b/c/g#s"),
    ("g?y#s", "http://a/b/c/g?y#s"), (";x", "http://a/b/c/;x"),
    ("g;x", "http://a/b/c/g;x"), ("g;x?y#s", "http://a/b/c/g;x?y#s"),
    ("", "http://a/b/c/d;p?q"), (".", "http://a/b/c/"),
    ("./", "http://a/b/c/"), ("..", "http://a/b/"), ("../", "http://a/b/"),
    ("../g", "http://a/b/g"), ("../..", "http://a/"),
    ("../../", "http://a/"), ("../../g", "http://a/g"),
]


@pytest.mark.parametrize("rel,expected", RFC3986_CASES)
def test_urlutil_resolve_rfc3986(rel, expected):
    """URLUtil.resolveURL cases: the outlink/refresh resolution path uses
    urljoin, which must match the reference's RFC3986 table (incl. the
    NUTCH-436 query-only case below)."""
    assert urljoin(RFC3986_BASE, rel) == expected


def test_urlutil_resolve_nutch436_566():
    assert urljoin("http://a/b/c/d;p?q#f", "?y") == "http://a/b/c/d;p?y"
    assert (urljoin("http://www.fleurie.org/entreprise.asp", "?id_entrep=111")
            == "http://www.fleurie.org/entreprise.asp?id_entrep=111")


# TestRobotsMetaProcessor (parse-html test, :41-117): 9 documents x
# (noindex, nofollow, nocache) answers — exercises case-insensitive tag,
# attribute and directive handling plus http-equiv pragma no-cache.
ROBOTS_META_DOCS = [
    ('<html><head><title>test page</title>'
     '<META NAME="ROBOTS" CONTENT="NONE"> '
     '<META HTTP-EQUIV="PRAGMA" CONTENT="NO-CACHE"> '
     '</head><body> some text</body></html>', (True, True, True)),
    ('<html><head><title>test page</title>'
     '<meta name="robots" content="all"> '
     '<meta http-equiv="pragma" content="no-cache"> '
     '</head><body> some text</body></html>', (False, False, True)),
    ('<html><head><title>test page</title>'
     '<MeTa NaMe="RoBoTs" CoNtEnT="nOnE"> '
     '<MeTa HtTp-EqUiV="pRaGmA" cOnTeNt="No-CaChE"> '
     '</head><body> some text</body></html>', (True, True, True)),
    ('<html><head><title>test page</title>'
     '<meta name="robots" content="none"> '
     '</head><body> some text</body></html>', (True, True, False)),
    ('<html><head><title>test page</title>'
     '<meta name="robots" content="noindex,nofollow"> '
     '</head><body> some text</body></html>', (True, True, False)),
    ('<html><head><title>test page</title>'
     '<meta name="robots" content="noindex,follow"> '
     '</head><body> some text</body></html>', (True, False, False)),
    ('<html><head><title>test page</title>'
     '<meta name="robots" content="index,nofollow"> '
     '</head><body> some text</body></html>', (False, True, False)),
    ('<html><head><title>test page</title>'
     '<meta name="robots" content="index,follow"> '
     '<base href="http://www.nutch.org/">'
     '</head><body> some text</body></html>', (False, False, False)),
    ('<html><head><title>test page</title>'
     '<meta name="robots"> '
     '<base href="http://www.nutch.org/base/">'
     '</head><body> some text</body></html>', (False, False, False)),
]


@pytest.mark.parametrize("doc,expected", ROBOTS_META_DOCS)
def test_robots_meta_processor_cases(doc, expected):
    from nutch_spark.operators.parse import parse_meta_directives

    noindex, nofollow, _refresh, general = parse_meta_directives(
        doc, "http://www.nutch.org")
    nocache = general.get("nocache.") == "1"
    assert (noindex, nofollow, nocache) == expected


# TestOutlinkExtractor (:29-77): the C11 plain-text URL sweep
def test_outlink_extractor_cases():
    from nutch_spark.operators.pdfparse import extract_text_outlinks

    assert extract_text_outlinks(None) == []
    assert extract_text_outlinks("") == []
    t = ("Test with http://www.nutch.org/index.html is it found? "
         "What about www.google.com at http://www.google.de "
         "A longer URL could be http://www.sybit.com/solutions/portals.html")
    assert extract_text_outlinks(t) == [
        "http://www.nutch.org/index.html", "http://www.google.de",
        "http://www.sybit.com/solutions/portals.html"]
    t2 = ("Test with ftp://www.nutch.org is it found? "
          "What about www.google.com at ftp://www.google.de")
    assert extract_text_outlinks(t2) == [
        "ftp://www.nutch.org", "ftp://www.google.de"]


# TestGZIPUtils (:119-244) structure ported: roundtrip, best-effort,
# every-prefix truncation sweep, and the output size limit — over three
# sizes like the reference's SHORT/LONGER/WEBPAGE strings (synthetic
# bodies; the properties are content-independent).
GZIP_BODIES = [
    b"this is a short compressible test string " * 3,
    b"a longer body with repeated structure and words words words " * 12,
    (b"<html><head><title>t</title></head><body>" +
     b"<p>paragraph of text for compression</p>" * 80 + b"</body></html>"),
]


@pytest.mark.parametrize("body", GZIP_BODIES, ids=["short", "longer", "page"])
def test_gzip_roundtrip_best_effort(body):
    import gzip as _gzip

    from nutch_spark.functions.content import unzip_best_effort

    comp = _gzip.compress(body)
    assert len(comp) < len(body)  # "compressed array is not smaller!"
    assert unzip_best_effort(comp) == body


@pytest.mark.parametrize("body", GZIP_BODIES, ids=["short", "longer", "page"])
def test_gzip_truncation_sweep(body):
    """testTruncation (:195-225): for EVERY truncation of the compressed
    stream, unzipBestEffort returns either nothing or a prefix of the
    original — never garbage."""
    import gzip as _gzip

    from nutch_spark.functions.content import unzip_best_effort

    comp = _gzip.compress(body)
    for i in range(len(comp), -1, -1):
        trunc = unzip_best_effort(comp[:i])
        if trunc is not None:
            assert body.startswith(trunc), f"mismatch at truncation {i}"


@pytest.mark.parametrize("body", GZIP_BODIES, ids=["short", "longer", "page"])
def test_gzip_size_limit(body):
    """testLimit (:228-244): the size-limited variant returns exactly
    limit bytes (a prefix)."""
    import gzip as _gzip

    from nutch_spark.functions.content import unzip_best_effort

    comp = _gzip.compress(body)
    half = len(body) // 2
    out = unzip_best_effort(comp, size_limit=half)
    assert out == body[:half]


def test_subcollection_filter_cases(spark):
    """TestSubcollection.testFilter (:31-46): blacklist substring rejects,
    whitelist substring admits, no match -> out."""
    from nutch_spark.config import CrawlConfig
    from nutch_spark.operators.indexer import build_index

    urls = ["http://www.apache.org/index.html",
            "http://www.apache.org/zecret/index.html",
            "http://www.apache.org/img/image.jpg",
            "http://www.google.com/"]
    frontier = spark.createDataFrame(
        [(u, 2, 1.0, 0, "s") for u in urls],
        "url string, status int, score float, fetch_time long, signature string")
    fo = frontier.select(
        "url", F.lit(33).alias("fetch_status"),
        F.lit(5).cast("long").alias("fetch_ts"),
        F.lit(10).cast("long").alias("content_length"))
    ptext = frontier.select("url", F.lit("body").alias("text"))
    pdata = frontier.select("url", F.lit("t").alias("title"))
    cfg = CrawlConfig(subcollections=(
        ("sc", ("www.nutch.org", "www.apache.org"),
         ("jpg", "www.apache.org/zecret/")),))
    got = {r.url: list(r.subcollection) for r in build_index(
        frontier, fo, ptext, pdata, None, cfg).collect()}
    assert got[urls[0]] == ["sc"]      # whitelist match
    assert got[urls[1]] == []          # blacklist path
    assert got[urls[2]] == []          # blacklist extension
    assert got[urls[3]] == []          # no match


def test_metatag_parser_fixture():
    """TestMetatagParser + its testMetatags.html fixture: capitalized
    self-closing metas land in parse meta under lowercased names (the
    metatag.* prefix is applied by the indexer composition)."""
    from nutch_spark.operators.parse import parse_meta_directives

    html = ('<html>\n<head>\n'
            '<meta name="Keywords" content="This is a test of keywords" />\n'
            '<meta name="Description" content="This is a test of description" />\n'
            '</head>\n<body>\ntext of the document\n</body>\n')
    _, _, _, general = parse_meta_directives(html, "http://t-sim.com/")
    assert general["keywords"] == "This is a test of keywords"
    assert general["description"] == "This is a test of description"


def test_crawldb_merger_metadata_accumulation(spark):
    """TestCrawlDbMerger (:25-100): url in both dbs -> newest datum wins but
    metadata accumulates across versions, newer values overriding
    (CrawlDbMerger.java:51,81-100). url10 carries cd1+cd2 merged meta with
    cd2's 'name'; url11/url21 keep their single datum untouched."""
    from nutch_spark.operators.mergers import merge_crawldbs

    t = 1_700_000_000_000
    schema = ("url string, status int, fetch_time long, fetch_interval int, "
              "score float, metadata map<string,string>")
    db1 = spark.createDataFrame(
        [{"url": "http://example.com/foo", "status": 1, "fetch_time": t,
          "fetch_interval": 1, "score": 1.0,
          "metadata": {"name": "cd1", "cd1": "cd1"}},
         {"url": "http://example.com/", "status": 1, "fetch_time": t,
          "fetch_interval": 1, "score": 1.0,
          "metadata": {"name": "cd1", "cd1": "cd1"}}], schema)
    db2 = spark.createDataFrame(
        [{"url": "http://example.com/foo", "status": 1,
          "fetch_time": t + 10_000, "fetch_interval": 1, "score": 1.0,
          "metadata": {"name": "cd2"}},
         {"url": "http://example.com/bar", "status": 1,
          "fetch_time": t + 10_000, "fetch_interval": 1, "score": 1.0,
          "metadata": {"name": "cd2"}}], schema)
    got = {r.url: r for r in merge_crawldbs([db1, db2]).collect()}
    assert len(got) == 3
    foo = got["http://example.com/foo"]
    assert foo.fetch_time == t + 10_000          # newest datum won
    assert foo.metadata == {"name": "cd2", "cd1": "cd1"}  # cd3 = cd1+cd2
    assert got["http://example.com/"].metadata == {"name": "cd1", "cd1": "cd1"}
    assert got["http://example.com/bar"].metadata == {"name": "cd2"}


def test_linkdb_merger_inlink_union(spark):
    """TestLinkDbMerger (:33-70): per target url, inlink lists from the
    merged dbs union up (example.com/ collects both dbs' inlinks);
    single-db targets pass through."""
    from nutch_spark.config import CrawlConfig
    from nutch_spark.operators.linkdb import (
        invert_links, linkdb_aggregate, merge_linkdbs,
    )

    def db(rows):
        by_src: dict = {}
        for frm, to, anchor in rows:
            by_src.setdefault(frm, []).append({"to_url": to, "anchor": anchor})
        pd_ = spark.createDataFrame(
            [(u, ols) for u, ols in by_src.items()],
            "url string, outlinks array<struct<to_url:string,anchor:string>>")
        return invert_links(pd_, CrawlConfig(db_ignore_internal_links=False))

    db1 = db([("http://example.com/100", "http://example.com/foo", "a"),
              ("http://example.com/101", "http://example.com/foo", "a"),
              ("http://example.com/110", "http://example.com/", "a"),
              ("http://example.com/111", "http://example.com/", "a")])
    db2 = db([("http://foo.com/200", "http://example.com/", "a"),
              ("http://foo.com/201", "http://example.com/", "a"),
              ("http://foo.com/210", "http://example.com/bar", "a"),
              ("http://foo.com/211", "http://example.com/bar", "a")])
    merged = linkdb_aggregate(merge_linkdbs([db1, db2], CrawlConfig()),
                              CrawlConfig())
    got = {r.to_url: sorted(i.from_url for i in r.inlinks)
           for r in merged.collect()}
    assert got["http://example.com/foo"] == [
        "http://example.com/100", "http://example.com/101"]
    assert got["http://example.com/"] == [
        "http://example.com/110", "http://example.com/111",
        "http://foo.com/200", "http://foo.com/201"]
    assert got["http://example.com/bar"] == [
        "http://foo.com/210", "http://foo.com/211"]


# TestHTMLLanguageParser.testParseLanguage (plugin/language-identifier
# src/test/.../TestHTMLLanguageParser.java:73-125) — 44 fixture pairs
PARSE_LANGUAGE_CASES = [
    ("(SCHEME=ISO.639-1) sv", "sv"),
    ("(SCHEME=RFC1766) sv-FI", "sv"),
    ("(SCHEME=Z39.53) SWE", "sv"),
    ("EN_US, SV, EN, EN_UK", "en"),
    ("English Swedish", "en"),
    ("English, swedish", "en"),
    ("English,Swedish", "en"),
    ("Other (Svenska)", "sv"),
    ("SE", "se"),
    ("SV", "sv"),
    ("SV charset=iso-8859-1", "sv"),
    ("SV-FI", "sv"),
    ("SV; charset=iso-8859-1", "sv"),
    ("SVE", "sv"),
    ("SW", "sw"),
    ("SWE", "sv"),
    ("SWEDISH", "sv"),
    ("Sv", "sv"),
    ("Sve", "sv"),
    ("Svenska", "sv"),
    ("Swedish", "sv"),
    ("Swedish, svenska", "sv"),
    ("en, sv", "en"),
    ("sv", "sv"),
    ("sv, be, dk, de, fr, no, pt, ch, fi, en", "sv"),
    ("sv,en", "sv"),
    ("sv-FI", "sv"),
    ("sv-SE", "sv"),
    ("sv-en", "sv"),
    ("sv-fi", "sv"),
    ("sv-se", "sv"),
    ("sv; Content-Language: sv", "sv"),
    ("sv_SE", "sv"),
    ("sve", "sv"),
    ("svenska, swedish, engelska, english", "sv"),
    ("sw", "sw"),
    ("swe", "sv"),
    ("swe.SPR.", "sv"),
    ("sweden", "sv"),
    ("swedish", "sv"),
    ("swedish,", "sv"),
    ("text/html; charset=sv-SE", "sv"),
    ("text/html; sv", "sv"),
    ("torp, stuga, uthyres, bed & breakfast", None),
]


@pytest.mark.parametrize("raw,expected", PARSE_LANGUAGE_CASES)
def test_parse_language_cases(raw, expected):
    from nutch_spark.functions.text import parse_language

    assert parse_language(raw) == expected


def test_parse_declared_language_column(spark):
    """The Catalyst twin agrees with the Python port on every fixture."""
    from nutch_spark.functions.text import parse_declared_language

    df = spark.createDataFrame(
        [(raw,) for raw, _ in PARSE_LANGUAGE_CASES], "raw string")
    got = [r.lang for r in
           df.select(parse_declared_language(F.col("raw")).alias("lang"))
           .collect()]
    assert got == [e for _, e in PARSE_LANGUAGE_CASES]


def test_html_language_parser_meta_docs(spark):
    """TestHTMLLanguageParser.testMetaHTMLParsing (:55-70): lang attribute,
    http-equiv content-language, and dc.language meta each yield the
    document language through the real parse kernel + indexing filter."""
    from nutch_spark.config import CrawlConfig
    from nutch_spark.operators.indexer import build_index
    from nutch_spark.operators.parse import extract_documents_by_mime

    docs = [
        '<html lang="fi"><head>document 1 title</head>'
        "<body>jotain suomeksi</body></html>",
        '<html><head><meta http-equiv="content-language" content="en">'
        "<title>document 2 title</head><body>this is english</body></html>",
        '<html><head><meta name="dc.language" content="en">'
        "<title>document 3 title</head><body>this is english</body></html>",
    ]
    urls = [f"http://foo.bar/{i}" for i in range(len(docs))]
    cdf = spark.createDataFrame(
        list(zip(urls, docs)), "url string, content string").withColumn(
        "content_type", F.lit("text/html"))
    parsed = extract_documents_by_mime(cdf)
    frontier = spark.createDataFrame(
        [(u, 2, 1.0, 0, "s") for u in urls],
        "url string, status int, score float, fetch_time long, signature string")
    fo = frontier.select(
        "url", F.lit(33).alias("fetch_status"),
        F.lit(5).cast("long").alias("fetch_ts"),
        F.lit(10).cast("long").alias("content_length"))
    ptext = parsed.select(
        F.col("doc_id").alias("url"),
        F.array_join(F.transform(
            F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("text")),
            lambda s: s["text"]), " ").alias("text"))
    pdata = parsed.select(F.col("doc_id").alias("url"), "title", "meta")
    idx = build_index(frontier, fo, ptext, pdata, None,
                      CrawlConfig(index_lang=True))
    got = {r.url: r.lang for r in idx.select("url", "lang").collect()}
    assert got == {urls[0]: "fi", urls[1]: "en", urls[2]: "en"}


def test_extract_lang_attr_case_and_quoting():
    """DOM getAttribute('lang') is case-insensitive on the tag/attribute
    and value-quoting-agnostic: '<HTML LANG=\"fr\">' and '<html lang=en>'
    both declare a language. The old case-SENSITIVE substring guard
    skipped all-uppercase pages before the re.I regex ever ran, and the
    quoted-only pattern missed unquoted values."""
    from nutch_spark.operators.parse import extract_lang_attr

    cases = [
        ('<HTML LANG="fr"><TITLE>t</TITLE>', "fr"),
        ("<html lang=en><body>b</body>", "en"),
        ("<html lang='de'>", "de"),
        ("<html data-lang='de' xml:lang='de'>", None),  # not the DOM attr
        ("<html>plain</html>", None),
    ]
    for content, want in cases:
        general: dict = {}
        extract_lang_attr(content, general)
        assert general.get("lang.") == want, (content, general)


# TestDOMContentUtils (plugin/parse-html test, :41-260): testPages HTML,
# testBaseHrefs bases, answerTitle and answerOutlinks expected values —
# ported for every case whose behavior doesn't hinge on NekoHTML's DOM
# fixup of the TEXT walk (our text spans stay paragraph-scoped, declared).
# Outlink answers are the reference's verbatim; in our span model the img
# outlink (linkParams img->src, DOMContentUtils.java:135) is a media span.
DOM_OUTLINK_CASES = [
    # (base, html, expected [(url, anchor)...], expected media [...], title)
    ("http://www.nutch.org",
     '<html><head><title> title </title><script> script </script>'
     '</head><body> body <a href="http://www.nutch.org">'
     ' anchor </a><!--comment--></body></html>',
     [("http://www.nutch.org", "anchor")], [], "title"),
    ("http://www.nutch.org/docs/foo.html",
     '<html><head><title> title </title><script> script </script>'
     '</head><body> body <a href="/"> home </a><!--comment-->'
     '<style> style </style> <a href="bot.html"> bots </a></body></html>',
     [("http://www.nutch.org/", "home"),
      ("http://www.nutch.org/docs/bot.html", "bots")], [], "title"),
    ("http://www.nutch.org/docs/",
     '<html><head><title> </title></head><body> '
     '<a href="/"> separate this <a href="ok"> from this</a></a></body></html>',
     [("http://www.nutch.org/", "separate this"),
      ("http://www.nutch.org/docs/ok", "from this")], [], ""),
    ("http://www.nutch.org/docs/",
     '<html><head><title> my title </title></head><body> body <ul>'
     '<li> <a href="/"> home<li> <a href="1"> 1<li> <a href="2"> 2</ul>'
     '</body></html>',
     [("http://www.nutch.org/", "home"),
      ("http://www.nutch.org/docs/1", "1"),
      ("http://www.nutch.org/docs/2", "2")], [], "my title"),
    ("http://www.nutch.org/frames/",
     '<html><head><title> my title </title></head><frameset rows="20,*"> '
     '<frame src="top.html"></frame><frameset cols="20,*">'
     '<frame src="left.html"><frame src="invalid.html"/></frame>'
     '<frame src="right.html"></frame></frameset></frameset></body></html>',
     [("http://www.nutch.org/frames/top.html", ""),
      ("http://www.nutch.org/frames/left.html", ""),
      ("http://www.nutch.org/frames/invalid.html", ""),
      ("http://www.nutch.org/frames/right.html", "")], [], "my title"),
    ("http://www.nutch.org/maps/",
     '<html><head><title> my title </title></head><body>'
     '<img src="logo.gif" usemap="#green" border="0"><map name="green">'
     '<area shape="polygon" coords="19,44,45,11,87" href="../index.html">'
     '<area shape="rect" coords="128,132,241,179" href="#bottom">'
     '<area shape="circle" coords="68,211,35" href="../bot.html"></map>'
     '<a name="bottom"/><h1> the bottom </h1> '
     '<iframe src="../docs/index.html"/></body></html>',
     [("http://www.nutch.org/index.html", ""),
      ("http://www.nutch.org/maps/#bottom", ""),
      ("http://www.nutch.org/bot.html", ""),
      ("http://www.nutch.org/docs/index.html", "")],
     ["http://www.nutch.org/maps/logo.gif"], "my title"),
    ("http://www.nutch.org/whitespace/",
     '<html><head>\n <title> my\t\n  title\r\n </title>\n </head>\n <body>\n'
     '    <h1> Whitespace\ttest  </h1> \n'
     '\t<a href="../index.html">\n  \twhitespace  test\r\n\t</a>  \t\n'
     '</body></html>',
     [("http://www.nutch.org/index.html", "whitespace test")], [], "my title"),
    ("http://www.nutch.org/",
     '<html><head></head><body>'
     '<a href="http://www.nutch.org" rel="nofollow"> ignore </a>'
     '<a rel="nofollow" href="http://www.nutch.org"> ignore </a>'
     '</body></html>',
     [], [], None),
    ("http://www.nutch.org/",
     "<html><head></head><body>"
     "<form method='POST' action='/search.jsp'><input type=text>"
     "<input type=submit><p>test1</p></form>"
     "<form method='GET' action='/dummy.jsp'><input type=text>"
     "<input type=submit><p>test2</p></form></body></html>",
     [("http://www.nutch.org/dummy.jsp", "test2")], [], None),
    ("http://www.nutch.org/",
     '<html><head><title> title </title></head><body>'
     '<a href=";x">anchor1</a><a href="g;x">anchor2</a>'
     '<a href="g;x?y#s">anchor3</a></body></html>',
     [("http://www.nutch.org/;x", "anchor1"),
      ("http://www.nutch.org/g;x", "anchor2"),
      ("http://www.nutch.org/g;x?y#s", "anchor3")], [], "title"),
    # RFC3986 section 5.4.1 example 7 (the reference's "tricky" case)
    ("http://www.nutch.org/;something",
     '<html><head><title> title </title></head><body>'
     '<a href="g">anchor1</a><a href="g?y#s">anchor2</a>'
     '<a href="?y=1">anchor3</a><a href="?y=1#s">anchor4</a>'
     '<a href="?y=1;somethingelse">anchor5</a></body></html>',
     [("http://www.nutch.org/g", "anchor1"),
      ("http://www.nutch.org/g?y#s", "anchor2"),
      ("http://www.nutch.org/;something?y=1", "anchor3"),
      ("http://www.nutch.org/;something?y=1#s", "anchor4"),
      ("http://www.nutch.org/;something?y=1;somethingelse", "anchor5")],
     [], "title"),
    ("http://www.nutch.org/",
     '<html><head><title> title </title></head><body>'
     '<a href="g"><!--no anchor--></a>'
     '<a href="g1"> <!--whitespace-->  </a>'
     "<a href=\"g2\">  <img src=test.gif alt='bla bla'> </a></body></html>",
     [("http://www.nutch.org/g", ""),
      ("http://www.nutch.org/g1", ""),
      ("http://www.nutch.org/g2", "bla bla")],
     ["http://www.nutch.org/test.gif"], "title"),
]


@pytest.mark.parametrize("base,html,links,media,title",
                         DOM_OUTLINK_CASES)
def test_dom_content_utils_outlinks(base, html, links, media, title):
    import pandas as pd

    from nutch_spark.operators.parse import extract_documents_pdf

    row = extract_documents_pdf(
        pd.DataFrame({"url": [base], "content": [html]})).iloc[0]
    got_links = [(s["media_ref"], s["text"])
                 for s in row["spans"] if s["kind"] == "link"]
    got_media = [s["media_ref"]
                 for s in row["spans"] if s["kind"] == "media"]
    assert got_links == links
    assert got_media == media
    assert row["title"] == title


def test_dom_form_use_action_off():
    """parser.html.form.use_action=false drops form-action outlinks."""
    import pandas as pd

    from nutch_spark.operators.parse import extract_documents_pdf

    base, html = DOM_OUTLINK_CASES[8][:2]
    row = extract_documents_pdf(
        pd.DataFrame({"url": [base], "content": [html]}),
        form_use_action=False).iloc[0]
    assert [s for s in row["spans"] if s["kind"] == "link"] == []


def test_dom_outlinks_ignore_tags():
    """parser.html.outlinks.ignore_tags removes that tag's links but the
    walk still descends into its subtree (DOMContentUtils.java:138-142)."""
    import pandas as pd

    from nutch_spark.operators.parse import extract_documents_pdf

    base, html = DOM_OUTLINK_CASES[11][:2]  # anchors with a nested img
    row = extract_documents_pdf(
        pd.DataFrame({"url": [base], "content": [html]}),
        ignore_tags=("a",)).iloc[0]
    assert [s for s in row["spans"] if s["kind"] == "link"] == []
    assert [s["media_ref"] for s in row["spans"] if s["kind"] == "media"] == \
        ["http://www.nutch.org/test.gif"]


# TestCCParseFilter.testPages (plugin/creativecommons test, :37-48) over
# the plugin's real data files (data/{anchor,rel,rdf}.html): expected
# (License-Url, License-Location, Work-Type) triples verbatim.
CC_PAGE_CASES = [
    ("anchor.html",
     ("http://creativecommons.org/licenses/by-nc-sa/1.0", "a", None)),
    ("rel.html",
     ("http://creativecommons.org/licenses/by-nc/2.0", "rel", None)),
    ("rdf.html",
     ("http://creativecommons.org/licenses/by-nc/1.0", "rdf", "text")),
]


@pytest.mark.parametrize("name,expected", CC_PAGE_CASES)
def test_cc_parse_filter_pages(name, expected):
    import os

    path = f"/root/reference/src/plugin/creativecommons/data/{name}"
    if not os.path.exists(path):
        pytest.skip("reference cc data unavailable")
    from nutch_spark.operators.parse import extract_cc_meta

    with open(path, encoding="utf-8", errors="replace") as f:
        content = f.read()
    general: dict = {}
    extract_cc_meta(content, "http://foo.com/", general)
    assert (general.get("license-url"), general.get("license-location"),
            general.get("work-type")) == expected


def test_feed_parser_rsstest_sample():
    """TestFeedParser.testParseFetchChannel (plugin/feed test, :91-135)
    over the plugin's real sample (sample/rsstest.rss): exactly 3 parse
    entries — the two item links plus the feed URL itself."""
    import os

    path = "/root/reference/src/plugin/feed/sample/rsstest.rss"
    if not os.path.exists(path):
        pytest.skip("reference feed sample unavailable")
    import pandas as pd

    from nutch_spark.operators.feedparse import _feed_pdf

    with open(path) as f:
        content = f.read()
    url = "file:/sample/rsstest.rss"
    res = _feed_pdf(pd.DataFrame({"url": [url], "content": [content]}))
    assert set(res["doc_id"]) == {
        "http://www-scf.usc.edu/~mattmann/", "http://www.nutch.org/", url}
    assert len(res) == 3


# TestSpellCheckedMetadata.testGetNormalizedNames (:53-70)
@pytest.mark.parametrize("raw,expected", [
    ("Content-Type", "Content-Type"),
    ("ContentType", "Content-Type"),
    ("Content-type", "Content-Type"),
    ("contenttype", "Content-Type"),
    ("contentype", "Content-Type"),
    ("contntype", "Content-Type"),
])
def test_spellchecked_header_names(raw, expected):
    from nutch_spark.functions.content import normalize_header_name

    assert normalize_header_name(raw) == expected


def test_spellchecked_header_unknown_passthrough():
    from nutch_spark.functions.content import normalize_header_name

    assert normalize_header_name("X-Custom-Header") == "X-Custom-Header"


# DOMContentUtils.getText collects text regardless of the enclosing
# element: block text inside a <form> subtree, and block text following an
# UNCLOSED <a> (whose captured inner runs to end-of-document), must still
# yield text spans — a link-only subtree scan silently dropped both.
def test_scan_block_text_inside_form_subtree():
    from nutch_spark.operators.parse import _scan_html

    evs = _scan_html(
        '<form action="http://x/s"><p>inside form</p></form><p>after</p>',
        "http://x/")
    texts = [e["text"] for e in evs
             if isinstance(e, dict) and e["kind"] == "text"]
    assert texts == ["inside form", "after"]


def test_scan_block_text_after_unclosed_anchor():
    from nutch_spark.operators.parse import _scan_html

    evs = _scan_html(
        '<a href="http://x/l">link<p>hello world</p><title>T</title>',
        "http://x/")
    texts = [e["text"] for e in evs
             if isinstance(e, dict) and e["kind"] == "text"]
    assert texts == ["hello world"]
    assert ("title", "T") in evs
    links = [e for e in evs if isinstance(e, dict) and e["kind"] == "link"]
    assert len(links) == 1 and links[0]["media_ref"] == "http://x/l"


# URLUtil.chooseRepr compares getHost() — no port, no userinfo. A netloc
# comparison skipped the same-host fewer-segments rule whenever one side
# carried an explicit :80 or user@.
@pytest.mark.parametrize("src,dst,temp,expected", [
    ("http://example.com/a/b/c", "http://example.com:80/d", True,
     "http://example.com:80/d"),
    ("http://u@example.com/a/b/c", "http://example.com/d", True,
     "http://example.com/d"),
])
def test_choose_repr_host_ignores_port_and_userinfo(src, dst, temp, expected):
    from nutch_spark.functions.urls import choose_repr_url

    assert choose_repr_url(src, dst, temp) == expected
