"""Meta directives (X6/X7) + parse-meta passthrough (X10):
robots noindex/nofollow/none, http-equiv refresh, db.parsemeta.to.crawldb."""

from pyspark.sql import functions as F

from nutch_spark import schemas as S
from nutch_spark.config import CrawlConfig
from nutch_spark.corpus import SyntheticWeb
from nutch_spark.operators.parse import parse_meta_directives, run_parse
from nutch_spark.operators.updatedb import update_frontier


def _meta_urls(n_hosts=8):
    h = f"h{n_hosts - 1:03d}.example.com"
    return {
        "noindex": f"http://{h}/meta/noindex.html",
        "nofollow": f"http://{h}/meta/nofollow.html",
        "none": f"http://{h}/meta/none.html",
        "refresh": f"http://{h}/meta/refresh.html",
        "target": f"http://{h}/meta/target.html",
        "tagged": f"http://{h}/meta/tagged.html",
    }


def _fetch_ok(spark, urls, redirects=None):
    """Fetch rows: successes, or permanent redirects to redirects[url]."""
    redirects = redirects or {}
    rows = [
        {"url": u, "host": "x",
         "fetch_status": (S.STATUS_FETCH_REDIR_PERM if u in redirects
                          else S.STATUS_FETCH_SUCCESS),
         "fetch_ts": 0, "seq": i, "repr_url": None, "signature": "aa",
         "content_length": 1, "truncated": False, "score": 1.0,
         "fetch_interval": 86400, "retries": 0, "partition_id": 0,
         "redirect_to": redirects.get(u), "redirect_temp": None}
        for i, u in enumerate(urls)
    ]
    from tests.test_updatedb import FETCH_COLS
    return spark.createDataFrame(rows, FETCH_COLS)


def test_parse_meta_directives_scalar():
    ni, nf, rt, gen = parse_meta_directives(
        '<html><head><meta name="robots" content="noindex,nofollow">'
        '<meta name="author" content="me"></head><body></body></html>',
        "http://a.com/x",
    )
    assert ni and nf and rt is None and gen["author"] == "me"
    # 'none' sets both (HTMLMetaProcessor.java:85-90)
    ni, nf, _, _ = parse_meta_directives(
        '<head><meta name="robots" content="none"></head>', "http://a.com/")
    assert ni and nf
    # refresh with relative url resolves against the page
    _, _, rt, _ = parse_meta_directives(
        '<head><meta http-equiv="refresh" content="5;url=/next.html"></head>',
        "http://a.com/dir/page.html",
    )
    assert rt == "http://a.com/next.html"
    # unparseable time -> no refresh
    _, _, rt, _ = parse_meta_directives(
        '<head><meta http-equiv="refresh" content="soon;url=/x"></head>',
        "http://a.com/",
    )
    assert rt is None
    # meta under body ignored (reference walk stops at <body>)
    ni, _, _, _ = parse_meta_directives(
        '<head></head><body><meta name="robots" content="noindex"></body>',
        "http://a.com/",
    )
    assert not ni


def test_run_parse_honors_directives(spark):
    web = SyntheticWeb(n_hosts=8, pages_per_host=3, mega_factor=2)
    tables = web.to_spark(spark)
    mu = _meta_urls(8)
    cfg = CrawlConfig(db_parsemeta_to_crawldb=("author",))
    fetch_out = _fetch_ok(spark, list(mu.values()))
    parsed = run_parse(fetch_out, tables["raw_content"], cfg)
    try:
        docs = {r.doc_id: r for r in parsed["docs_nested"].collect()}
        assert docs[mu["noindex"]].noindex and not docs[mu["noindex"]].nofollow
        assert docs[mu["nofollow"]].nofollow and not docs[mu["nofollow"]].noindex
        assert docs[mu["none"]].noindex and docs[mu["none"]].nofollow
        assert docs[mu["refresh"]].refresh_to == mu["target"]
        assert docs[mu["tagged"]].meta["author"] == "sim-bot"

        # nofollow page contributes no outlinks; noindex page still does
        links = parsed["links"].collect()
        from_urls = {r.url for r in links}
        assert mu["nofollow"] not in from_urls
        assert mu["noindex"] in from_urls

        # refresh target becomes a linked row for the next cycle
        linked = parsed["parse_updates"].filter(
            (F.col("kind") == S.STATUS_LINKED) & (F.col("from_url") == mu["refresh"])
        ).collect()
        assert [r.url for r in linked] == [mu["target"]]

        # parse_meta carries only configured keys
        pm = {r.url: r.parse_meta for r in parsed["parse_meta"].collect()}
        assert pm == {mu["tagged"]: {"author": "sim-bot"}}

        # updatedb overlays parse_meta into frontier metadata
        out = update_frontier(None, fetch_out, parsed["parse_updates"], cfg, 0,
                              parse_meta=parsed["parse_meta"]).collect()
        meta = {r.url: r.metadata for r in out}
        assert meta[mu["tagged"]]["author"] == "sim-bot"

        # noindex page excluded from the index, others present
        from nutch_spark.operators.indexer import build_index
        frontier = update_frontier(None, fetch_out, parsed["parse_updates"], cfg, 0)
        idx = build_index(frontier, fetch_out, parsed["parse_text"],
                          parsed["parse_data"], None, cfg)
        idx_urls = {r.url for r in idx.collect()}
        assert mu["noindex"] not in idx_urls and mu["none"] not in idx_urls
        assert mu["nofollow"] in idx_urls and mu["tagged"] in idx_urls
    finally:
        parsed["docs_nested"].unpersist()
        parsed["links"].unpersist()


def test_redirect_and_refresh_targets_normalized_once(spark):
    """Each redirect or meta-refresh target crosses into Python at most
    once: the filters on the normalized target must not be pushed down as
    a second ArrowEvalPython over the same column."""
    web = SyntheticWeb(n_hosts=8, pages_per_host=3, mega_factor=2)
    fetch_out = _fetch_ok(spark, list(_meta_urls(8).values()))
    parsed = run_parse(fetch_out, web.to_spark(spark)["raw_content"], CrawlConfig())
    try:
        plan = parsed["parse_updates"]._jdf.queryExecution().optimizedPlan().toString()
        evals = [line for line in plan.splitlines() if "ArrowEvalPython" in line]
        for col in ("refresh_to", "redirect_to"):
            assert sum(f"{col}#" in e for e in evals) <= 1, evals
    finally:
        parsed["docs_nested"].unpersist()
        parsed["links"].unpersist()


def test_redirect_targets_take_the_fetcher_url_path(spark):
    """A redirect target goes through the fetcher-scope chain and the URL
    filter (handleRedirect, Fetcher.java:963-1024): a rule-rewritten target
    lands normalized, a filter-rejected target and a target equal to its
    source yield no linked row."""
    src = "http://r.example.com/"
    redirects = {src + "a": src + "dir/index.html",  # default-page rule
                 src + "b": src + "logo.png",        # filter: image suffix
                 src + "c": src + "c"}               # same-url stop
    fetch_out = _fetch_ok(spark, list(redirects), redirects)
    web = SyntheticWeb(n_hosts=8, pages_per_host=3, mega_factor=2)
    parsed = run_parse(fetch_out, web.to_spark(spark)["raw_content"], CrawlConfig())
    try:
        linked = parsed["parse_updates"].filter(F.col("kind") == S.STATUS_LINKED)
        assert sorted((r.from_url, r.url) for r in linked.collect()) == [
            (src + "a", src + "dir/")]
    finally:
        parsed["docs_nested"].unpersist()
        parsed["links"].unpersist()


def test_index_static_tld_metatag_fields(spark):
    """I3 leftovers: tld suffix field, metatag.* (lowercased, index.parse.md
    filtered), index-static constants (incl. malformed-entry drop)."""
    from nutch_spark import schemas as S
    from nutch_spark.config import CrawlConfig
    from nutch_spark.operators.indexer import build_index, parse_static_fields

    assert parse_static_fields("a:1, b : x y ,junk,c:d:e") == {"a": "1", "b": "x y"}

    cfg = CrawlConfig(index_parse_md=("metatag.keywords",),
                      index_static="collection:web")
    frontier = spark.createDataFrame(
        [("http://x.example.co.uk/a", S.STATUS_DB_FETCHED, 1.0, 0, "sig1")],
        "url string, status int, score float, fetch_time long, signature string",
    )
    fetch_out = spark.createDataFrame(
        [("http://x.example.co.uk/a", S.STATUS_FETCH_SUCCESS, 5, 10)],
        "url string, fetch_status int, fetch_ts long, content_length long",
    )
    ptext = spark.createDataFrame([("http://x.example.co.uk/a", "body")],
                                  "url string, text string")
    pdata = spark.createDataFrame(
        [("http://x.example.co.uk/a", "t", {"Keywords": "K", "other": "o"})],
        "url string, title string, meta map<string,string>",
    )
    row = build_index(frontier, fetch_out, ptext, pdata, None, cfg).collect()[0]
    assert row.tld == "co.uk"
    assert row.metatags == {"metatag.keywords": "K"}  # lowered + filtered
    assert row.static_fields == {"collection": "web"}


def test_headings_extraction():
    from nutch_spark.operators.parse import extract_heading_reltag_meta

    g = {}
    extract_heading_reltag_meta(
        '<h1>Main <b>bold</b> head</h1><h2> sub </h2><h1>second</h1>', g)
    # first element wins; nested subtree text excluded; UNtrimmed value
    # (HeadingsParseFilter.java:51 discards trim()'s result)
    assert g["heading.h1"] == "Main  head"
    assert g["heading.h2"] == " sub "


def test_headings_empty_value_not_stored():
    from nutch_spark.operators.parse import extract_heading_reltag_meta

    g = {}
    extract_heading_reltag_meta("<h1><b>only nested</b></h1>", g)
    assert "heading.h1" not in g


def test_rel_tags():
    from nutch_spark.operators.parse import extract_heading_reltag_meta

    g = {}
    extract_heading_reltag_meta(
        '<a href="http://x.com/tag/b%20c" rel="tag">t</a>'
        '<a rel="tag" href="http://x.com/tag/a">t</a>'
        '<a href="/relative/tag/z" rel="tag">skipped</a>'  # new URL() throws
        '<a href="http://x.com/tag/a" rel="tag">dup</a>'
        '<a href="http://x.com/plain">no rel</a>', g)
    # sorted unique (TreeSet), url-decoded last path segment
    assert g["rel-tag"] == "a\tb c"


def test_extractor_carries_heading_meta():
    import pandas as pd

    from nutch_spark.operators.parse import extract_documents_pdf

    out = extract_documents_pdf(pd.DataFrame({
        "url": ["http://h.example.com/"],
        "content": ['<title>t</title><h1>Hi</h1>'
                    '<a href="http://x.com/tag/go" rel="tag">g</a>'],
    }))
    meta = out.iloc[0]["meta"]
    assert meta["heading.h1"] == "Hi"
    assert meta["rel-tag"] == "go"


def test_cc_meta_priority_and_rdf():
    from nutch_spark.operators.parse import extract_cc_meta

    # rdf beats rel beats plain anchor (Walker.walk:71-83)
    g = {}
    extract_cc_meta(
        '<a href="http://creativecommons.org/licenses/sa/1.0/">plain</a>'
        '<a href="http://creativecommons.org/licenses/by/2.0/" rel="license">r</a>'
        '<!-- <rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
        ' xmlns:cc="http://web.resource.org/cc/" xmlns:dc="http://purl.org/dc/elements/1.1/">'
        '<cc:Work rdf:about=""><dc:type rdf:resource="http://purl.org/dc/dcmitype/Text"/></cc:Work>'
        '<cc:License rdf:about="http://creativecommons.org/licenses/by-nc/2.0/"/>'
        "</rdf:RDF> -->",
        "http://h.example.com/", g)
    assert g["license-url"] == "http://creativecommons.org/licenses/by-nc/2.0/"
    assert g["license-location"] == "rdf"
    assert g["work-type"] == "text"

    # rel=license wins over a plain anchor; relative href resolves vs base
    g = {}
    extract_cc_meta(
        '<a href="http://creativecommons.org/licenses/sa/1.0/">p</a>'
        '<a href="/licenses/by/2.0/" rel="license">rel</a>',
        "http://creativecommons.org/deed", g)
    assert g["license-url"] == "http://creativecommons.org/licenses/by/2.0/"
    assert g["license-location"] == "rel"

    # bare /licenses/ path is too short; non-CC hosts ignored
    g = {}
    extract_cc_meta(
        '<a href="http://creativecommons.org/licenses/">x</a>'
        '<a href="http://other.com/licenses/by/2.0/">y</a>',
        "http://h.example.com/", g)
    assert "license-url" not in g


def test_opic_count_filtered_divisor(spark):
    """db.score.count.filtered: OPIC divides by the PRE-filter outlink total
    (links.length, ParseOutputFormat.java:255) instead of the surviving
    targets (OPICScoringFilter.java:121-130)."""
    from pyspark.sql import types as T

    page = "http://h000.example.com/p.html"
    html = (
        "<html><body>"
        '<a href="http://h000.example.com/c1.html">one</a>'
        '<a href="http://h000.example.com/c2.html">two</a>'
        '<a href="http://h000.example.com/c1.html">dup</a>'   # deduped
        f'<a href="{page}">self</a>'                          # self-link drop
        "</body></html>"
    )
    raw_schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
        T.StructField("content_type", T.StringType(), False),
        T.StructField("base_url", T.StringType(), False),
    ])
    raw = spark.createDataFrame(
        [{"url": page, "host": "h000.example.com", "content": html,
          "content_type": "text/html", "base_url": page}], raw_schema)
    fetch_out = _fetch_ok(spark, [page])

    def child_scores(cfg):
        parsed = run_parse(fetch_out, raw, cfg)
        rows = parsed["parse_updates"].filter(
            F.col("kind") == S.STATUS_LINKED).collect()
        parsed["docs_nested"].unpersist()
        parsed["links"].unpersist()
        return sorted((r.url, r.score) for r in rows)

    # default: divisor = surviving targets (2 unique non-self outlinks)
    default = child_scores(CrawlConfig())
    assert [u for u, _ in default] == [
        "http://h000.example.com/c1.html", "http://h000.example.com/c2.html"]
    assert all(abs(s - 0.5) < 1e-6 for _, s in default)

    # countFiltered: divisor = raw outlink count (4, incl. dup + self-link)
    filtered = child_scores(CrawlConfig(db_score_count_filtered=True))
    assert [u for u, _ in filtered] == [u for u, _ in default]
    assert all(abs(s - 0.25) < 1e-6 for _, s in filtered)


def test_uppercase_body_bounds_meta_scan():
    """The head cut is case-insensitive (HTMLMetaProcessor.java:55-57):
    a robots meta INSIDE an uppercase <BODY> must not mark the page
    noindex — the old literal '<body' split scanned the whole document."""
    from nutch_spark.operators.parse import parse_meta_directives

    noindex, nofollow, refresh, general = parse_meta_directives(
        '<HTML><HEAD><TITLE>t</TITLE></HEAD><BODY>shown: '
        '<meta name="robots" content="noindex,nofollow"></BODY></HTML>',
        "http://h/")
    assert not noindex and not nofollow

    # and a HEAD meta still applies, whatever the body tag's case
    noindex2, nofollow2, _r, _g = parse_meta_directives(
        '<html><head><meta NAME="ROBOTS" content="noindex"></head>'
        "<BODY>x</BODY></html>", "http://h/")
    assert noindex2


def test_run_parse_duplicate_success_rows_parse_once(spark):
    """fetch_out can carry a url twice with SUCCESS (fetchlist row + an
    in-thread redirect hop on it): the page must parse ONCE — duplicate
    join keys doubled documents/parse_text rows and every linked row
    (updatedb SUMS linked scores, so children got 2x OPIC mass)."""
    web = SyntheticWeb(n_hosts=4, pages_per_host=2, mega_factor=2)
    tables = web.to_spark(spark)
    some = [r.url for r in tables["raw_content"].select("url").limit(2).collect()]
    fetch_out = _fetch_ok(spark, some + [some[0]])  # url 0 twice
    parsed = run_parse(fetch_out, tables["raw_content"], CrawlConfig())
    docs = parsed["documents"].groupBy("doc_id").count().collect()
    assert all(r["count"] == 1 for r in docs), docs
    pt = parsed["parse_text"].groupBy("url").count().collect()
    assert all(r["count"] == 1 for r in pt), pt
