"""Config knobs wired to reference behavior: http.robots.agents precedence,
http.robots.403.allow, SignatureFactory impl selection, generate.update.crawldb,
fetcher.store.content / fetcher.parse gates."""

from pyspark.sql import functions as F

from nutch_spark import schemas as S
from nutch_spark.config import CrawlConfig
from nutch_spark.operators.fetch import select_robots_rules


def _robots_df(spark, rows, with_status=False):
    schema = ("host string, agent string, disallow array<string>, "
              "allow array<string>, crawl_delay double")
    if with_status:
        schema += ", status int"
    return spark.createDataFrame(rows, schema)


def test_robots_agent_precedence(spark):
    """RobotRulesParser.java:227-252,316-330: stanza whose agent matches the
    http.robots.agents list at the LOWEST index wins; '*' is the implicit
    last fallback; non-matching stanzas are ignored."""
    rows = [
        # host a: named stanza beats wildcard
        ("a.com", "nutch-spark", ["/private/"], [], 1.0),
        ("a.com", "*", ["/"], [], 9.0),
        # host b: only wildcard
        ("b.com", "*", ["/w/"], [], None),
        # host c: second-choice agent beats wildcard; unknown agent ignored
        ("c.com", "other-bot", ["/o/"], [], 2.0),
        ("c.com", "evil-bot", ["/"], [], None),
        ("c.com", "*", ["/w/"], [], 5.0),
    ]
    cfg = CrawlConfig(robots_agent="nutch-spark, other-bot")
    rb = {r["host"]: r for r in
          select_robots_rules(_robots_df(spark, rows), cfg).collect()}
    assert rb["a.com"]["rb_disallow"] == ["/private/"]
    assert rb["a.com"]["crawl_delay"] == 1.0
    assert rb["b.com"]["rb_disallow"] == ["/w/"]
    assert rb["c.com"]["rb_disallow"] == ["/o/"]
    assert rb["c.com"]["crawl_delay"] == 2.0
    # case-insensitive agent match (setRobotNames lowercases)
    rows2 = [("d.com", "Nutch-Spark", ["/x/"], [], None),
             ("d.com", "*", ["/"], [], None)]
    rb2 = select_robots_rules(_robots_df(spark, rows2), cfg).collect()[0]
    assert rb2["rb_disallow"] == ["/x/"]


def test_robots_403_forbid_all(spark):
    """RobotRulesParser.java:222,470-471: 403 on robots.txt -> FORBID_ALL
    when http.robots.403.allow=false, EMPTY_RULES (row dropped) when
    allow=true. The shipped conf/nutch-default.xml sets allow=true (the
    code fallback false never applies in a deployment), so the engine
    default is allow -> forbid_all=False."""
    rows = [("f.com", "*", [], [], None, 403),
            ("ok.com", "*", ["/p/"], [], None, 200)]
    df = _robots_df(spark, rows, with_status=True)

    forbid = {r["host"]: r for r in select_robots_rules(
        df, CrawlConfig(robots_403_forbid_all=True)).collect()}
    assert forbid["f.com"]["rb_disallow"] == ["/"]          # forbid-all stanza
    assert forbid["ok.com"]["rb_disallow"] == ["/p/"]       # untouched

    allow = {r["host"]: r for r in select_robots_rules(
        df, CrawlConfig()).collect()}  # default = shipped-conf allow
    assert "f.com" not in allow                              # EMPTY_RULES
    assert allow["ok.com"]["rb_disallow"] == ["/p/"]

    # no status column -> knob inert, rules pass through
    plain = select_robots_rules(
        _robots_df(spark, [("p.com", "*", ["/q/"], [], None)]),
        CrawlConfig()).collect()[0]
    assert plain["rb_disallow"] == ["/q/"]


def test_signature_impl_text_profile(spark):
    """SignatureFactory selection: text_profile recomputes the parse-text
    profile digest (TextProfileSignature.java:40-170); pages with no text
    fall back to the content MD5 (:64-72) — here the fetch signature."""
    from nutch_spark.functions.signatures import text_profile_signature
    from nutch_spark.operators.parse import run_parse
    from tests.test_meta_directives import _fetch_ok

    page = "http://h000.example.com/sig.html"
    empty = "http://h000.example.com/empty.html"
    html = "<html><body><p>alpha beta alpha gamma delta words</p></body></html>"
    raw = spark.createDataFrame(
        [(page, "h000.example.com", html, "text/html", page),
         (empty, "h000.example.com", "<html><body></body></html>",
          "text/html", empty)],
        "url string, host string, content string, content_type string, "
        "base_url string")
    fetch_out = _fetch_ok(spark, [page, empty])

    def sigs(cfg):
        parsed = run_parse(fetch_out, raw, cfg)
        rows = {r.url: r.signature for r in parsed["parse_updates"].filter(
            F.col("kind") == S.STATUS_SIGNATURE).collect()}
        parsed["docs_nested"].unpersist()
        parsed["links"].unpersist()
        return rows

    md5 = sigs(CrawlConfig())
    assert md5[page] == "aa"  # fetch-side content digest passes through

    tp = sigs(CrawlConfig(signature_impl="text_profile"))
    assert tp[page] == text_profile_signature("alpha beta alpha gamma delta words")
    assert tp[page] != "aa"
    assert tp[empty] == "aa"  # no text -> MD5 fallback


def test_fetcher_parse_gate_in_followup(spark, corpus_tables):
    """Fetcher.java:1065: fetcher.parse=false means no in-fetch parse, so
    no outlink following regardless of follow.outlinks.depth."""
    from nutch_spark.operators.followup import fetch_with_outlink_following
    from nutch_spark.operators.generate import generate
    from nutch_spark.operators.inject import inject

    cfg = CrawlConfig(num_partitions=4, topn=50, fetcher_parse=False,
                      follow_outlinks_depth=2)
    frontier = inject(None, corpus_tables["seeds"], cfg, 0)
    fl = generate(frontier, cfg, 10_000_000_000)
    res = fetch_with_outlink_following(
        fl, corpus_tables["web_graph"], corpus_tables["robots"],
        corpus_tables["raw_content"], cfg, 0, 0)
    try:
        assert res["parsed_by_depth"] == []
        n_seed = fl.count()
        assert res["fetch_out"].count() >= n_seed  # no extra depths queued
        assert res["fetch_out"].select("url").distinct().count() <= n_seed
    finally:
        res["cleanup"]()


def test_store_content_gate_and_gen_update_crawldb(spark, corpus_tables, tmp_path):
    """fetcher.store.content=false + fetcher.parse=false -> the cycle's
    parse stage sees no content (0 docs, no outlinks); generate.update.crawldb
    stamps _ngt_ on generated rows so unfetched ones keep it after updatedb
    while fetched rows shed it (CrawlDbReducer.java:293)."""
    from nutch_spark.operators.generate import GENERATE_TIME_KEY
    from nutch_spark.plans.crawl_cycle import crawl

    cfg = CrawlConfig(num_partitions=4, topn=500, fetcher_store_content=False,
                      gen_update_crawldb=True)
    res = crawl(spark, str(tmp_path / "cat"), cfg, corpus_tables["seeds"],
                corpus_tables["web_graph"], corpus_tables["robots"],
                corpus_tables["raw_content"], depth=1)
    assert res[0].fetched > 0
    assert res[0].parsed == 0                 # no content -> no parse output
    assert res[0].new_urls <= 0 or res[0].frontier_size == res[0].generated

    # frontier after the cycle: every fetched row shed _ngt_; the flag's
    # write-back path ran (the merge saw the stamped frontier)
    from nutch_spark.storage import Catalog
    front = Catalog(str(tmp_path / "cat")).table("frontier").read(spark)
    fetched = front.filter(F.col("status") != S.STATUS_DB_UNFETCHED)
    stamped = fetched.filter(
        F.col("metadata").isNotNull()
        & F.map_contains_key(F.col("metadata"), GENERATE_TIME_KEY))
    assert stamped.count() == 0


def _idx_fixture(spark):
    from nutch_spark import schemas as S
    frontier = spark.createDataFrame(
        [("http://x.a-sim.com/a", S.STATUS_DB_FETCHED, 4.0, 0, "s1", None),
         ("http://x.a-sim.com/nm", S.STATUS_DB_NOTMODIFIED, 1.0, 0, "s2", None),
         ("http://x.a-sim.com/r", S.STATUS_DB_FETCHED, 1.0, 0, "s3",
          "http://canon.b-sim.com/r")],
        "url string, status int, score float, fetch_time long, "
        "signature string, repr_url string")
    fetch_out = frontier.select(
        "url", F.lit(S.STATUS_FETCH_SUCCESS).alias("fetch_status"),
        F.lit(5).cast("long").alias("fetch_ts"),
        F.lit(10).cast("long").alias("content_length"))
    ptext = frontier.select("url", F.lit("x" * 300).alias("text"))
    pdata = frontier.select(
        "url",
        F.when(F.col("url").endswith("/nm"), F.lit(""))
        .otherwise(F.lit("T" * 150)).alias("title"),
        F.lit(None).cast("map<string,string>").alias("meta"))
    return frontier, fetch_out, ptext, pdata


def test_indexer_basic_knobs(spark):
    """BasicIndexingFilter.java:55-115: title truncated to
    indexer.max.title.length (100) and dropped when empty; content capped by
    indexer.max.content.length; `domain` only with indexer.add.domain;
    url/host/domain come from repr_url when set. IndexerMapReduce.java:244:
    DB_NOTMODIFIED indexed unless indexer.skip.notmodified."""
    from nutch_spark.operators.indexer import build_index

    frontier, fetch_out, ptext, pdata = _idx_fixture(spark)
    rows = {r.url: r for r in build_index(
        frontier, fetch_out, ptext, pdata, None, CrawlConfig()).collect()}
    # default: notmodified indexed, empty title -> null
    assert rows["http://x.a-sim.com/nm"].title is None
    # title truncated at 100, content uncapped, no domain by default
    a = rows["http://x.a-sim.com/a"]
    assert len(a.title) == 100 and len(a.content) == 300 and a.domain is None
    # repr_url drives doc url/host
    assert "http://canon.b-sim.com/r" in rows
    assert rows["http://canon.b-sim.com/r"].host == "canon.b-sim.com"

    cfg2 = CrawlConfig(indexer_skip_notmodified=True, indexer_add_domain=True,
                       indexer_max_content_length=7,
                       indexer_max_title_length=3)
    rows2 = {r.url: r for r in build_index(
        frontier, fetch_out, ptext, pdata, None, cfg2).collect()}
    assert "http://x.a-sim.com/nm" not in rows2
    a2 = rows2["http://x.a-sim.com/a"]
    assert a2.title == "TTT" and a2.content == "xxxxxxx"
    assert a2.domain == "a-sim.com"
    assert rows2["http://canon.b-sim.com/r"].domain == "b-sim.com"


def test_anchor_deduplicate(spark):
    """AnchorIndexingFilter.java:45,63-75: case-insensitive anchor dedup,
    first occurrence (original casing) wins, order preserved."""
    from nutch_spark.operators.indexer import build_index

    frontier, fetch_out, ptext, pdata = _idx_fixture(spark)
    linkdb = spark.createDataFrame(
        [("http://x.a-sim.com/a",
          [{"from_url": "http://i1-sim.com/", "anchor": "Home"},
           {"from_url": "http://i2-sim.com/", "anchor": "hOmE"},
           {"from_url": "http://i3-sim.com/", "anchor": "About"},
           {"from_url": "http://i4-sim.com/", "anchor": "home"}])],
        "to_url string, inlinks array<struct<from_url:string,anchor:string>>")
    plain = {r.url: r.anchors for r in build_index(
        frontier, fetch_out, ptext, pdata, linkdb, CrawlConfig()).collect()}
    assert plain["http://x.a-sim.com/a"] == ["Home", "hOmE", "About", "home"]
    dedup = {r.url: r.anchors for r in build_index(
        frontier, fetch_out, ptext, pdata, linkdb,
        CrawlConfig(anchor_deduplicate=True)).collect()}
    assert dedup["http://x.a-sim.com/a"] == ["Home", "About"]


def test_text_profile_quant_float32_rounding():
    """TextProfileSignature.java:111: Math.round(maxFreq * QUANT_RATE) is
    floor(x+0.5) in FLOAT32; at maxFreq=250 Java computes quant=3 (2.5f +
    0.5f -> floor 3) while Python's banker's round(2.5) gives 2 — the
    divergence recurs every 200 (450, 650, ...)."""
    import hashlib

    from nutch_spark.functions.signatures import text_profile_signature

    # 250x "alpha" + 7x "beta" -> quant 3: alpha -> 249, beta -> 6
    text = " ".join(["alpha"] * 250 + ["beta"] * 7)
    expected = hashlib.md5(b"alpha 249\nbeta 6").hexdigest()
    assert text_profile_signature(text) == expected
    # knobs: min_token_len=4 drops 4-char 'beta'; quant_rate=0.1 -> quant=25,
    # alpha -> (250//25)*25 = 250
    expected2 = hashlib.md5(b"alpha 250").hexdigest()
    assert text_profile_signature(text, min_token_len=4, quant_rate=0.1) == expected2


def test_gen_max_per_host_alias():
    """Generator.java:142-148: generate.max.per.host feeds generate.max.count
    only when the latter is unset."""
    assert CrawlConfig(gen_max_per_host=5).gen_max_count == 5
    assert CrawlConfig(gen_max_per_host=5, gen_max_count=7).gen_max_count == 7
    assert CrawlConfig().gen_max_count == -1


def test_outlinks_ignore_tags(spark):
    """DOMContentUtils.java:138-142: tags listed in
    parser.html.outlinks.ignore_tags contribute no outlinks ('a' is the
    corpus's only outlink-bearing tag)."""
    from nutch_spark.operators.parse import run_parse
    from tests.test_meta_directives import _fetch_ok

    page = "http://h000.example.com/ig.html"
    html = ('<html><body><p>t</p><a href="http://h001.example.com/x">x</a>'
            "</body></html>")
    raw = spark.createDataFrame(
        [(page, "h000.example.com", html, "text/html", page)],
        "url string, host string, content string, content_type string, "
        "base_url string")
    fetch_out = _fetch_ok(spark, [page])

    def n_outlinks(cfg):
        parsed = run_parse(fetch_out, raw, cfg)
        n = parsed["links"].count()
        parsed["docs_nested"].unpersist()
        parsed["links"].unpersist()
        return n

    assert n_outlinks(CrawlConfig()) == 1
    assert n_outlinks(CrawlConfig(
        parser_html_outlinks_ignore_tags=("a",))) == 0


def test_urlnormalizer_loop_count():
    """URLNormalizers.java:279-293: the whole chain repeats up to loop.count
    times, breaking at a fixpoint. Rule order [b->c, a->b] needs two passes
    to reach 'c' from 'a'."""
    from nutch_spark.functions.normalizers import ScopedNormalizers

    rules = [("/b$", "/c", "/b$", "/c"), ("/a$", "/b", "/a$", "/b")]
    one = ScopedNormalizers({"default": rules})
    two = ScopedNormalizers({"default": rules}, loop_count=2)
    url = "http://x-sim.com/a"
    assert one.normalize(url) == "http://x-sim.com/b"
    assert two.normalize(url) == "http://x-sim.com/c"
    # already-stable url: loop breaks, same output
    assert two.normalize("http://x-sim.com/z") == "http://x-sim.com/z"


def test_urlnormalizer_loop_count_columnar(spark):
    from nutch_spark.functions.normalizers import ScopedNormalizers

    rules = [("/b$", "/c", "/b$", "/c"), ("/a$", "/b", "/a$", "/b")]
    two = ScopedNormalizers({"default": rules}, loop_count=2)
    df = spark.createDataFrame([("http://x-sim.com/a",)], "url string")
    got = df.select(two.post_basic_col(F.col("url")).alias("n")).collect()[0].n
    assert got == "http://x-sim.com/c"


def test_caching_forbidden_policy(spark):
    """HTMLMetaProcessor.java:109-111 + HtmlParser.java:222-226 +
    BasicIndexingFilter.java:99-103: robots meta 'noarchive' -> parse meta
    caching.forbidden = parser.caching.forbidden.policy; the indexer adds
    the `cache` field unless the policy is 'none'."""
    from nutch_spark.operators.indexer import build_index
    from nutch_spark.operators.parse import run_parse
    from tests.test_meta_directives import _fetch_ok

    arch = "http://h000.example.com/c1.html"
    plain = "http://h000.example.com/c2.html"
    html_a = ('<html><head><meta name="robots" content="noarchive"></head>'
              "<body><p>x</p></body></html>")
    html_p = "<html><body><p>y</p></body></html>"
    raw = spark.createDataFrame(
        [(arch, "h000.example.com", html_a, "text/html", arch),
         (plain, "h000.example.com", html_p, "text/html", plain)],
        "url string, host string, content string, content_type string, "
        "base_url string")
    fetch_out = _fetch_ok(spark, [arch, plain])

    def cache_fields(cfg):
        parsed = run_parse(fetch_out, raw, cfg)
        pd_ = parsed["parse_data"]
        frontier = fetch_out.select(
            "url", F.lit(2).alias("status"), F.lit(1.0).alias("score"),
            F.lit(0).cast("long").alias("fetch_time"),
            F.lit("s").alias("signature"))
        fo = fetch_out.select(
            "url", "fetch_status", F.lit(5).cast("long").alias("fetch_ts"),
            F.lit(10).cast("long").alias("content_length"))
        idx = {r.url: r.cache for r in build_index(
            frontier, fo, parsed["parse_text"], pd_, None, cfg).collect()}
        parsed["docs_nested"].unpersist()
        parsed["links"].unpersist()
        return idx

    got = cache_fields(CrawlConfig())
    assert got[arch] == "content" and got[plain] is None
    got_all = cache_fields(CrawlConfig(parser_caching_forbidden_policy="all"))
    assert got_all[arch] == "all"
    got_none = cache_fields(CrawlConfig(parser_caching_forbidden_policy="none"))
    assert got_none[arch] is None  # set in parse meta but never indexed


def test_http_content_limit(spark):
    """http.content.limit (HttpBase): content beyond the limit is capped and
    the record marked truncated; parser.skip.truncated then keeps it out of
    the parse. -1 disables the cap."""
    from nutch_spark.functions.urls import host_col
    from nutch_spark.operators.fetch import run_fetch

    big = "http://big.h-sim.com/"
    small = "http://small.h-sim.com/"
    wg = spark.createDataFrame(
        [{"url": u, "host": h, "status": "ok", "redirect_to": None,
          "outlinks": [], "content_length": cl, "declared_length": cl,
          "signature_seed": i}
         for i, (u, h, cl) in enumerate(
             [(big, "big.h-sim.com", 100_000), (small, "small.h-sim.com", 900)])],
        schema=S.WEB_GRAPH_SCHEMA)
    fl = (spark.createDataFrame([(big,), (small,)], "url string")
          .withColumn("host", host_col(F.col("url")))
          .withColumn("score", F.lit(1.0).cast("float"))
          .withColumn("fetch_interval", F.lit(2592000))
          .withColumn("retries", F.lit(0))
          .withColumn("sort_hash", F.lit(0)))
    robots = spark.createDataFrame([], schema=S.ROBOTS_SCHEMA)

    out = {r.url: r for r in run_fetch(
        fl, wg, robots, CrawlConfig(http_content_limit=4096), 1, 0).collect()}
    assert out[big].truncated and out[big].content_length == 4096
    assert not out[small].truncated and out[small].content_length == 900

    off = {r.url: r for r in run_fetch(
        fl, wg, robots, CrawlConfig(http_content_limit=-1), 1, 0).collect()}
    assert not off[big].truncated and off[big].content_length == 100_000


def test_lang_extraction_knobs(spark):
    """HTMLLanguageParser.java:93-111,313-321: extraction policy order,
    analyze max length, only-certain gating; LanguageIndexingFilter.java:75-80
    'unknown' fallback."""
    from nutch_spark.operators.indexer import build_index

    en_text = "the and is of to in that it was for on are with"
    mixed = "der the"  # one 'de' stopword vote vs one 'en' vote -> tie
    frontier = spark.createDataFrame(
        [("http://l1-sim.com/", 2, 1.0, 0, "s"),
         ("http://l2-sim.com/", 2, 1.0, 0, "s"),
         ("http://l3-sim.com/", 2, 1.0, 0, "s")],
        "url string, status int, score float, fetch_time long, signature string")
    fo = frontier.select(
        "url", F.lit(S.STATUS_FETCH_SUCCESS).alias("fetch_status"),
        F.lit(5).cast("long").alias("fetch_ts"),
        F.lit(10).cast("long").alias("content_length"))
    ptext = spark.createDataFrame(
        [("http://l1-sim.com/", en_text),
         ("http://l2-sim.com/", mixed),
         ("http://l3-sim.com/", en_text)],
        "url string, text string")
    pdata = spark.createDataFrame(
        [("http://l1-sim.com/", "t", None),
         ("http://l2-sim.com/", "t", None),
         ("http://l3-sim.com/", "t", {"content-language": "fr"})],
        "url string, title string, meta map<string,string>")

    def langs(cfg):
        return {r.url: r.lang for r in build_index(
            frontier, fo, ptext, pdata, None, cfg).collect()}

    base = langs(CrawlConfig(index_lang=True))
    assert base["http://l1-sim.com/"] == "en"
    assert base["http://l3-sim.com/"] == "fr"   # declaration wins (detect first)

    # identify-first policy: the n-gram result shadows the declaration
    ident_first = langs(CrawlConfig(
        index_lang=True, lang_extraction_policy=("identify", "detect")))
    assert ident_first["http://l3-sim.com/"] == "en"

    # only-certain: the tied-vote page is uncertain -> unknown
    certain = langs(CrawlConfig(
        index_lang=True, lang_identification_only_certain=True))
    assert certain["http://l2-sim.com/"] == "unknown"
    assert certain["http://l1-sim.com/"] == "en"

    # max length 0: nothing analyzed -> unknown unless declared
    capped = langs(CrawlConfig(index_lang=True, lang_analyze_max_length=0))
    assert capped["http://l1-sim.com/"] == "unknown"
    assert capped["http://l3-sim.com/"] == "fr"

    # detect-only policy: undeclared pages -> unknown
    det_only = langs(CrawlConfig(
        index_lang=True, lang_extraction_policy=("detect",)))
    assert det_only["http://l1-sim.com/"] == "unknown"


def test_more_indexing_type_field(spark):
    """MoreIndexingFilter.addType (MoreIndexingFilter.java:198-257,312):
    cleaned mime + parts, url-extension fallback, mapMimeTypes rewrite,
    indexMimeTypeParts off -> full mime only."""
    from nutch_spark.operators.indexer import build_index

    declared = "http://t1-sim.com/page"
    by_ext = "http://t2-sim.com/doc.pdf"
    neither = "http://t3-sim.com/plain"
    frontier = spark.createDataFrame(
        [(u, 2, 1.0, 0, "s") for u in (declared, by_ext, neither)],
        "url string, status int, score float, fetch_time long, signature string")
    fo = frontier.select(
        "url", F.lit(S.STATUS_FETCH_SUCCESS).alias("fetch_status"),
        F.lit(5).cast("long").alias("fetch_ts"),
        F.lit(10).cast("long").alias("content_length"))
    ptext = frontier.select("url", F.lit("body").alias("text"))
    pdata = spark.createDataFrame(
        [(declared, "t", "Application/XML ; q=1"),
         (by_ext, "t", None), (neither, "t", None)],
        "url string, title string, content_type string")

    def types(cfg):
        return {r.url: r.type for r in build_index(
            frontier, fo, ptext, pdata, None, cfg).collect()}

    got = types(CrawlConfig())
    assert got[declared] == ["application/xml", "application", "xml"]
    assert got[by_ext] == ["application/pdf", "application", "pdf"]
    assert got[neither] is None

    no_parts = types(CrawlConfig(more_index_mime_type_parts=False))
    assert no_parts[declared] == ["application/xml"]

    mapped = types(CrawlConfig(
        more_map_mime_types=(("application/xml", "text/xml"),)))
    assert mapped[declared] == ["text/xml", "text", "xml"]


def test_index_db_md(spark):
    """MetadataIndexer.java:56-63: index.db.md keys come verbatim from the
    crawl-datum metadata; unlisted keys stay out."""
    from nutch_spark.operators.indexer import build_index

    frontier = spark.createDataFrame(
        [{"url": "http://m-sim.com/", "status": 2, "score": 1.0,
          "fetch_time": 0, "signature": "s",
          "metadata": {"distance": "3", "secret": "x"}}],
        "url string, status int, score float, fetch_time long, "
        "signature string, metadata map<string,string>")
    fo = frontier.select(
        "url", F.lit(S.STATUS_FETCH_SUCCESS).alias("fetch_status"),
        F.lit(5).cast("long").alias("fetch_ts"),
        F.lit(10).cast("long").alias("content_length"))
    ptext = frontier.select("url", F.lit("body").alias("text"))
    pdata = frontier.select("url", F.lit("t").alias("title"))

    row = build_index(frontier, fo, ptext, pdata, None,
                      CrawlConfig(index_db_md=("distance",))).collect()[0]
    assert row.db_md == {"distance": "3"}
    off = build_index(frontier, fo, ptext, pdata, None,
                      CrawlConfig()).collect()[0]
    assert off.db_md is None


def test_parse_filter_and_normalize_urls_gates(spark):
    """parse.filter.urls / parse.normalize.urls (ParseOutputFormat.java:
    95-99; ParseSegment.java:231-238 -noFilter/-noNormalize): when off, the
    outlink tail emits targets unfiltered / unnormalized (and the filter
    chain sees exactly what normalization left, like the reference)."""
    from pyspark.sql import types as T

    from nutch_spark.operators.parse import run_parse
    from tests.test_meta_directives import _fetch_ok

    page = "http://h000.example.com/p.html"
    html = (
        "<html><body>"
        '<a href="http://h000.example.com//a//b.html">needs-normalize</a>'
        '<a href="http://h000.example.com/x.jpeg">filtered-suffix</a>'
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

    def targets(cfg):
        parsed = run_parse(fetch_out, raw, cfg)
        rows = sorted(r.to_url for r in parsed["links"].collect())
        parsed["docs_nested"].unpersist()
        parsed["links"].unpersist()
        return rows

    # defaults: path slashes collapsed by the normalizer; .jpeg target
    # rejected by the default suffix rule
    assert targets(CrawlConfig()) == ["http://h000.example.com/a/b.html"]
    # -noFilter: the .jpeg target survives (still normalized)
    assert targets(CrawlConfig(parse_filter_urls=False)) == [
        "http://h000.example.com/a/b.html",
        "http://h000.example.com/x.jpeg",
    ]
    # -noNormalize: the doubled-slash target passes through un-normalized
    # (the filter chain still accepts it — it sees the raw form)
    got = targets(CrawlConfig(parse_normalize_urls=False))
    assert "http://h000.example.com//a//b.html" in got
    assert "http://h000.example.com/a/b.html" not in got


def test_robots_403_forbid_all_survives_agent_mismatch(spark):
    """A 403 row whose stanza agent matches neither http.robots.agents nor
    '*' must still forbid the host: the 403 means the robots FETCH failed,
    so getForbidAllRules applies host-wide regardless of agent. The
    rewrite used to keep the original agent, and the precedence filter
    dropped the row — crawling the 403 host unrestricted."""
    rows = [("f.com", "otherbot", [], [], None, 403),
            ("ok.com", "*", ["/p/"], [], None, 200)]
    df = _robots_df(spark, rows, with_status=True)
    rb = {r["host"]: r for r in select_robots_rules(
        df, CrawlConfig(robots_403_forbid_all=True,
                        robots_agent="nutch-spark")).collect()}
    assert rb["f.com"]["rb_disallow"] == ["/"]


def test_byip_without_resolver_warns_and_falls_back(spark):
    """byIP partition/queue modes need an injectable (host, ip) resolver
    table; without one they fall back to byHost — but must WARN instead of
    silently dropping the politeness grouping the knob asks for."""
    import warnings

    from nutch_spark.operators.generate import generate

    frontier = spark.createDataFrame(
        [("http://a.com/", "a.com", 1, 0, 0, 86400, 1.0, None, 0, None)],
        "url string, host string, status int, fetch_time long, retries int, "
        "fetch_interval long, score float, signature string, "
        "modified_time long, metadata map<string,string>",
    )
    cfg = CrawlConfig(partition_mode="byIP")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        generate(frontier, cfg, cur_time_ms=10_000)
    assert any("byIP" in str(x.message) for x in w)


def test_crawldriver_threads_resolver(tmp_path, spark):
    """CrawlDriver exposes resolver= and passes it to generate/run_fetch —
    without the parameter the byIP knobs were unreachable from the real
    crawl plan (silent byHost degrade)."""
    import inspect

    from nutch_spark.plans.crawl_cycle import CrawlDriver

    assert "resolver" in inspect.signature(CrawlDriver.__init__).parameters


def test_urlnormalizer_loop_count_chain(spark):
    """urlnormalizer.loop.count wires through normalizers_for_loop_count:
    a rule chain needing two passes reaches the fixpoint only with
    loop_count >= 2 (URLNormalizers.java:279-293)."""
    from nutch_spark.functions.normalizers import (
        normalizers_for_loop_count,
    )

    ns1 = normalizers_for_loop_count(1)
    ns2 = normalizers_for_loop_count(2)
    assert ns1.loop_count == 1 and ns2.loop_count == 2
    assert normalizers_for_loop_count(2) is ns2  # cached per count


def test_urlnormalizer_loop_count_reaches_every_entry_point(spark, tmp_path):
    """Every crawl entry point that normalizes a URL (inject, outlinks,
    redirect targets, ARC import) passes cfg.urlnormalizer_loop_count to
    the chain: the default rules turn '?&&x' into '?&x' on one pass and
    into '?x' on two, and the URL filter accepts both."""
    from nutch_spark.operators.fetch import build_redirect_chains
    from nutch_spark.operators.inject import prepare_seeds
    from nutch_spark.operators.parse import run_parse
    from nutch_spark.sources.arc import arc_to_segment, read_arc, write_arc_file
    from tests.test_meta_directives import _fetch_ok

    target = "http://h001.example.com/p?&&x"
    page = "http://h000.example.com/a.html"
    seeds = spark.createDataFrame([(target, None)], S.SEEDS_SCHEMA)
    raw = spark.createDataFrame(
        [(page, "h000.example.com",
          f'<html><body><p>t</p><a href="{target}">x</a></body></html>',
          "text/html", page)],
        "url string, host string, content string, content_type string, "
        "base_url string")
    fetch_out = _fetch_ok(spark, [page])
    redirect = spark.createDataFrame(
        [(page, "redir_perm", target)],
        "url string, page_status string, redirect_to string")
    wg = redirect.select(
        "*", F.lit(0).alias("content_length"), F.lit(0).alias("declared_length"),
        F.lit(0).cast("long").alias("signature_seed"))
    rb = select_robots_rules(
        _robots_df(spark, [("h001.example.com", "*", [], [], None)]), CrawlConfig())
    write_arc_file(str(tmp_path / "t.arc.gz"), [{"url": target, "content": "<p>t</p>"}])
    records = read_arc(spark, str(tmp_path / "*.arc.gz"))

    def entry_point_urls(cfg):
        parsed = run_parse(fetch_out, raw, cfg)
        outlinks = [r.to_url for r in parsed["links"].collect()]
        parsed["docs_nested"].unpersist()
        chains = build_redirect_chains(redirect, wg, rb, cfg).collect()
        return {
            "inject": [r.url for r in prepare_seeds(seeds, cfg, 0).collect()],
            "outlink": outlinks,
            "redirect": [c.url for r in chains for c in r.redirect_chain],
            "arc": [r.url for r in arc_to_segment(records, cfg).collect()],
        }

    for loop_count, want in ((1, "http://h001.example.com/p?&x"),
                             (2, "http://h001.example.com/p?x")):
        got = entry_point_urls(CrawlConfig(urlnormalizer_loop_count=loop_count))
        assert got == {k: [want] for k in got}, (loop_count, got)


def test_robots_tied_stanza_crawl_delay_deterministic(spark):
    """Two same-priority stanzas with different Crawl-Delays must resolve
    identically on every run (the virtual fetch schedule derives from the
    delay): the max — most conservative — wins, not an unordered first()."""
    rows = [("h.com", "*", ["/a/"], [], 2.0),
            ("h.com", "*", ["/b/"], [], 7.0)]
    for _ in range(3):
        rb = select_robots_rules(_robots_df(spark, rows), CrawlConfig())
        assert rb.collect()[0]["crawl_delay"] == 7.0
