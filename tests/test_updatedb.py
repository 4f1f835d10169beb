"""Table-driven CrawlDbReducer state-transition tests
(crawl/CrawlDbReducer.java:181-283 matrix; FIXTURES.md §6 expected_transitions)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nutch_spark import schemas as S
from nutch_spark.config import CrawlConfig
from nutch_spark.operators.updatedb import update_frontier

T0 = 1_700_000_000_000
FETCH_TS = T0 + 60_000
IV = 30 * 24 * 3600

FETCH_COLS = T.StructType(
    list(S.FETCH_SCHEMA.fields)
    + [T.StructField("redirect_to", T.StringType(), True),
       T.StructField("redirect_temp", T.BooleanType(), True)]
)


def mk_fetch(spark, rows):
    full = [
        {
            "url": r["url"], "host": "a.com",
            "fetch_status": r["fetch_status"], "fetch_ts": FETCH_TS, "seq": i,
            "repr_url": None, "signature": r.get("signature"),
            "content_length": 100, "truncated": False,
            "score": r.get("score", 1.0), "fetch_interval": r.get("fetch_interval", IV),
            "retries": r.get("retries", 0), "partition_id": 0,
            "redirect_to": r.get("redirect_to"), "redirect_temp": None,
        }
        for i, r in enumerate(rows)
    ]
    return spark.createDataFrame(full, FETCH_COLS)


def mk_old(spark, rows):
    full = [
        {
            "url": r["url"], "host": "a.com",
            "status": r.get("status", S.STATUS_DB_UNFETCHED),
            "fetch_time": r.get("fetch_time", T0), "retries": r.get("retries", 0),
            "fetch_interval": r.get("fetch_interval", IV),
            "score": float(r.get("score", 1.0)), "signature": r.get("signature"),
            "modified_time": r.get("modified_time", 0),
            "metadata": r.get("metadata", {}),
        }
        for r in rows
    ]
    return spark.createDataFrame(full, S.FRONTIER_SCHEMA)


def empty_updates(spark):
    return spark.createDataFrame([], S.PARSE_UPDATE_SCHEMA)


# (old_status or None, fetch_status, old_retries, expected_db_status)
TRANSITIONS = [
    (S.STATUS_DB_UNFETCHED, S.STATUS_FETCH_SUCCESS, 0, S.STATUS_DB_FETCHED),
    (S.STATUS_DB_FETCHED, S.STATUS_FETCH_SUCCESS, 0, S.STATUS_DB_NOTMODIFIED),  # same sig
    (S.STATUS_DB_UNFETCHED, S.STATUS_FETCH_NOTMODIFIED, 0, S.STATUS_DB_NOTMODIFIED),
    (S.STATUS_DB_UNFETCHED, S.STATUS_FETCH_REDIR_TEMP, 0, S.STATUS_DB_REDIR_TEMP),
    (S.STATUS_DB_UNFETCHED, S.STATUS_FETCH_REDIR_PERM, 0, S.STATUS_DB_REDIR_PERM),
    (S.STATUS_DB_UNFETCHED, S.STATUS_FETCH_RETRY, 0, S.STATUS_DB_UNFETCHED),
    (S.STATUS_DB_UNFETCHED, S.STATUS_FETCH_RETRY, 2, S.STATUS_DB_GONE),  # retryMax=3
    (S.STATUS_DB_UNFETCHED, S.STATUS_FETCH_GONE, 0, S.STATUS_DB_GONE),
    (None, S.STATUS_FETCH_SUCCESS, 0, S.STATUS_DB_FETCHED),
]


@pytest.mark.parametrize("old_status,fetch_status,old_retries,expect", TRANSITIONS)
def test_transition(spark, old_status, fetch_status, old_retries, expect):
    cfg = CrawlConfig()
    url = "http://a.com/x.html"
    sig = "aa" * 16
    old = (
        mk_old(spark, [{"url": url, "status": old_status, "retries": old_retries,
                        "signature": sig if old_status == S.STATUS_DB_FETCHED else None}])
        if old_status is not None
        else None
    )
    fetch = mk_fetch(spark, [{"url": url, "fetch_status": fetch_status,
                              "signature": sig, "retries": old_retries}])
    out = update_frontier(old, fetch, empty_updates(spark), cfg, T0).collect()
    assert len(out) == 1
    assert out[0].status == expect, S.STATUS_NAMES[out[0].status]


def test_linked_only_becomes_unfetched_with_score(spark):
    """CrawlDbReducer.java:183-198: linked-only URL -> new unfetched row,
    score = sum of inlink scores (OPIC)."""
    cfg = CrawlConfig()
    upd = spark.createDataFrame(
        [
            {"url": "http://new.com/x.html", "kind": S.STATUS_LINKED, "score": 0.25,
             "signature": None, "anchor": "a", "from_url": "http://a.com/1.html"},
            {"url": "http://new.com/x.html", "kind": S.STATUS_LINKED, "score": 0.5,
             "signature": None, "anchor": "b", "from_url": "http://a.com/2.html"},
        ],
        S.PARSE_UPDATE_SCHEMA,
    )
    fetch = mk_fetch(spark, [])
    out = update_frontier(None, fetch, upd, cfg, T0).collect()
    assert len(out) == 1
    r = out[0]
    assert r.status == S.STATUS_DB_UNFETCHED
    assert abs(r.score - 0.75) < 1e-6
    assert r.fetch_time == T0
    assert r.retries == 0


def test_linked_respects_additions_allowed(spark):
    cfg = CrawlConfig(db_update_additions_allowed=False)
    upd = spark.createDataFrame(
        [{"url": "http://new.com/x.html", "kind": S.STATUS_LINKED, "score": 0.25,
          "signature": None, "anchor": "a", "from_url": "http://a.com/1.html"}],
        S.PARSE_UPDATE_SCHEMA,
    )
    out = update_frontier(None, mk_fetch(spark, []), upd, cfg, T0)
    assert out.count() == 0


def test_inlink_cap_top_k(spark):
    """db.update.max.inlinks: only the top-K inlinks by score count."""
    cfg = CrawlConfig(db_update_max_inlinks=2)
    rows = [
        {"url": "http://new.com/x.html", "kind": S.STATUS_LINKED, "score": s,
         "signature": None, "anchor": "a", "from_url": f"http://a.com/{i}.html"}
        for i, s in enumerate([0.1, 0.4, 0.3, 0.2])
    ]
    upd = spark.createDataFrame(rows, S.PARSE_UPDATE_SCHEMA)
    out = update_frontier(None, mk_fetch(spark, []), upd, cfg, T0).collect()
    assert abs(out[0].score - 0.7) < 1e-6  # 0.4 + 0.3


@pytest.mark.parametrize("urlmeta", [False, True], ids=["default", "urlmeta"])
def test_updates_side_is_one_shuffle(spark, tmp_path, urlmeta):
    """updatedb is one co-group, as CrawlDbReducer's one reduce per url:
    every update kind (fetch, signature, linked, and with urlmeta_tags +
    db_parsemeta_to_crawldb also link_meta and parse_meta) is unioned and
    aggregated in one shuffle. Its output is hash-placed on url, so the
    merge with the bucketed frontier needs no further Exchange: one Exchange
    and one SortMergeJoin in the whole plan."""
    from nutch_spark.storage import SnapshotTable

    cfg = CrawlConfig(urlmeta_tags=("dept",) if urlmeta else (),
                      db_parsemeta_to_crawldb=("dept",) if urlmeta else ())
    url, new = "http://a.com/x.html", "http://new.com/x.html"
    t = SnapshotTable(str(tmp_path), "frontier")
    t.install(t.prepare(mk_old(spark, [{"url": url}]), tag="t", bucket_by="url"))
    fetch = mk_fetch(spark, [{"url": url, "fetch_status": S.STATUS_FETCH_SUCCESS}])
    meta = T.MapType(T.StringType(), T.StringType())
    schema = T.StructType(list(S.PARSE_UPDATE_SCHEMA.fields)
                          + ([T.StructField("metadata", meta)] if urlmeta else []))
    rows = [(url, S.STATUS_SIGNATURE, None, "aa" * 16, None, None),
            (new, S.STATUS_LINKED, 0.5, None, "a", url)]
    upd = spark.createDataFrame(
        [r + (({"dept": "x"},) if urlmeta else ()) for r in rows], schema)
    parse_meta = (spark.createDataFrame([(url, {"dept": "y"})],
                                        T.StructType([T.StructField("url", T.StringType()),
                                                      T.StructField("parse_meta", meta)]))
                  if urlmeta else None)
    out = update_frontier(t.read(spark), fetch, upd, cfg, T0, parse_meta=parse_meta)
    got = {r.url: r.metadata for r in out.collect()}
    assert got == ({url: {"dept": "y"}, new: {"dept": "x"}} if urlmeta
                   else {url: {}, new: None})
    final = (out._jdf.queryExecution().executedPlan().toString()
             .split("== Initial Plan ==")[0])
    assert final.count("Exchange") == 1, final
    assert final.count("SortMergeJoin") == 1, final


def test_gone_backoff_and_retry_delay(spark):
    cfg = CrawlConfig()
    old = mk_old(spark, [
        {"url": "http://a.com/g.html", "fetch_interval": 1000},
        {"url": "http://a.com/r.html"},
    ])
    fetch = mk_fetch(spark, [
        {"url": "http://a.com/g.html", "fetch_status": S.STATUS_FETCH_GONE, "fetch_interval": 1000},
        {"url": "http://a.com/r.html", "fetch_status": S.STATUS_FETCH_RETRY},
    ])
    out = {r.url: r for r in update_frontier(old, fetch, empty_updates(spark), cfg, T0).collect()}
    g = out["http://a.com/g.html"]
    assert g.fetch_interval == 1500  # x1.5 backoff (T4)
    r = out["http://a.com/r.html"]
    assert r.retries == 1
    assert r.fetch_time == FETCH_TS + cfg.retry_delay_ms  # +1 day


def test_signature_overlay_and_modified_time(spark):
    """Parse signature beats fetch signature; modified_time set on change."""
    cfg = CrawlConfig()
    url = "http://a.com/x.html"
    old = mk_old(spark, [{"url": url, "status": S.STATUS_DB_FETCHED, "signature": "old"}])
    fetch = mk_fetch(spark, [{"url": url, "fetch_status": S.STATUS_FETCH_SUCCESS,
                              "signature": "fetchsig"}])
    upd = spark.createDataFrame(
        [{"url": url, "kind": S.STATUS_SIGNATURE, "score": None,
          "signature": "parsesig", "anchor": None, "from_url": None}],
        S.PARSE_UPDATE_SCHEMA,
    )
    out = update_frontier(old, fetch, upd, cfg, T0).collect()[0]
    assert out.signature == "parsesig"
    assert out.status == S.STATUS_DB_FETCHED  # sig changed -> modified
    assert out.modified_time == FETCH_TS


def test_old_row_untouched_without_fetch(spark):
    cfg = CrawlConfig()
    old = mk_old(spark, [{"url": "http://a.com/idle.html", "status": S.STATUS_DB_FETCHED,
                          "score": 3.0, "signature": "s"}])
    out = update_frontier(old, mk_fetch(spark, []), empty_updates(spark), cfg, T0).collect()[0]
    assert out.status == S.STATUS_DB_FETCHED
    assert abs(out.score - 3.0) < 1e-6
    assert out.fetch_time == T0


def test_purge_404(spark):
    cfg = CrawlConfig(db_update_purge_404=True)
    old = mk_old(spark, [{"url": "http://a.com/x.html"}])
    fetch = mk_fetch(spark, [{"url": "http://a.com/x.html",
                              "fetch_status": S.STATUS_FETCH_GONE}])
    assert update_frontier(old, fetch, empty_updates(spark), cfg, T0).count() == 0


def test_adaptive_schedule(spark):
    """T2: modified -> interval shrinks; unmodified -> grows; clamped."""
    cfg = CrawlConfig(db_fetch_schedule_adaptive=True)
    url_m, url_u = "http://a.com/m.html", "http://a.com/u.html"
    old = mk_old(spark, [
        {"url": url_m, "status": S.STATUS_DB_FETCHED, "signature": "old", "fetch_interval": 1000},
        {"url": url_u, "status": S.STATUS_DB_FETCHED, "signature": "same", "fetch_interval": 1000},
    ])
    fetch = mk_fetch(spark, [
        {"url": url_m, "fetch_status": S.STATUS_FETCH_SUCCESS, "signature": "new", "fetch_interval": 1000},
        {"url": url_u, "fetch_status": S.STATUS_FETCH_SUCCESS, "signature": "same", "fetch_interval": 1000},
    ])
    out = {r.url: r for r in update_frontier(old, fetch, empty_updates(spark), cfg, T0).collect()}
    assert out[url_m].fetch_interval == 800   # x(1-0.2)
    assert out[url_u].fetch_interval == 1400  # x(1+0.4)


def test_repr_url_carried_in_metadata(spark):
    """C4/R5: chooseRepr result from the fetch stage lands in
    metadata['_repr_'] (util/URLUtil.java:343-449 subset: perm redirect ->
    target; temp redirect -> source unless same-host + shorter)."""
    cfg = CrawlConfig()
    rows = [
        {"url": "http://a.com/old", "fetch_status": S.STATUS_FETCH_REDIR_PERM,
         "redirect_to": "http://a.com/new"},
        {"url": "http://a.com/session/long/path", "fetch_status": S.STATUS_FETCH_REDIR_TEMP,
         "redirect_to": "http://b.com/x"},
    ]
    full = [
        {
            "url": r["url"], "host": "a.com",
            "fetch_status": r["fetch_status"], "fetch_ts": FETCH_TS, "seq": i,
            "repr_url": None, "signature": None,
            "content_length": 100, "truncated": False,
            "score": 1.0, "fetch_interval": IV,
            "retries": 0, "partition_id": 0,
            "redirect_to": r["redirect_to"],
            "redirect_temp": r["fetch_status"] == S.STATUS_FETCH_REDIR_TEMP,
        }
        for i, r in enumerate(rows)
    ]
    # run the chooseRepr logic the way the fetch kernel does
    from nutch_spark.functions.urls import choose_repr_url
    for r in full:
        r["repr_url"] = choose_repr_url(
            r["url"], r["redirect_to"], r["redirect_temp"])
    fetch = spark.createDataFrame(full, FETCH_COLS)
    out = {r.url: r for r in
           update_frontier(None, fetch, empty_updates(spark), cfg, T0).collect()}
    perm = out["http://a.com/old"]
    assert perm.status == S.STATUS_DB_REDIR_PERM
    assert perm.metadata["_repr_"] == "http://a.com/new"  # perm -> target
    temp = out["http://a.com/session/long/path"]
    assert temp.status == S.STATUS_DB_REDIR_TEMP
    # cross-DOMAIN redirect keeps the destination as repr, temp or perm
    # (URLUtil.chooseRepr rule 1, URLUtil.java:368-370)
    assert temp.metadata["_repr_"] == "http://b.com/x"


def test_fetch_kernel_emits_repr_url(spark):
    """The fetch kernel itself fills repr_url on redirect rows (was
    hard-coded None)."""
    from nutch_spark.config import CrawlConfig as CC
    from nutch_spark.corpus import SyntheticWeb
    from nutch_spark.operators.fetch import run_fetch
    from nutch_spark.operators.generate import generate
    from nutch_spark.operators.inject import inject

    cfg = CC(num_partitions=2, topn=5000, fetcher_threads=2,
             fetch_duration_ms=10, fetcher_server_delay_ms=50)
    tables = SyntheticWeb(n_hosts=8, pages_per_host=4, mega_factor=5).to_spark(spark)
    frontier = inject(None, tables["seeds"], cfg, T0)
    fl = generate(frontier, cfg, T0)
    out = run_fetch(fl, tables["web_graph"], tables["robots"], cfg, 1, T0)
    redirs = out.filter(F.col("redirect_to").isNotNull()).collect()
    if redirs:  # corpus plants redirects; every redirect row must carry repr
        assert all(r.repr_url is not None for r in redirs)
        from nutch_spark.functions.urls import choose_repr_url
        for r in redirs:
            assert r.repr_url == choose_repr_url(r.url, r.redirect_to, bool(r.redirect_temp))
    nonredir = out.filter(F.col("redirect_to").isNull()).limit(5).collect()
    assert all(r.repr_url is None for r in nonredir)


def test_adaptive_sync_delta_pulls_toward_change_time(spark):
    """AdaptiveFetchSchedule.java:101-116 SYNC_DELTA: a change observed
    long after it happened replaces the adjusted interval with the delta
    and shifts the reference time back by delta * sync_delta_rate."""
    url = "http://a.com/s.html"
    old_mod = FETCH_TS - 10_000_000  # page last changed 10,000 s ago
    rows_old = [{"url": url, "status": S.STATUS_DB_FETCHED,
                 "signature": "same", "fetch_interval": 1000,
                 "modified_time": old_mod}]
    rows_fetch = [{"url": url, "fetch_status": S.STATUS_FETCH_SUCCESS,
                   "signature": "same", "fetch_interval": 1000}]

    on = CrawlConfig(db_fetch_schedule_adaptive=True, adaptive_sync_delta=True,
                     adaptive_sync_delta_rate=0.3)
    r = update_frontier(mk_old(spark, rows_old), mk_fetch(spark, rows_fetch),
                        empty_updates(spark), on, T0).collect()[0]
    assert r.fetch_interval == 10_000                 # delta wins over x1.4
    assert r.fetch_time == FETCH_TS - 3_000_000 + 10_000_000  # refTime+interval

    off = CrawlConfig(db_fetch_schedule_adaptive=True, adaptive_sync_delta=False)
    r2 = update_frontier(mk_old(spark, rows_old), mk_fetch(spark, rows_fetch),
                         empty_updates(spark), off, T0).collect()[0]
    assert r2.fetch_interval == 1400                  # plain x(1+0.4)
    assert r2.fetch_time == FETCH_TS + 1_400_000


def test_gone_backoff_force_refetch_at_interval_max(spark):
    """setPageGoneSchedule (AbstractFetchSchedule.java:105-112): backoff
    beyond db.fetch.interval.max -> forceRefetch(asap=false): row resets to
    unfetched with interval max*0.9, cleared signature/retries/modified;
    fetch_time keeps the backoff value."""
    cfg = CrawlConfig(db_fetch_interval_max=1200)
    old = mk_old(spark, [{"url": "http://a.com/g.html", "fetch_interval": 1000,
                          "signature": "s", "retries": 2,
                          "modified_time": T0 - 5}])
    fetch = mk_fetch(spark, [{"url": "http://a.com/g.html",
                              "fetch_status": S.STATUS_FETCH_GONE,
                              "fetch_interval": 1000, "retries": 2}])
    r = update_frontier(old, fetch, empty_updates(spark), cfg, T0).collect()[0]
    assert r.status == S.STATUS_DB_UNFETCHED       # not GONE
    assert r.fetch_interval == 1080                # 1200 * 0.9
    assert r.signature is None
    assert r.retries == 0
    assert r.modified_time == 0
    assert r.fetch_time == FETCH_TS + 1500 * 1000  # asap=false keeps backoff


def test_truncated_page_declared_length_and_parse_skip(spark):
    """The corpus's truncated flag (Page.truncated) must over-declare
    declared_length and the F11 gate (parser.skip.truncated,
    ParseSegment.java:149-178) must skip the page — the branch had no
    fixture setting the flag, so it was dead code until this test."""
    from nutch_spark.corpus import SyntheticWeb

    web = SyntheticWeb(n_hosts=3, pages_per_host=2, mega_factor=2)
    ok_pages = [p for p in web.pages.values() if p.status == "ok"]
    victim = min(ok_pages, key=lambda p: p.url)
    victim.truncated = True
    rows = {r["url"]: r for r in web.web_graph_rows()}
    r = rows[victim.url]
    assert r["declared_length"] == r["content_length"] + 1000
    ok_other = rows[max(ok_pages, key=lambda p: p.url).url]
    assert ok_other["declared_length"] == ok_other["content_length"]
