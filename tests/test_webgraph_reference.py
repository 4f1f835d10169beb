"""Reference-exact webgraph semantics (scoring/webgraph/*):

- OutlinkDb document-order greedy with page/domain limits + internal gates
  (WebGraph.java:330-395) and link.delete.gone (:569);
- LinkRank initial score / rankOne base / inlink dedup / loops filtering
  (LinkRank.java:333,429-440,509-552,625-627);
- ScoreUpdater clear score (ScoreUpdater.java:76,119-131).
"""

from pyspark.sql import functions as F

from nutch_spark import schemas
from nutch_spark.operators.webgraph import (
    build_webgraph, limit_inlinks, linkrank, update_scores,
)
from tests.test_secondary_ops import mk_frontier, mk_parse_data


def _ol(*urls):
    return [{"to_url": u, "anchor": None} for u in urls]


def test_outlinkdb_greedy_doc_order(spark):
    """WebGraph.java:369-391: walking outlinks in document order, keep only
    the first link per target page and per target domain; sets grow only on
    accept; internal-host/domain links are gated out first."""
    pd_ = mk_parse_data(spark, [
        ("http://s.one-a.com/", "t", _ol(
            "http://x.two-b.com/a",       # kept (first two-b.com)
            "http://y.two-b.com/b",       # dropped: domain two-b.com seen
            "http://x.three-c.com/a?q=1", # kept (first three-c.com)
            "http://x.three-c.com/a?q=2", # dropped: page (and domain) seen
            "http://s.one-a.com/self",    # dropped: internal host
            "http://t.one-a.com/u",       # dropped: internal domain
            "http://z.four-d.com/",       # kept
        )),
    ])
    g = build_webgraph(pd_)
    dsts = sorted(r.dst for r in g["edges"].collect())
    assert dsts == ["http://x.three-c.com/a?q=1", "http://x.two-b.com/a",
                    "http://z.four-d.com/"]
    nodes = {r.url: (r.in_deg, r.out_deg) for r in g["nodes"].collect()}
    assert nodes["http://s.one-a.com/"] == (0, 3)

    # limits off: only the internal gates apply
    g2 = build_webgraph(pd_, limit_pages=False, limit_domains=False)
    assert g2["edges"].count() == 5

    # internal gates off too: everything flows
    g3 = build_webgraph(pd_, ignore_internal_host=False,
                        ignore_internal_domain=False,
                        limit_pages=False, limit_domains=False)
    assert g3["edges"].count() == 7

    # page limit alone (domains off): query variants of one page collapse,
    # same-domain different-page links both survive
    g4 = build_webgraph(pd_, ignore_internal_host=False,
                        ignore_internal_domain=False,
                        limit_pages=True, limit_domains=False)
    kept4 = sorted(r.dst for r in g4["edges"].collect())
    assert "http://x.three-c.com/a?q=2" not in kept4
    assert {"http://x.two-b.com/a", "http://y.two-b.com/b"} <= set(kept4)


def test_outlinkdb_delete_gone(spark):
    """WebGraph.java:275-280,569: a src whose fetch status is redirect/gone
    contributes no outlinks when link.delete.gone."""
    pd_ = mk_parse_data(spark, [
        ("http://a-sim.com/", "t", _ol("http://b-sim.com/")),
        ("http://c-sim.com/", "t", _ol("http://d-sim.com/")),
    ])
    fs = spark.createDataFrame(
        [("http://a-sim.com/", schemas.STATUS_FETCH_GONE),
         ("http://c-sim.com/", schemas.STATUS_FETCH_SUCCESS)],
        "url string, status int")
    g = build_webgraph(pd_, fetch_status=fs, delete_gone=True)
    assert [r.src for r in g["edges"].collect()] == ["http://c-sim.com/"]
    # off by default: both srcs contribute
    assert build_webgraph(pd_, fetch_status=fs)["edges"].count() == 2


def test_limit_inlinks_greedy_matches_python(spark):
    """LinkRank.java:509-545 vs a pure-Python greedy over the same
    src-ascending order."""
    rows = [
        # dst D1: three srcs from two domains -> first per domain counted
        ("http://a.redsite-sim.com/1", "http://dst-sim.com/D1"),
        ("http://b.redsite-sim.com/2", "http://dst-sim.com/D1"),
        ("http://c.bluesite-sim.com/3", "http://dst-sim.com/D1"),
        # dst D2: query variants of one page (same page, same domain)
        ("http://p.greensite-sim.com/x?v=1", "http://dst-sim.com/D2"),
        ("http://p.greensite-sim.com/x?v=2", "http://dst-sim.com/D2"),
        ("http://q.greensite-sim.com/y", "http://dst-sim.com/D2"),
    ]
    edges = spark.createDataFrame(rows, "src string, dst string")

    def py_greedy(rows, limit_pages=True, limit_domains=True):
        from nutch_spark.functions.urls import registered_domain
        from urllib.parse import urlparse
        by_dst: dict = {}
        for src, dst in sorted(rows):
            by_dst.setdefault(dst, []).append(src)
        kept = set()
        for dst, srcs in by_dst.items():
            pages, doms = set(), set()
            for src in srcs:
                page = src.lower().split("?", 1)[0]
                dom = registered_domain(urlparse(src).hostname)
                if limit_pages and page in pages:
                    continue
                if limit_domains and dom in doms:
                    continue
                kept.add((src, dst))
                pages.add(page)
                doms.add(dom)
        return kept

    got = {(r.src, r.dst) for r in limit_inlinks(edges).collect()}
    assert got == py_greedy(rows)
    # D1 keeps a.redsite (first of redsite) + c.bluesite; D2 keeps the first
    # greensite page only (domain dedup collapses q.greensite too)
    assert got == {
        ("http://a.redsite-sim.com/1", "http://dst-sim.com/D1"),
        ("http://c.bluesite-sim.com/3", "http://dst-sim.com/D1"),
        ("http://p.greensite-sim.com/x?v=1", "http://dst-sim.com/D2"),
    }

    # pages-only mode: same-page variants collapse, same-domain different
    # pages both count
    got_p = {(r.src, r.dst) for r in
             limit_inlinks(edges, limit_pages=True, limit_domains=False).collect()}
    assert got_p == py_greedy(rows, limit_domains=False)
    assert ("http://q.greensite-sim.com/y", "http://dst-sim.com/D2") in got_p
    assert ("http://p.greensite-sim.com/x?v=2", "http://dst-sim.com/D2") not in got_p


def test_linkrank_reference_formula(spark):
    """Hand-unrolled LinkRank: initial 1.0, rankOne = 1/N seeds every node's
    inlink sum, score = (1-d) + d*(rankOne + sum(share))."""
    edges = spark.createDataFrame(
        [("http://a.one-sim.com/", "http://b.two-sim.com/"),
         ("http://b.two-sim.com/", "http://c.three-sim.com/")],
        "src string, dst string")
    nodes = spark.createDataFrame(
        [("http://a.one-sim.com/",), ("http://b.two-sim.com/",),
         ("http://c.three-sim.com/",)], "url string")
    d, n = 0.85, 3
    r1 = 1.0 / n
    # iteration 1 by hand (all ranks start at 1.0, out_deg all 1)
    expect = {
        "http://a.one-sim.com/": (1 - d) + d * (r1 + 0.0),
        "http://b.two-sim.com/": (1 - d) + d * (r1 + 1.0),
        "http://c.three-sim.com/": (1 - d) + d * (r1 + 1.0),
    }
    got = {r.url: r.rank for r in
           linkrank(edges, nodes, iterations=1, damping=d).collect()}
    for u, v in expect.items():
        assert abs(got[u] - v) < 1e-12, u


def test_linkrank_loops_filter_keeps_divisor(spark):
    """LinkRank.java:429-440: loop-set outlinks contribute nothing, but the
    src's numOutlinks divisor stays the FULL out-degree."""
    edges = spark.createDataFrame(
        [("http://a.one-sim.com/", "http://b.two-sim.com/"),
         ("http://a.one-sim.com/", "http://c.three-sim.com/")],
        "src string, dst string")
    nodes = spark.createDataFrame(
        [("http://a.one-sim.com/",), ("http://b.two-sim.com/",),
         ("http://c.three-sim.com/",)], "url string")
    loops = spark.createDataFrame(
        [("http://a.one-sim.com/", ["http://b.two-sim.com/"])],
        "url string, loop_set array<string>")
    d, n = 0.85, 3
    r1 = 1.0 / n
    got = {r.url: r.rank for r in
           linkrank(edges, nodes, iterations=1, damping=d,
                    loops=loops).collect()}
    # b gets nothing (loop edge removed); c gets 1.0/2 (divisor still 2)
    assert abs(got["http://b.two-sim.com/"] - ((1 - d) + d * r1)) < 1e-12
    assert abs(got["http://c.three-sim.com/"] - ((1 - d) + d * (r1 + 0.5))) < 1e-12


def test_update_scores_clear_score(spark):
    """ScoreUpdater.java:119-131: url missing from the node db -> score is
    RESET to clear_score, not preserved."""
    f = mk_frontier(spark, [
        ("http://in-sim.com/", "in-sim.com", 1, 0, 5.0),
        ("http://out-sim.com/", "out-sim.com", 1, 0, 5.0),
    ])
    rank = spark.createDataFrame([("http://in-sim.com/", 2.5)],
                                 "url string, rank double")
    got = {r.url: r.score for r in update_scores(f, rank).collect()}
    assert abs(got["http://in-sim.com/"] - 2.5) < 1e-6
    assert got["http://out-sim.com/"] == 0.0
    got2 = {r.url: r.score for r in
            update_scores(f, rank, clear_score=1.25).collect()}
    assert got2["http://out-sim.com/"] == 1.25


def test_reliable_checkpoint_knob_preserves_results(spark, tmp_path):
    """With spark.nutch_spark.checkpoint.dir set, every iterative lineage
    cut (linkrank, find_loops, duplicate_clusters) uses RELIABLE
    checkpoint() against the dir instead of executor-stored
    localCheckpoint — same results, and checkpoint files actually land on
    disk (what survives an executor loss on a real cluster). Once their
    DataFrames are garbage-collected the checkpoints are deleted again
    (spark.cleaner.referenceTracking.cleanCheckpoints), so the dir does
    not grow per iteration."""
    import gc
    import glob
    import os
    import time

    from pyspark.sql import functions as F

    from nutch_spark.checkpoints import CHECKPOINT_DIR_CONF
    from nutch_spark.operators.dedup import duplicate_clusters
    from nutch_spark.operators.webgraph import find_loops, linkrank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")], "src string, dst string")
    nodes = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], "url string")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (9, 10)], "a long, b long")

    def snapshot():
        lr = {(r.url, round(r.rank, 6)) for r in
              linkrank(edges, nodes, iterations=3).collect()}
        lo = {(r.url, tuple(r.loop_set)) for r in
              find_loops(edges, depth=2).collect()}
        cl = {(r.doc_id, r.component) for r in duplicate_clusters(pairs).collect()}
        return lr, lo, cl

    base = snapshot()
    ckdir = str(tmp_path / "ck")
    spark.conf.set(CHECKPOINT_DIR_CONF, ckdir)
    try:
        reliable = snapshot()
        # the knob really switched modes: reliable checkpoint wrote files
        found = any(files for _, _, files in os.walk(ckdir))
        assert found, "no checkpoint files written under the configured dir"

        def n_rdd_dirs():
            return len(glob.glob(os.path.join(ckdir, "*", "rdd-*")))

        before = n_rdd_dirs()
        deadline = time.time() + 60
        while n_rdd_dirs() >= before and time.time() < deadline:
            gc.collect()
            spark.sparkContext._jvm.java.lang.System.gc()
            time.sleep(0.5)
        assert n_rdd_dirs() < before, "checkpoint dirs never cleaned"
    finally:
        spark.conf.unset(CHECKPOINT_DIR_CONF)
    assert reliable == base
