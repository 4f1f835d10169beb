"""Multi-cycle crawl + resume-from-checkpoint (north_rule requirements)."""

import traceback

import pytest
from pyspark.sql import functions as F

from nutch_spark import schemas, storage
from nutch_spark.config import CrawlConfig
from nutch_spark.operators.seen import SketchParams, probe_seen_flags, sketch_params
from nutch_spark.plans.crawl_cycle import (CYCLE_VIRTUAL_MS, T0_DEFAULT,
                                           CrawlDriver, crawl)
from nutch_spark.storage import Catalog


@pytest.fixture()
def cfg():
    return CrawlConfig(num_partitions=4, topn=2000, fetcher_threads=4,
                       fetch_duration_ms=10, fetcher_server_delay_ms=50)


def test_three_cycle_crawl_discovers_web(spark, corpus_tables, cfg, tmp_path):
    res = crawl(
        spark, str(tmp_path / "cat"), cfg,
        corpus_tables["seeds"], corpus_tables["web_graph"],
        corpus_tables["robots"], corpus_tables["raw_content"], depth=3,
    )
    assert len(res) == 3
    # frontier grows monotonically as outlinks are discovered
    assert res[0].frontier_size < res[1].frontier_size <= res[2].frontier_size
    # later cycles fetch newly discovered URLs
    assert res[1].fetched > 0
    cat = Catalog(str(tmp_path / "cat"))
    frontier = cat.table("frontier").read(spark)
    statuses = {r.status for r in frontier.select("status").distinct().collect()}
    assert schemas.STATUS_DB_FETCHED in statuses
    # lineage + metrics tables exist with per-partition/stage rows
    assert cat.table("lineage").read(spark).count() >= 12
    assert cat.table("fetch_metrics").read(spark).count() > 0
    # each sketch is sized for the frontier it covers and covers all of it;
    # the frontier grows 24 -> 88 rows, past at least one capacity boundary
    front_t, sketch_t = cat.table("frontier"), cat.table("seen_sketch")
    params = {}
    for snap in sketch_t.snapshots():
        fsnap = front_t.by_tag(snap.tag)
        sketch = sketch_t.read(spark, snapshot_id=snap.snapshot_id)
        params[snap.tag] = sketch_params(sketch)
        assert params[snap.tag] == SketchParams.for_urls(fsnap.row_count), snap.tag
        # the log entry records the parameters the sketch was built at
        assert SketchParams.from_summary(snap.params) == params[snap.tag], snap.tag
        urls = front_t.read(spark, snapshot_id=fsnap.snapshot_id).select("url")
        misses = probe_seen_flags(urls, sketch).filter(~F.col("maybe_seen")).count()
        assert misses == 0, snap.tag
    assert list(params) == ["inject", "cycle-1", "cycle-2", "cycle-3"]
    assert params["inject"] != params["cycle-3"]


def test_sketch_entry_without_params_rebuilds(spark, corpus_tables, cfg, tmp_path,
                                              monkeypatch):
    """A4 compares the parameters recorded in the base sketch's log entry
    with those the new frontier needs, reading no sketch row. An entry that
    records none (a catalog written before they were recorded) takes the
    rebuild branch, even where the base's parameters would fit, and the
    rebuilt sketch covers the frontier and records its parameters."""
    from nutch_spark.plans import crawl_cycle

    root = str(tmp_path / "cat")
    args = (corpus_tables["seeds"], corpus_tables["web_graph"],
            corpus_tables["robots"], corpus_tables["raw_content"])
    crawl(spark, root, cfg, *args, depth=2)  # cycle 3 keeps this sketch size
    sketch_t = Catalog(root).table("seen_sketch")
    log = sketch_t._load_log()
    recorded = SketchParams.from_summary(log[-1].pop("params"))
    sketch_t._install_log(log)

    calls = []
    for name in ("build_seen_sketch", "update_seen_sketch"):
        real = getattr(crawl_cycle, name)
        monkeypatch.setattr(crawl_cycle, name,
                            lambda *a, _n=name, _f=real: calls.append(_n) or _f(*a))
    CrawlDriver(spark, root, cfg, *args[1:]).run_cycle(3)

    n = Catalog(root).table("frontier").latest().row_count
    assert recorded == SketchParams.for_urls(n)  # an OR would have fit
    assert calls == ["build_seen_sketch"]
    snap = sketch_t.latest()
    assert SketchParams.from_summary(snap.params) == SketchParams.for_urls(n)
    urls = Catalog(root).table("frontier").read(spark).select("url")
    sketch = sketch_t.read(spark, snapshot_id=snap.snapshot_id)
    assert probe_seen_flags(urls, sketch).filter(~F.col("maybe_seen")).count() == 0


def test_resume_from_checkpoint_identical_seen_set(spark, corpus_tables, cfg, tmp_path):
    """Kill after cycle 1, resume, final seen set == uninterrupted run
    (SURVEY §5 resume test). The resume runs under twice the shuffle
    partitions: each frontier snapshot is bucketed at its writing session's
    count, one file per bucket, and the crawl output does not depend on it."""
    import os

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    args = (corpus_tables["seeds"], corpus_tables["web_graph"],
            corpus_tables["robots"], corpus_tables["raw_content"])
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    assert parts == "8"

    crawl(spark, a, cfg, *args, depth=3)                       # uninterrupted

    crawl(spark, b, cfg, *args, depth=1)                       # "killed" after c1
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        resumed = crawl(spark, b, cfg, *args, depth=3)         # resume
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", parts)
    assert [r.cycle for r in resumed] == [2, 3]                # c1 skipped

    snaps = Catalog(b).table("frontier").snapshots()
    assert [(s.tag, s.bucket_n) for s in snaps] == [
        ("inject", 8), ("cycle-1", 8), ("cycle-2", 16), ("cycle-3", 16)]
    for s in snaps:
        files = [f for f in os.listdir(s.path) if f.endswith(".parquet")]
        # bucketed file names end in _<bucket id>.c000...parquet
        buckets = sorted(int(f.split(".")[0].rsplit("_", 1)[1]) for f in files)
        assert buckets == list(range(s.bucket_n)), (s.tag, files)

    def fetch_order(root):
        fs = Catalog(root).table("fetch_status").read(spark)
        return sorted((r.url, r.partition_id, r.seq) for r in fs.collect())

    assert fetch_order(a) == fetch_order(b)

    fa = Catalog(a).table("frontier").read(spark)
    fb = Catalog(b).table("frontier").read(spark)
    sa = {r.url for r in fa.select("url").collect()}
    sb = {r.url for r in fb.select("url").collect()}
    assert sa == sb
    # full row equality, not just the URL set
    cols = ["url", "status", "retries", "fetch_interval", "signature"]
    ra = {tuple(r) for r in fa.select(*cols).collect()}
    rb = {tuple(r) for r in fb.select(*cols).collect()}
    assert ra == rb


def test_crawl_ordering_deterministic(spark, corpus_tables, cfg, tmp_path):
    """Same seed list + politeness budget -> identical fetch order
    (url, partition, seq) across independent runs."""
    def run(root):
        crawl(spark, root, cfg,
              corpus_tables["seeds"], corpus_tables["web_graph"],
              corpus_tables["robots"], corpus_tables["raw_content"], depth=2)
        fs = Catalog(root).table("fetch_status").read(spark)
        return sorted((r.url, r.partition_id, r.seq) for r in fs.collect())

    assert run(str(tmp_path / "r1")) == run(str(tmp_path / "r2"))


# Crash points of the sweep below: the driver-side write that raises, in
# cycle order (A1 fetch append, A2 documents commit, A3 frontier write,
# A4 sketch commit, A5 metrics collect, A6 frontier install).
CRASH_POINTS = (
    ("fetch_t", "append"),              # A1, before any later plan exists
    ("documents_t", "commit"),          # after A1
    ("frontier_t", "prepare"),          # after A1, A2
    ("sketch_t", "commit"),             # after A1-A3, A5
    ("metrics_t", "append_rows"),       # after A4
    ("lineage_t", "append_rows"),       # after the metrics append
    ("frontier_t", "install"),          # after the log appends (window B)
    ("frontier_t", "expire_snapshots"),  # shutil.rmtree raises: cycle installed
)
FRONTIER_COLS = ["url", "status", "retries", "fetch_interval", "signature"]
# table -> measured columns, which differ between any two runs
CATALOG_TABLES = {"frontier": (), "seen_sketch": (), "documents": (),
                  "fetch_status": ("kernel_wall_ms",), "lineage": (),
                  "fetch_metrics": ("wall_ms",)}


def _injected_crash(*a, **kw):
    raise RuntimeError("injected crash")


def _crash_at(table, method: str):
    """Make one write of `table` raise; for expire_snapshots, make it raise
    from its first shutil.rmtree, after the shortened log is installed."""
    if method != "expire_snapshots":
        return _injected_crash
    real = table.expire_snapshots

    def expire(*a, **kw):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(storage.shutil, "rmtree", _injected_crash)
            return real(*a, **kw)
    return expire


def _catalog_state(spark, root: str) -> dict:
    """Per table: the latest read as a multiset of rows (measured columns
    dropped), its snapshot tags, and whether the snapshot dirs on disk are
    exactly the logged ones."""
    import os
    from collections import Counter

    state = {}
    for name, measured in CATALOG_TABLES.items():
        t = Catalog(root).table(name)
        df = t.read(spark).drop(*measured)
        rows = Counter(r[0] for r in df.select(
            F.to_json(F.struct(*df.columns))).collect())
        snaps = t.snapshots()
        on_disk = {d for d in os.listdir(t.root) if d.startswith("snap-")}
        live = {os.path.basename(s.path) for s in snaps}
        state[name] = {"rows": rows, "tags": [s.tag for s in snaps],
                       "dirs": on_disk == live}
    return state


def _crash_and_resume(spark, corpus_tables, cfg, root, table_attr, method,
                      want) -> list[str]:
    """Run cycle 1, crash cycle 2 at one write, resume to depth 3; return
    how the catalog differs from the uninterrupted run's `want`."""
    from nutch_spark.operators.seen import probe_seen_flags

    point = f"{table_attr}.{method}"
    args = (corpus_tables["seeds"], corpus_tables["web_graph"],
            corpus_tables["robots"], corpus_tables["raw_content"])
    crawl(spark, root, cfg, *args, depth=1)
    drv = CrawlDriver(spark, root, cfg, *args[1:])
    table = getattr(drv, table_attr)
    setattr(table, method, _crash_at(table, method))
    with pytest.raises(RuntimeError, match="injected crash"):
        drv.run_cycle(2)
    delattr(table, method)
    # only a crash after the A6 install leaves cycle 2 complete
    installed = method == "expire_snapshots"
    assert drv.last_completed_cycle() == (2 if installed else 1)

    resumed = crawl(spark, root, cfg, *args, depth=3)
    assert [r.cycle for r in resumed] == ([3] if installed else [2, 3])

    fb = Catalog(root).table("frontier").read(spark)
    assert want["frontier_cols"] == {tuple(r) for r in fb.select(*FRONTIER_COLS).collect()}
    # sketch ⊇ frontier after the redo: zero bloom false negatives
    sketch = Catalog(root).table("seen_sketch").read(spark)
    misses = (probe_seen_flags(fb.select("url"), sketch, cfg)
              .filter(~F.col("maybe_seen")).count())
    assert misses == 0

    got = _catalog_state(spark, root)
    diffs = []
    for name in CATALOG_TABLES:
        g, w = got[name], want[name]
        if g["rows"] != w["rows"]:
            diffs.append(f"{point}: {name} rows {g['rows'].total()} "
                         f"(uninterrupted {w['rows'].total()}), "
                         f"{(g['rows'] - w['rows']).total()} extra")
        if g["tags"] != w["tags"]:
            diffs.append(f"{point}: {name} tags {g['tags']} (uninterrupted {w['tags']})")
        if not g["dirs"]:
            diffs.append(f"{point}: {name} has snapshot dirs its log does not list")
    return diffs


def test_resume_mid_cycle_crash_windows(spark, corpus_tables, cfg, tmp_path):
    """Crash-point sweep over the prepare -> install write protocol.

    For each crash point, run cycle 1, let one write of cycle 2 raise,
    then resume to depth 3. Each redone write installs under the same
    `cycle-2` tag, so it replaces the crashed attempt's snapshot instead of
    adding a second one, and the sketch update ORs into the sketch of the
    frontier the cycle started from, not the crashed attempt's own. So
    every catalog table must equal the uninterrupted run: the same rows
    (as a multiset), the same snapshot tags, and no snapshot dir on disk
    that its log does not list (a crash halfway through expiry leaves
    orphans that the next expiry deletes). The sketch also keeps
    sketch ⊇ frontier. Every point runs, and the failure lists them all."""
    gc_cfg = CrawlConfig(**{**cfg.__dict__, "snapshot_keep": 2})
    a = str(tmp_path / "uninterrupted")
    crawl(spark, a, gc_cfg, corpus_tables["seeds"], corpus_tables["web_graph"],
          corpus_tables["robots"], corpus_tables["raw_content"], depth=3)
    want = _catalog_state(spark, a)  # shared by every crash point
    fa = Catalog(a).table("frontier").read(spark)
    want["frontier_cols"] = {tuple(r) for r in fa.select(*FRONTIER_COLS).collect()}

    failures = []
    for table_attr, method in CRASH_POINTS:
        root = str(tmp_path / f"{table_attr}.{method}")
        try:
            failures += _crash_and_resume(spark, corpus_tables, gc_cfg, root,
                                          table_attr, method, want)
        except Exception:  # noqa: BLE001 - report every point, not the first
            failures.append(f"{table_attr}.{method}: {traceback.format_exc()}")
    assert not failures, "\n".join(failures)


def _frontier_side_of_join(df) -> list[str]:
    """Run df, then return its executed plan's nodes from the file scan up
    to (not including) the first join above it. df must have exactly one
    file scan."""
    df.collect()
    plan = (df._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0].splitlines())
    scans = [i for i, line in enumerate(plan) if "FileScan" in line]
    assert len(scans) == 1, plan

    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    chain, d = [], depth(plan[scans[0]])
    for line in reversed(plan[:scans[0]]):
        if depth(line) < d:
            d = depth(line)
            if "Join" in line:
                return chain
            chain.append(line.strip())
    raise AssertionError(f"no join above the file scan: {plan}")


def test_updatedb_merge_shuffles_no_frontier_side(spark, corpus_tables, cfg, tmp_path):
    """The point of the bucketed frontier write (PLANS §6.9): a scan of a
    bucketed snapshot reports HashPartitioning(url, n), so the updatedb
    merge's join shuffles only the updates side. The same merge over the
    same files read as plain parquet needs an Exchange on the frontier
    side, which shows the check can fail."""
    from nutch_spark.operators.parse import run_parse
    from nutch_spark.operators.updatedb import update_frontier

    root = str(tmp_path / "cat")
    crawl(spark, root, cfg, corpus_tables["seeds"], corpus_tables["web_graph"],
          corpus_tables["robots"], corpus_tables["raw_content"], depth=1)
    drv = CrawlDriver(spark, root, cfg, corpus_tables["web_graph"],
                      corpus_tables["robots"], corpus_tables["raw_content"])
    fetched = drv.fetch_t.read(spark)  # driver-side rows: the frontier is the only file scan
    fetch_out = spark.createDataFrame(fetched.collect(), fetched.schema)
    parsed = run_parse(fetch_out, corpus_tables["raw_content"], cfg)

    def merge(frontier):
        return update_frontier(frontier, fetch_out, parsed["parse_updates"], cfg,
                               T0_DEFAULT + 2 * CYCLE_VIRTUAL_MS)

    bucketed = _frontier_side_of_join(merge(drv.frontier()))
    assert not any("Exchange" in n for n in bucketed), bucketed
    plain = spark.read.parquet(drv.frontier_t.latest().path).drop("is_new")
    assert any("Exchange" in n for n in _frontier_side_of_join(merge(plain)))
    parsed["docs_nested"].unpersist()


def test_updatedb_plan_reads_the_fetch_segment(spark, corpus_tables, cfg, tmp_path,
                                               monkeypatch):
    """A3's plan starts from the fetch segment A1 committed, as the
    reference's updatedb reads crawl_fetch: its executed plan scans the
    frontier snapshot once (the merge's own side) and this cycle's
    fetch_status snapshot, instead of re-embedding the generate -> fetch
    lineage down to the frontier scan in every consumer of the fetch."""
    root = str(tmp_path / "cat")
    args = (corpus_tables["seeds"], corpus_tables["web_graph"],
            corpus_tables["robots"], corpus_tables["raw_content"])
    crawl(spark, root, cfg, *args, depth=1)
    drv = CrawlDriver(spark, root, cfg, *args[1:])
    frontier_scan = drv.frontier_t.latest().table_name
    plans = []
    real = drv.frontier_t.prepare

    def prepare(df, *a, **kw):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df, *a, **kw)

    monkeypatch.setattr(drv.frontier_t, "prepare", prepare)
    # scan nodes abbreviate their file locations to this many characters
    key = "spark.sql.maxMetadataStringLength"
    old = spark.conf.get(key)
    spark.conf.set(key, "100000")
    try:
        drv.run_cycle(2)
    finally:
        spark.conf.set(key, old)
    (plan,) = plans
    segment = drv.fetch_t.by_tag("cycle-2").path
    assert plan.count(frontier_scan) == 1, plan.count(frontier_scan)
    assert plan.count(segment) >= 1


def test_byip_crawl_partitions_by_resolved_address(spark, corpus_tables, cfg,
                                                   tmp_path, monkeypatch):
    """`crawl(resolver=)` reaches generate: with every host resolved to one
    address, a byIP crawl puts the whole fetchlist in one partition, and
    no stage warns about a byHost fallback."""
    import warnings

    from nutch_spark.plans import crawl_cycle

    fetchlists = []
    real = crawl_cycle.generate

    def generate(*a, **kw):
        fl = real(*a, **kw)
        fetchlists.append(fl.select("host", "partition_id").distinct().collect())
        return fl

    monkeypatch.setattr(crawl_cycle, "generate", generate)
    resolver = (corpus_tables["web_graph"].select("host").distinct()
                .withColumn("ip", F.lit("10.0.0.1")))
    ip_cfg = CrawlConfig(**{**cfg.__dict__, "partition_mode": "byIP",
                            "fetcher_queue_mode": "byIP"})
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        crawl(spark, str(tmp_path / "cat"), ip_cfg, corpus_tables["seeds"],
              corpus_tables["web_graph"], corpus_tables["robots"],
              corpus_tables["raw_content"], depth=1, resolver=resolver)
    assert not [w for w in caught if "byIP" in str(w.message)]
    (rows,) = fetchlists
    assert len({r.host for r in rows}) > 1
    assert len({r.partition_id for r in rows}) == 1


def test_snapshot_expiry_keeps_resume_intact(spark, corpus_tables, cfg, tmp_path):
    """snapshot_keep GC (CrawlDb.install current+old rotation / Iceberg
    expire_snapshots analogue): state tables keep only the newest K
    snapshots, old data dirs are gone from disk, and both resume and the
    final frontier are identical to a keep-everything run."""
    import os

    a, b = str(tmp_path / "keepall"), str(tmp_path / "gc")
    args = (corpus_tables["seeds"], corpus_tables["web_graph"],
            corpus_tables["robots"], corpus_tables["raw_content"])
    gc_cfg = CrawlConfig(**{**cfg.__dict__, "snapshot_keep": 2})

    crawl(spark, a, cfg, *args, depth=3)      # keep-all reference run
    crawl(spark, b, gc_cfg, *args, depth=2)   # "killed" after cycle 2
    cat = Catalog(b)
    front = cat.table("frontier")
    snaps = front.snapshots()
    assert len(snaps) == 2                    # current + old, like CrawlDb.install
    assert [s.tag for s in snaps] == ["cycle-1", "cycle-2"]
    # expired snapshot data dirs are actually gone from disk
    live = {os.path.basename(s.path) for s in snaps}
    on_disk = {d for d in os.listdir(front.root) if d.startswith("snap-")}
    assert on_disk == live  # no dead snap dirs linger

    resumed = crawl(spark, b, gc_cfg, *args, depth=3)  # resume past the GC
    assert [r.cycle for r in resumed] == [3]
    fa = Catalog(a).table("frontier").read(spark)
    fb = cat.table("frontier").read(spark)
    cols = ["url", "status", "retries", "fetch_interval", "signature"]
    assert ({tuple(r) for r in fa.select(*cols).collect()}
            == {tuple(r) for r in fb.select(*cols).collect()})
    # sketch table GC'd too
    assert len(cat.table("seen_sketch").snapshots()) == 2


def test_expire_snapshots_preserves_append_chain(spark, tmp_path):
    """An append snapshot is a logical union back to its base full commit:
    expire_snapshots must keep the whole retained chain alive. Trimming
    log[:-keep] blindly used to delete the base full commit's data while
    live appends still referenced it — read() silently lost its rows."""
    from nutch_spark.storage import Catalog

    t = Catalog(str(tmp_path / "cat")).table("ap")
    df = lambda i: spark.createDataFrame([(f"u{i}", i)], "url string, v int")  # noqa: E731
    t.commit(df(0), tag="full")           # full commit (the chain base)
    for i in (1, 2, 3):
        t.append(df(i), tag=f"a{i}")      # appends depending on the base
    assert t.expire_snapshots(keep=2) == 0  # whole chain must survive
    got = {r.url for r in t.read(spark).collect()}
    assert got == {"u0", "u1", "u2", "u3"}

    # unknown snapshot id is a KeyError, not a bare StopIteration
    import pytest as _pytest
    with _pytest.raises(KeyError):
        t.read(spark, snapshot_id=999)

    # a new FULL commit starts a fresh chain: older chain now expirable
    t.commit(spark.createDataFrame([("u9", 9)], "url string, v int"),
             tag="full2")
    assert t.expire_snapshots(keep=1) > 0
    assert {r.url for r in t.read(spark).collect()} == {"u9"}


def test_install_is_keyed_by_tag(spark, tmp_path):
    """A write whose tag is on the newest snapshot replaces it in the same
    log swap, under a fresh id, and its old dir is deleted; a tag on an
    older snapshot is refused."""
    import os

    t = Catalog(str(tmp_path / "cat")).table("log")
    t.append_rows([{"cycle": 1, "n": 1}], tag="cycle-1")
    first = t.append_rows([{"cycle": 2, "n": 1}], tag="cycle-2")
    redo = t.append_rows([{"cycle": 2, "n": 2}], tag="cycle-2")
    assert [s.tag for s in t.snapshots()] == ["cycle-1", "cycle-2"]
    assert redo.snapshot_id > first.snapshot_id
    assert redo.parent_id == first.parent_id
    assert not os.path.exists(first.path)
    assert sorted((r.cycle, r.n) for r in t.read(spark).collect()) == [(1, 1), (2, 2)]
    with pytest.raises(RuntimeError, match="older snapshot"):
        t.append_rows([{"cycle": 1, "n": 3}], tag="cycle-1")
    assert [s.tag for s in t.snapshots()] == ["cycle-1", "cycle-2"]


def test_bench_corpus_host_ids_above_9999_do_not_collide(spark):
    """Spark's lpad TRUNCATES beyond the pad width: hid 12345 used to
    render as h1234..., colliding with hid 1234 and silently shrinking the
    bench corpus after inject's dedup."""
    from pyspark.sql import functions as F

    from nutch_spark.bench_corpus import _host

    df = spark.range(1).select(
        _host(F.lit(12345)).alias("big"), _host(F.lit(1234)).alias("small"),
        _host(F.lit(7)).alias("tiny"))
    r = df.collect()[0]
    assert r.big == "h12345.bench.example.com"
    assert r.small == "h1234.bench.example.com"
    assert r.tiny == "h0007.bench.example.com"
    assert r.big != r.small
