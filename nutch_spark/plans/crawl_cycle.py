"""Crawl loop driver: inject once, then generate->fetch->parse->updatedb
cycles with per-cycle checkpointing and resume.

Reference lifecycle: crawl/Crawl.java:60-161 (the depth loop). Each Hadoop
job boundary becomes a Spark action; each CrawlDb.install() rename-swap
becomes a SnapshotTable commit tagged `cycle-N` (Iceberg snapshot tags in
production). A killed run resumes from the last committed cycle: frontier,
seen sketch, lineage and metrics are all recoverable from the catalog —
north_rule's "resumable mid-cycle with per-partition lineage + metrics".
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from nutch_spark.config import CrawlConfig
from nutch_spark.operators.fetch import fetch_metrics, run_fetch
from nutch_spark.operators.generate import generate, mark_generated
from nutch_spark.operators.inject import inject
from nutch_spark.operators.parse import run_parse
from nutch_spark.operators.seen import (SKETCH_SCHEMA, SketchParams,
                                        build_seen_sketch, update_seen_sketch)
from nutch_spark.operators.updatedb import update_frontier
from nutch_spark.storage import Catalog

# one virtual day per cycle keeps re-generate delays meaningful
CYCLE_VIRTUAL_MS = 24 * 3600 * 1000
T0_DEFAULT = 1_700_000_000_000


@dataclass
class CycleResult:
    cycle: int
    generated: int
    fetched: int
    parsed: int
    frontier_size: int
    new_urls: int
    wall_s: float


class CrawlDriver:
    def __init__(self, spark: SparkSession, catalog_root: str, cfg: CrawlConfig,
                 web_graph: DataFrame, robots: DataFrame, raw_content: DataFrame,
                 t0_ms: int = T0_DEFAULT,
                 resolver: DataFrame | None = None):
        self.spark = spark
        self.cfg = cfg
        self.cat = Catalog(catalog_root)
        self.web_graph = web_graph
        self.robots = robots
        self.raw_content = raw_content
        # (host, ip) table for the byIP partition/queue modes — without it
        # those modes FALL BACK to byHost inside generate()/run_fetch(), so
        # the driver must be able to inject one or the knobs are dead
        self.resolver = resolver
        self.t0_ms = t0_ms
        self.frontier_t = self.cat.table("frontier")
        self.metrics_t = self.cat.table("fetch_metrics")
        self.lineage_t = self.cat.table("lineage")
        self.sketch_t = self.cat.table("seen_sketch")
        self.documents_t = self.cat.table("documents")
        self.fetch_t = self.cat.table("fetch_status")

    # -- state -------------------------------------------------------------
    def last_completed_cycle(self) -> int:
        snap = self.frontier_t.latest()
        if snap is None or snap.tag is None:
            return -1 if snap is None else 0
        if snap.tag.startswith("cycle-"):
            return int(snap.tag.split("-")[1])
        return 0  # inject tag

    def frontier(self) -> DataFrame:
        # is_new is a cycle-internal column (rides each snapshot so the
        # sketch update can re-read it); consumers never see it
        return self.frontier_t.read(self.spark).drop("is_new")

    # -- stages ------------------------------------------------------------
    def bootstrap(self, seeds: DataFrame) -> int:
        """Inject seeds (idempotent: skipped if already committed)."""
        if self.frontier_t.exists():
            return self.frontier_t.latest().row_count
        frontier = inject(None, seeds, self.cfg, self.t0_ms)
        obs = Observation()
        pending = self.frontier_t.prepare(
            frontier.observe(obs, F.count(F.lit(1)).alias("n")),
            tag="inject", bucket_by="url")
        n = int(obs.get["n"])
        pending["row_count"] = n
        self.frontier_t.install(pending)
        # seed the seen sketch: the incremental per-cycle OR keeps the
        # invariant sketch ⊇ frontier. No crawl stage reads the sketch; its
        # readers are the callers of seen.probe_seen_flags / new_urls
        # (perfbench's no-false-negative check and the tests), where a
        # bloom negative skips the exact join, so the sketch must cover
        # every frontier URL
        params = SketchParams.for_urls(n)
        self.sketch_t.commit(build_seen_sketch(self.frontier(), params),
                             tag="inject", params=params.summary())
        return n

    def run_cycle(self, cycle: int) -> CycleResult:
        """One generate->fetch->parse->updatedb cycle, staged like the
        reference's job sequence: the fetcher writes its segment
        (crawl_fetch), and parse and the crawldb update read it back
        (crawl/CrawlDb.java:90-99).

        - A1, on the driver thread: generate -> fetch, appended as the
          `cycle-N` snapshot of fetch_status.
        - Plan build: parse, the updatedb merge and the fetch metrics, each
          over a scan of that snapshot's own files. No plan re-embeds the
          generate -> fetch lineage, and none can see a recomputed fetch
          that differs from the committed one.
        - A2 (documents commit), A3 (frontier write) and A5 (metrics
          collect) run concurrently: their job-submission, codegen and
          committer fixed costs coincide instead of summing.
        - A4 (sketch commit), the metrics and lineage log appends, then A6
          (frontier install): the pointer swap that marks the cycle
          complete.

        Row counts for lineage ride along with the write actions via
        Observation instead of separate .count() passes.
        """
        t_start = time.time()
        cfg = self.cfg
        cur = self.t0_ms + cycle * CYCLE_VIRTUAL_MS
        # NOT cached: the frontier is the highest-cardinality table in the
        # system (10^10 rows at target scale) — a columnar cache copy per
        # cycle is the one frame that can never fit. Every consumer
        # (generate, the urlmeta slice, the updatedb merge) scans the
        # immutable bucketed snapshot directly: pruned-column streaming
        # reads that keep HashPartitioning(url), so the cycle's peak cached
        # memory is O(topN + new URLs), independent of frontier size. The
        # size comes from the snapshot summary (writer-side Observation),
        # never a count() scan.
        frontier_snap = self.frontier_t.latest()
        frontier = self.frontier()
        frontier_n = frontier_snap.row_count

        obs_gen, obs_fetch = Observation(), Observation()
        fetchlist = generate(frontier, cfg, cur, resolver=self.resolver).observe(
            obs_gen, F.count(F.lit(1)).alias("n"))
        if cfg.gen_update_crawldb or cfg.http_redirect_max > 0:
            # cached only for a second reader: mark_generated in A3, or the
            # redirect chains' seed, which every hop re-plans. run_fetch
            # alone reads it in one pass, where a cache of the unplaced
            # fetchlist only adds a job (it keeps all of generate's shuffle
            # partitions)
            fetchlist = fetchlist.cache()
        fetch_out = (
            run_fetch(fetchlist, self.web_graph, self.robots, cfg, cycle, cur,
                      resolver=self.resolver)
            .observe(obs_fetch, F.count(F.lit(1)).alias("n"))
        )
        # A1: the append materializes fetchlist + fetch_out and yields both
        # counts. Every later stage scans the segment's own files with the
        # schema A1 wrote (no schema-inference job).
        segment = self.fetch_t.append(fetch_out, tag=f"cycle-{cycle}")
        fetched = self.fetch_t.read_files(self.spark, segment, fetch_out.schema)
        n_gen = int(obs_gen.get["n"])
        n_fetch = int(obs_fetch.get["n"])

        url_meta = None
        if cfg.urlmeta_tags:
            # urlmeta page-side slice: this cycle's fetching pages with
            # their configured tags (join keys on the bucketed frontier's
            # url — narrow projection, non-empty maps only)
            tags = list(cfg.urlmeta_tags)
            url_meta = (
                frontier.select(
                    "url",
                    F.map_filter(
                        F.coalesce(F.col("metadata"),
                                   F.create_map().cast("map<string,string>")),
                        lambda k, _: k.isin(*tags),
                    ).alias("urlmeta"),
                )
                .filter(F.size(F.map_keys(F.col("urlmeta"))) > 0)
            )
        # fetcher.store.content=false AND fetcher.parse=false
        # (Fetcher.java:1065,1090): nothing stored content and nothing
        # parsed in-fetch, so the segment has no content for a parse pass —
        # the parse stage sees zero rows (status transitions still flow
        # from the segment through updatedb).
        parse_in = (fetched if cfg.fetcher_store_content or cfg.fetcher_parse
                    else fetched.limit(0))
        parsed = run_parse(parse_in, self.raw_content, cfg, url_meta=url_meta)
        obs_docs = Observation()
        docs_df = parsed["documents"].observe(obs_docs, F.count(F.lit(1)).alias("n"))

        # generate.update.crawldb (Generator.java:582-612): stamp _ngt_ on
        # the generated rows BEFORE the merge so rows the fetch pass never
        # produced output for (timelimit / throughput-kill purges) stay
        # protected by crawl.gen.delay next cycle. Fetched rows shed the
        # stamp in the merge (CrawlDbReducer.java:293). The left join keys
        # on url, so the bucketed frontier side still shows no Exchange —
        # only the topN-bounded fetchlist side shuffles.
        merge_frontier = (mark_generated(frontier, fetchlist, cur)
                          if cfg.gen_update_crawldb else frontier)
        new_frontier = update_frontier(
            merge_frontier, fetched, parsed["parse_updates"], cfg, cur,
            include_new_flag=True, parse_meta=parsed.get("parse_meta"))

        # Phase-1 frontier write (prepare, not install): the bucketed
        # snapshot write IS the single materialization of the updatedb
        # merge. The previous shape cached the merged frontier — a full
        # columnar copy of the highest-cardinality table per cycle (at
        # 10^10 rows, the worst possible frame to duplicate) — then
        # re-scanned the cache for the final write. `is_new` rides into
        # the snapshot (an RLE-compressed boolean, ~free in parquet) so
        # the sketch update below reads it back with a pushed filter;
        # frontier() drops it for every other consumer. The pointer
        # install — the cycle-completeness marker resume keys on — stays
        # the LAST step of the cycle (A6).
        obs_front = Observation()
        front_df = new_frontier.observe(obs_front, F.count(F.lit(1)).alias("n"))

        def _docs_commit() -> int:
            self.documents_t.commit(docs_df, tag=f"cycle-{cycle}")
            return int(obs_docs.get["n"])

        def _frontier_write() -> dict:
            p = self.frontier_t.prepare(front_df, tag=f"cycle-{cycle}",
                                        bucket_by="url")
            # snapshot summary: next cycle's frontier_n
            p["row_count"] = int(obs_front.get["n"])
            return p

        def _metrics() -> list[dict]:
            return [r.asDict()
                    for r in fetch_metrics(fetched, cycle, cur).collect()]

        # A2, A3 and A5 run concurrently. A2 and A3 share the parse kernel
        # through the docs_nested cache (block-level locks make the second
        # job wait per partition, not recompute). Crash semantics are those
        # of the serial order: every one of them precedes the A6 pointer
        # install that marks the cycle complete. Leaving the block waits
        # for all three, so an error never leaves an orphaned write racing
        # a crawl() redo on the same snapshot log (the pointer-swap log is
        # single-writer-per-table by design, not lock-protected).
        with ThreadPoolExecutor(max_workers=3,
                                thread_name_prefix=f"cycle{cycle}") as pool:
            fut_docs = pool.submit(_docs_commit)
            fut_front = pool.submit(_frontier_write)
            fut_met = pool.submit(_metrics)
            n_parsed = fut_docs.result()
            pending = fut_front.result()
            met_rows = fut_met.result()
        new_n = pending["row_count"]

        # seen sketch updated INCREMENTALLY: only this cycle's new URLs are
        # OR'd into the previous cycle's bitmaps (O(new) per cycle, not
        # O(frontier) — at 10^10 frontier URLs the full rebuild was a
        # per-cycle scan of the whole crawl history). Source = the pending
        # snapshot's files, column-pruned to (url, is_new) with the filter
        # pushed to the scan. Base = the sketch tagged like the frontier
        # this cycle started from: after a crash past A4 the newest is the
        # crashed attempt's, which already holds this cycle's new URLs. A
        # redo's writes reuse the `cycle-N` tags and so replace the crashed
        # attempt's snapshots (storage install()). The base's parameters
        # come from its log entry, so the check reads no sketch row. A
        # base not sized for the new frontier (outgrown, shrunk, old
        # format, no recorded parameters) or no base at all: rebuild
        # from the whole snapshot, restoring sketch ⊇ frontier.
        committed = self.frontier_t.read_files(self.spark, pending)
        base = self.sketch_t.by_tag(frontier_snap.tag)
        want = SketchParams.for_urls(new_n)
        if base and SketchParams.from_summary(base.params) == want:
            # the base is a plain snapshot of SKETCH_SCHEMA: scanned with
            # it, it costs no schema-inference job on the serial tail
            new_sketch = update_seen_sketch(
                self.sketch_t.read_files(self.spark, base, SKETCH_SCHEMA),
                committed.filter(F.col("is_new")).select("url"), want)
        else:
            new_sketch = build_seen_sketch(committed, want)
        self.sketch_t.commit(new_sketch, tag=f"cycle-{cycle}",
                             params=want.summary())

        # metrics + lineage (north_rule: per-partition rows). The metrics
        # aggregate (A5, collected above — ~1 row per partition over the
        # segment) lands via a driver-side pyarrow write — one Spark job
        # instead of two write jobs + two serial output-committer passes
        # per cycle.
        if met_rows:
            self.metrics_t.append_rows(met_rows, tag=f"cycle-{cycle}")
        self.lineage_t.append_rows(
            [
                {"cycle": cycle, "stage": s, "rows_in": ri, "rows_out": ro}
                for s, ri, ro in (
                    ("generate", frontier_n, n_gen),
                    ("fetch", n_gen, n_fetch),
                    ("parse", n_fetch, n_parsed),
                    ("updatedb", frontier_n + n_fetch, new_n),
                )
            ],
            tag=f"cycle-{cycle}",
        )

        # atomic install — THE pointer swap that marks the cycle complete.
        # The bucketed data files were written in A3; this step is a
        # driver-side JSON rename, no Spark job.
        self.frontier_t.install(pending)

        # snapshot GC (CrawlDb.install old-dir rotation / Iceberg
        # expire_snapshots analogue): state tables only — at 10^10 rows
        # every retained frontier snapshot is a full copy of the crawl
        # state, so unbounded retention is itself a scale bug. Runs AFTER
        # install so a crash mid-expire still leaves the committed cycle
        # intact; keep >= 2 preserves current + old like the reference.
        if cfg.snapshot_keep > 0:
            self.frontier_t.expire_snapshots(cfg.snapshot_keep, self.spark)
            self.sketch_t.expire_snapshots(cfg.snapshot_keep, self.spark)

        fetchlist.unpersist()
        parsed["docs_nested"].unpersist()
        return CycleResult(
            cycle=cycle, generated=n_gen, fetched=n_fetch, parsed=n_parsed,
            frontier_size=new_n, new_urls=new_n - frontier_n,
            wall_s=time.time() - t_start,
        )


def crawl(spark: SparkSession, catalog_root: str, cfg: CrawlConfig,
          seeds: DataFrame, web_graph: DataFrame, robots: DataFrame,
          raw_content: DataFrame, depth: int, t0_ms: int = T0_DEFAULT,
          resolver: DataFrame | None = None) -> list[CycleResult]:
    """Run (or resume) a depth-cycle crawl. Safe to re-invoke after a kill:
    completed cycles are skipped via snapshot tags. `resolver` is the
    (host, ip) table a byIP `partition_mode` or `fetcher_queue_mode` needs
    (see `CrawlDriver`)."""
    drv = CrawlDriver(spark, catalog_root, cfg, web_graph, robots, raw_content,
                      t0_ms, resolver=resolver)
    drv.bootstrap(seeds)
    done = drv.last_completed_cycle()
    results = []
    for cycle in range(done + 1, depth + 1):
        results.append(drv.run_cycle(cycle))
    return results
