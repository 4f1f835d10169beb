"""Generator: frontier -> fetchlist (the frontier priority queue).

Reference semantics (crawl/Generator.java):
- gates (:174-218): due-for-fetch (fetchTime <= curTime), re-generate delay
  (crawl.gen.delay via the _ngt_ metadata key), min-score, min-interval.
- priority (:202-209 + scoring/opic/OPICScoringFilter.java:85-87):
  sort value = score.
- topN is per-reducer: limit = topN / numReduceTasks (:141), selection stops
  at `limit` per partition (:235-247) — reproduced exactly as a window rank
  within partition_id, NOT a global orderBy (which wouldn't scale anyway).
- per-host/domain cap (:277-313): generate.max.count per host, overflow
  spilling to up to maxNumSegments segments.
- partitioning (crawl/URLPartitioner.java:36-93): the logical
  partition_id is hash(unit) ^ seed over the partition.url.mode unit, and
  topN and the caps apply per partition_id. The generator only selects:
  run_fetch places the fetchlist, one fetcher.queue.mode unit per fetch
  task, as the reference's fetcher groups a partition into queues.
- intra-partition order (:369-398): the sort_hash column, a byte-reversed
  31-hash of the URL so same-host URLs spread apart inside a fetch task.

Scale design: each selection is one `row_number` window under a rank filter,
which Spark plans as a Partial `WindowGroupLimit` before the shuffle: every
map task forwards at most `limit` (or the host allowance) rows per group, so
a mega-host partition never ships or sorts its whole frontier slice. The
session raises `spark.sql.optimizer.windowGroupLimitThreshold` so that holds
for limits above Spark's default of 1,000 (`session.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from nutch_spark import schemas
from nutch_spark.config import CrawlConfig
from nutch_spark.functions.urls import fetch_order_hash_udf
from nutch_spark.operators.resolve import politeness_key

GENERATE_TIME_KEY = "_ngt_"  # crawl/Generator.java:64


def partition_expr(key_col, cfg: CrawlConfig):
    """URLPartitioner analogue: pmod(hash(key) xor seed, n)."""
    return F.pmod(
        F.hash(key_col).bitwiseXOR(F.lit(cfg.partition_seed)), F.lit(cfg.num_partitions)
    ).cast("int")


def select_due(frontier: DataFrame, cfg: CrawlConfig, cur_time_ms: int) -> DataFrame:
    """Generator gate predicates F9/F10 — plain Catalyst predicates so they
    push down to the frontier scan (partition pruning on `status` at scale)."""
    df = frontier
    # shouldFetch (AbstractFetchSchedule.java:168-185): a fetchTime more
    # than db.fetch.interval.max remote is pulled to now, and an interval
    # beyond the max is shrunk to max*0.9 so the page fits the segment
    # retention period
    max_iv = cfg.db_fetch_interval_max
    too_remote = (F.col("fetch_time") - F.lit(cur_time_ms)) > F.lit(max_iv * 1000)
    df = df.withColumn(
        "fetch_interval",
        F.when(
            too_remote & (F.col("fetch_interval") > max_iv),
            F.lit(int(max_iv * 0.9)),
        ).otherwise(F.col("fetch_interval")),
    ).withColumn(
        "fetch_time",
        F.when(too_remote, F.lit(cur_time_ms)).otherwise(F.col("fetch_time")),
    )
    df = df.filter(F.col("fetch_time") <= F.lit(cur_time_ms))
    # fetchable db statuses only (skip gone/redirects which Generator skips via
    # shouldFetch == false semantics; unfetched/fetched/notmodified are eligible)
    df = df.filter(
        F.col("status").isin(
            schemas.STATUS_DB_UNFETCHED,
            schemas.STATUS_DB_FETCHED,
            schemas.STATUS_DB_NOTMODIFIED,
        )
    )
    # re-generate delay (crawl.gen.delay, Generator.java:195-201)
    gen_time = F.element_at(F.col("metadata"), GENERATE_TIME_KEY).cast("long")
    df = df.filter(
        gen_time.isNull() | (gen_time + F.lit(cfg.gen_delay_ms) <= F.lit(cur_time_ms))
    )
    if cfg.gen_min_score > 0:
        df = df.filter(F.col("score") >= cfg.gen_min_score)
    if cfg.gen_min_interval > 0:
        df = df.filter(F.col("fetch_interval") >= cfg.gen_min_interval)
    return df


def _stamp_generated(cur_time_ms: int):
    """metadata with GENERATE_TIME_KEY set to the generate time (G6)."""
    return F.map_concat(
        F.map_filter(
            F.coalesce(F.col("metadata"), F.create_map().cast("map<string,string>")),
            lambda k, _: k != GENERATE_TIME_KEY,
        ),
        F.create_map(F.lit(GENERATE_TIME_KEY), F.lit(str(cur_time_ms))),
    )


def generate(frontier: DataFrame, cfg: CrawlConfig, cur_time_ms: int,
             resolver: DataFrame | None = None) -> DataFrame:
    """Select the fetchlist: due rows, topN per logical partition, host
    caps, and the sort_hash fetch order. Physical placement is run_fetch's
    (one fetcher.queue.mode unit per fetch task)."""
    due = select_due(frontier, cfg, cur_time_ms)

    # logical reducer id on the partition.url.mode unit (byIP: `resolver`
    # is the (host, ip) table, operators/resolve.py); the key column rides
    # along so a fetch queueing on the same unit reuses it
    due, key = politeness_key(due, cfg.partition_mode, resolver)
    df = due.withColumn("partition_id", partition_expr(F.col(key), cfg))

    limit = max(1, cfg.topn // cfg.num_partitions)  # Generator.java:141

    order = [F.desc("score"), F.asc("url")]
    if cfg.gen_max_count > 0:
        # per-host/domain cap (G4/G5): a cap key's first max.count rows by
        # score go to segment 1, the next max.count to segment 2, ... up to
        # maxNumSegments; rows past that allowance are not generated
        cap = "host"
        if cfg.gen_count_mode == "byDomain":
            df, cap = politeness_key(df, "byDomain", None)
        allowance = cfg.gen_max_count * cfg.gen_max_num_segments
        w_cap = Window.partitionBy("partition_id", cap).orderBy(*order)
        df = (
            df.withColumn("host_rank", F.row_number().over(w_cap))
            .filter(F.col("host_rank") <= allowance)
            .withColumn(
                "segnum",
                (((F.col("host_rank") - 1) / cfg.gen_max_count) + 1).cast("int"),
            )
            .drop("host_rank")
        )
    else:
        df = df.withColumn("segnum", F.lit(1))

    # per-(partition, segment) topN (G3)
    w_final = Window.partitionBy("partition_id", "segnum").orderBy(*order)
    df = df.withColumn("rank", F.row_number().over(w_final)).filter(
        F.col("rank") <= limit
    ).drop("rank")

    # record generate time (G6) so the next cycle's gen-delay gate sees it
    df = df.withColumn("metadata", _stamp_generated(cur_time_ms))
    # intra-partition spread (P4): run_fetch sorts on it
    return df.withColumn("sort_hash", fetch_order_hash_udf(F.col("url")))


def mark_generated(frontier: DataFrame, fetchlist: DataFrame, cur_time_ms: int) -> DataFrame:
    """Optional generate.update.crawldb write-back (Generator.java:582-612):
    left join frontier with the fetchlist urls and stamp _ngt_."""
    # plain shuffle join: the fetchlist is topN-sized (10^6-10^7 at scale),
    # far beyond sane broadcast size; url-equi join shuffles only the small
    # fetchlist side when the frontier is bucket-stored by url
    gen = fetchlist.select("url").withColumn("_was_generated", F.lit(True))
    out = frontier.join(gen, "url", "left")
    return out.withColumn(
        "metadata",
        F.when(F.col("_was_generated"), _stamp_generated(cur_time_ms))
        .otherwise(F.col("metadata")),
    ).drop("_was_generated")
