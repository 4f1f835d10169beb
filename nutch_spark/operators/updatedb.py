"""UpdateDb: the frontier state-machine merge (crawl/CrawlDbReducer.java:63-296).

The reference co-groups old-frontier + crawl_fetch + crawl_parse rows by URL
and runs a per-URL switch. Here the same semantics are one full-outer join
plus a Catalyst `when()` chain — fully JVM-side, whole-stage-codegen, no
Python in the hot path. (An applyInPandas variant would match the reference
line-for-line but be ~10-100x slower; the when-chain is the same state
machine, verified by the table-driven transition tests.)

Pieces:
- linked-row aggregation capped at db.update.max.inlinks by score
  (CrawlDbReducer.java:57-58,300-313 bounded priority queue -> window rank),
- signature/parse_meta overlay (:151-166),
- status transitions (:181-283) incl. retry/gone backoff
  (AbstractFetchSchedule.java:105-141) and schedules T1/T2,
- OPIC score update: score += sum of capped inlink scores
  (scoring/opic/OPICScoringFilter.java:90-98).

Scale: the frontier side is the 10^10-row table; fetch/parse updates are
topN-bounded per cycle. The join keys on url; with the frontier bucketed by
url (Iceberg bucket spec) this is a storage-partitioned join with no
frontier-side shuffle. Summation order of inlink scores is pinned
(sort before sum) so runs are bit-identical across core counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from nutch_spark import schemas
from nutch_spark.config import CrawlConfig
from nutch_spark.functions.urls import host_col


def aggregate_linked(parse_updates: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """Top-K inlinks by score per target, then deterministic-order sum (A3).

    A ``row_number`` window over url by score desc, filtered to K: Spark
    plans a Partial ``WindowGroupLimit`` before the shuffle, so every map
    task forwards at most K scores per url — the bounded-priority-queue
    memory guarantee of CrawlDbReducer.java:300-313. The window's output
    is already hash-placed on url, so the groupBy adds no Exchange. The
    sum iterates the ascending-sorted top-K so float addition order is
    pinned — cross-run/core-count bit-equality (SURVEY §7f). Only the
    float score travels: the output (sum of the top-K scores + count) is
    invariant to which of several rank-K score-ties survives, and the
    reference's priority queue leaves tie order unspecified too.
    """
    w = Window.partitionBy("url").orderBy(F.desc("score"))
    topk = (
        parse_updates.filter(F.col("kind") == schemas.STATUS_LINKED)
        .select("url", "score", F.row_number().over(w).alias("_r"))
        .filter(F.col("_r") <= cfg.db_update_max_inlinks)
        .groupBy("url")
        .agg(F.array_sort(F.collect_list("score")).alias("arr"))
    )
    return topk.select(
        "url",
        F.aggregate(
            "arr", F.lit(0.0), lambda acc, s: acc + s.cast("double")
        ).cast("float").alias("link_score"),
        F.size("arr").cast("long").alias("link_count"),
    )


def aggregate_linked_meta(parse_updates: DataFrame) -> DataFrame:
    """Per target: the metadata map of the top-scoring inlink datum.

    CrawlDbReducer.java:143-147 — with no fetch datum, `fetch =
    linkList.get(0)` (the priority queue's highest-score linked datum) and
    `result.set(fetch)` copies its metadata onto the new row; this is how
    urlmeta tags reach never-fetched children (URLMetaScoringFilter
    distributeScoreToOutlinks). The reference leaves score-ties
    unspecified; ties are pinned here by greatest from_url so runs are
    deterministic. One hash aggregate: max_by runs partially map-side, so
    each map task ships one row per url, and only rows that actually
    carry metadata enter it (at steady state the urlmeta frontier slice
    is a tiny fraction of links)."""
    linked = parse_updates.filter(
        (F.col("kind") == schemas.STATUS_LINKED) & F.col("metadata").isNotNull()
    )
    key = F.struct(F.col("score"), F.col("from_url"))
    return linked.groupBy("url").agg(F.max_by("metadata", key).alias("link_meta"))


def aggregate_signatures(parse_updates: DataFrame) -> DataFrame:
    sig = parse_updates.filter(F.col("kind") == schemas.STATUS_SIGNATURE)
    return sig.groupBy("url").agg(F.max("signature").alias("parse_signature"))


def mime_adaptive_interval(
    df: DataFrame,
    rates: DataFrame,
    cfg: CrawlConfig,
    mime_col: str = "mime",
    interval_col: str = "fetch_interval",
    modified_col: str = "modified",
) -> DataFrame:
    """T3 MimeAdaptiveFetchSchedule (crawl/MimeAdaptiveFetchSchedule.java:40-120):
    per-MIME inc/dec rates override the adaptive defaults. rates is a small
    table (mime, inc_rate, dec_rate) -> broadcast join; arithmetic identical
    to AdaptiveFetchSchedule (T2) with per-row rates."""
    j = df.join(F.broadcast(rates), on=mime_col, how="left")
    inc = F.coalesce(F.col("inc_rate"), F.lit(cfg.adaptive_inc_rate))
    dec = F.coalesce(F.col("dec_rate"), F.lit(cfg.adaptive_dec_rate))
    iv = F.col(interval_col)
    adj = F.when(F.col(modified_col), iv * (1.0 - dec)).otherwise(iv * (1.0 + inc))
    clamped = F.greatest(
        F.lit(float(cfg.adaptive_min_interval)),
        F.least(F.lit(float(cfg.adaptive_max_interval)), adj),
    )
    return j.withColumn("next_interval", F.round(clamped, 0).cast("long")).drop(
        "inc_rate", "dec_rate"
    )


def update_frontier(
    frontier: DataFrame | None,
    fetch_out: DataFrame,
    parse_updates: DataFrame,
    cfg: CrawlConfig,
    cur_time_ms: int,
    include_new_flag: bool = False,
    parse_meta: DataFrame | None = None,
) -> DataFrame:
    """Merge a cycle's fetch + parse results into the frontier.

    include_new_flag=True appends a boolean `is_new` column (row had no
    prior frontier entry) so callers can update the seen sketch
    incrementally without re-deriving novelty via a join.

    parse_meta (url, parse_meta map) carries configured parse metadata into
    the frontier's metadata (X10; CrawlDbReducer STATUS_PARSE_META overlay)."""
    linked = aggregate_linked(parse_updates, cfg)
    sigs = aggregate_signatures(parse_updates)
    # urlmeta propagation: only when linked rows actually carry metadata
    # (the column exists only when run_parse was handed a url_meta frame),
    # so the default path adds no join and no shuffle payload
    link_meta = (
        aggregate_linked_meta(parse_updates)
        if "metadata" in parse_updates.columns else None
    )

    # one fetch row per url (redirect re-fetches keep the last by seq):
    # max_by hash-aggregate, not a row_number window — partial aggregation
    # runs map-side (the shuffle ships <=1 row per url per input partition)
    # and no per-partition sort; seq ties are unspecified either way, same
    # as the reference's reducer iteration order
    # seq wrapped in a struct: max_by skips rows whose ordering key is
    # NULL — the kernel always sets seq, but a null row must degrade to
    # "loses the argmax", never to "url vanishes from updatedb"
    _f = F.max_by(
        F.struct("fetch_status", "fetch_ts", "signature", "repr_url",
                 "fetch_interval", "retries", "score"),
        F.struct(F.col("seq")),
    )
    fetch = (
        fetch_out.groupBy("url").agg(_f.alias("_f"))
        .select(
            "url",
            F.col("_f.fetch_status").alias("fetch_status"),
            F.col("_f.fetch_ts").alias("fetch_ts"),
            F.col("_f.signature").alias("fetch_signature"),
            F.col("_f.repr_url").alias("repr_url"),
            F.col("_f.fetch_interval").alias("f_interval"),
            F.col("_f.retries").alias("f_retries"),
            F.col("_f.score").alias("f_score"),
        )
    )

    updates = (
        fetch.join(sigs, "url", "full_outer")
        .join(linked, "url", "full_outer")
    )
    if parse_meta is not None:
        updates = updates.join(parse_meta, "url", "full_outer")
    else:
        updates = updates.withColumn(
            "parse_meta", F.lit(None).cast("map<string,string>")
        )
    if link_meta is not None:
        updates = updates.join(link_meta, "url", "full_outer")
    else:
        updates = updates.withColumn(
            "link_meta", F.lit(None).cast("map<string,string>")
        )

    if frontier is not None:
        old = frontier.select(
            "url",
            F.col("host").alias("o_host"),
            F.col("status").alias("o_status"),
            F.col("fetch_time").alias("o_fetch_time"),
            F.col("retries").alias("o_retries"),
            F.col("fetch_interval").alias("o_interval"),
            F.col("score").alias("o_score"),
            F.col("signature").alias("o_signature"),
            F.col("modified_time").alias("o_modified"),
            F.col("metadata").alias("o_metadata"),
        )
        j = old.join(updates, "url", "full_outer")
    else:
        j = updates.select(
            "*",
            F.lit(None).cast("string").alias("o_host"),
            F.lit(None).cast("int").alias("o_status"),
            F.lit(None).cast("long").alias("o_fetch_time"),
            F.lit(None).cast("int").alias("o_retries"),
            F.lit(None).cast("int").alias("o_interval"),
            F.lit(None).cast("float").alias("o_score"),
            F.lit(None).cast("string").alias("o_signature"),
            F.lit(None).cast("long").alias("o_modified"),
            F.lit(None).cast("map<string,string>").alias("o_metadata"),
        )

    has_old = F.col("o_status").isNotNull()
    has_fetch = F.col("fetch_status").isNotNull()
    has_link = F.col("link_score").isNotNull()

    fs = F.col("fetch_status")
    S = schemas

    interval_s = F.coalesce(F.col("o_interval"), F.col("f_interval"),
                            F.lit(cfg.db_fetch_interval_default))
    base_score = F.coalesce(F.col("o_score"), F.col("f_score"), F.lit(0.0))
    link_score = F.coalesce(F.col("link_score"), F.lit(0.0))
    new_sig = F.coalesce(F.col("parse_signature"), F.col("fetch_signature"))
    retries0 = F.coalesce(F.col("o_retries"), F.col("f_retries"), F.lit(0))

    # modified detection (T6, CrawlDbReducer.java:205-217)
    modified = F.col("o_signature").isNull() | (new_sig != F.col("o_signature"))

    # new modified time (also reused by the sync-delta schedule below)
    new_modified = (
        F.when(modified, F.col("fetch_ts"))
        .otherwise(F.coalesce(F.col("o_modified"), F.lit(0)))
    )

    # schedule (T1 default / T2 adaptive) for success-ish statuses
    if cfg.db_fetch_schedule_adaptive:
        inc, dec = cfg.adaptive_inc_rate, cfg.adaptive_dec_rate
        adj = F.when(modified, interval_s * (1.0 - dec)).otherwise(interval_s * (1.0 + inc))
        ref_time = F.col("fetch_ts")
        if cfg.adaptive_sync_delta:
            # AdaptiveFetchSchedule.java:101-116: pull the schedule toward
            # the observed change time — modifiedTime<=0 counts as "changed
            # now" (delta 0); a delta larger than the adjusted interval
            # replaces it, and the reference point shifts back by
            # delta * sync_delta_rate
            mt = F.when(new_modified <= 0, F.col("fetch_ts")).otherwise(new_modified)
            delta_s = (F.col("fetch_ts") - mt) / F.lit(1000.0)
            adj = F.when(delta_s > adj, delta_s).otherwise(adj)
            ref_time = F.col("fetch_ts") - F.round(
                delta_s * F.lit(cfg.adaptive_sync_delta_rate) * 1000.0
            ).cast("long")
        next_interval = F.greatest(
            F.lit(cfg.adaptive_min_interval),
            F.least(F.lit(cfg.adaptive_max_interval), adj),
        ).cast("int")
        next_fetch_time = ref_time + next_interval.cast("long") * 1000
    else:
        next_interval = interval_s.cast("int")
        next_fetch_time = F.col("fetch_ts") + next_interval.cast("long") * 1000

    gone_interval = (interval_s * cfg.gone_backoff_factor).cast("int")  # T4
    # setPageGoneSchedule (AbstractFetchSchedule.java:105-112): when the
    # backed-off interval outgrows db.fetch.interval.max, forceRefetch
    # (:199-208, asap=false) resets the row to unfetched with interval
    # max*0.9, cleared signature/modified/retries; fetchTime keeps the
    # just-set backoff value (asap=false leaves it)
    max_iv = cfg.db_fetch_interval_max
    gone_exceeded = gone_interval > F.lit(max_iv)

    is_success = fs == S.STATUS_FETCH_SUCCESS
    is_notmod = fs == S.STATUS_FETCH_NOTMODIFIED
    is_redir_t = fs == S.STATUS_FETCH_REDIR_TEMP
    is_redir_p = fs == S.STATUS_FETCH_REDIR_PERM
    is_retry = fs == S.STATUS_FETCH_RETRY
    is_gone = fs == S.STATUS_FETCH_GONE

    retry_exceeded = (retries0 + 1) >= cfg.db_fetch_retry_max

    status = (
        F.when(~has_fetch & has_old, F.col("o_status"))
        .when(~has_fetch & ~has_old, F.lit(S.STATUS_DB_UNFETCHED))  # linked-only
        .when(is_success & has_old & ~modified, F.lit(S.STATUS_DB_NOTMODIFIED))
        .when(is_success, F.lit(S.STATUS_DB_FETCHED))
        .when(is_notmod, F.lit(S.STATUS_DB_NOTMODIFIED))
        .when(is_redir_t, F.lit(S.STATUS_DB_REDIR_TEMP))
        .when(is_redir_p, F.lit(S.STATUS_DB_REDIR_PERM))
        .when(is_retry & retry_exceeded, F.lit(S.STATUS_DB_GONE))
        .when(is_retry, F.lit(S.STATUS_DB_UNFETCHED))
        .when(is_gone & gone_exceeded, F.lit(S.STATUS_DB_UNFETCHED))  # forceRefetch
        .when(is_gone, F.lit(S.STATUS_DB_GONE))
        .otherwise(F.coalesce(F.col("o_status"), F.lit(S.STATUS_DB_UNFETCHED)))
    )

    fetch_time = (
        F.when(~has_fetch & has_old, F.col("o_fetch_time"))
        .when(~has_fetch & ~has_old, F.lit(cur_time_ms))
        .when(is_success | is_notmod, next_fetch_time)
        .when(is_redir_t | is_redir_p, next_fetch_time)
        .when(is_retry, F.col("fetch_ts") + F.lit(cfg.retry_delay_ms))  # +1 day (T4)
        .when(is_gone, F.col("fetch_ts") + gone_interval.cast("long") * 1000)
        .otherwise(F.coalesce(F.col("o_fetch_time"), F.lit(cur_time_ms)))
    )

    retries = (
        F.when(is_retry, retries0 + 1)
        .when(is_success | is_notmod | is_redir_t | is_redir_p, F.lit(0))
        .when(is_gone & gone_exceeded, F.lit(0))  # forceRefetch reset
        .otherwise(retries0)
    )

    fetch_interval = (
        F.when(is_success | is_notmod, next_interval)
        .when(is_gone & gone_exceeded, F.lit(int(max_iv * 0.9)))
        .when(is_gone, gone_interval)
        .otherwise(interval_s.cast("int"))
    )

    # OPIC: every row accumulates its capped inlink contribution
    score = (base_score + link_score).cast("float")

    signature = (
        F.when(is_gone & gone_exceeded, F.lit(None).cast("string"))  # forceRefetch
        .when(is_success, new_sig)
        .otherwise(F.col("o_signature"))
    )
    modified_time = (
        F.when(is_gone & gone_exceeded, F.lit(0))  # forceRefetch
        .when(is_success & modified, F.col("fetch_ts"))
        .otherwise(F.coalesce(F.col("o_modified"), F.lit(0)))
    )
    # drop the generate-time key after a completed cycle (CrawlDbReducer:289-293)
    meta_base = F.when(
        F.col("o_metadata").isNotNull() & has_fetch,
        F.map_filter(F.col("o_metadata"), lambda k, _: k != F.lit("_ngt_")),
    ).otherwise(F.col("o_metadata"))
    # repr-URL from redirects rides in metadata['_repr_'] (C4;
    # CrawlDatum metadata key Nutch.WRITABLE_REPR_URL_KEY,
    # crawl/CrawlDbReducer.java:106-120 / fetcher/Fetcher.java:1009-1024)
    empty_meta = F.create_map().cast("map<string,string>")
    metadata = F.when(
        F.col("repr_url").isNotNull(),
        F.map_concat(
            F.map_filter(F.coalesce(meta_base, empty_meta), lambda k, _: k != F.lit("_repr_")),
            F.create_map(F.lit("_repr_"), F.col("repr_url")),
        ),
    ).otherwise(meta_base)
    # parse-meta overlay (X10): configured keys overwrite previous values
    metadata = F.when(
        F.col("parse_meta").isNotNull(),
        F.map_concat(
            F.map_filter(
                F.coalesce(metadata, empty_meta),
                lambda k, _: ~F.map_contains_key(F.col("parse_meta"), k),
            ),
            F.col("parse_meta"),
        ),
    ).otherwise(metadata)
    # urlmeta: a brand-new linked-only row takes the top inlink datum's
    # metadata (CrawlDbReducer.java:143-147 result.set(linkList.get(0));
    # existing rows keep their own — result.set(old) discards link meta)
    metadata = F.when(
        ~has_old & ~has_fetch & F.col("link_meta").isNotNull(), F.col("link_meta")
    ).otherwise(metadata)

    out = j.select(
        F.col("url"),
        F.coalesce(F.col("o_host"), host_col(F.col("url"))).alias("host"),
        status.cast("int").alias("status"),
        fetch_time.cast("long").alias("fetch_time"),
        retries.cast("int").alias("retries"),
        fetch_interval.cast("int").alias("fetch_interval"),
        score.alias("score"),
        signature.alias("signature"),
        modified_time.cast("long").alias("modified_time"),
        metadata.alias("metadata"),
        (~has_old).alias("is_new"),
        (~has_old & ~has_fetch & has_link).alias("_new_linked"),
    )
    if not cfg.db_update_additions_allowed:
        out = out.filter(~F.col("_new_linked"))
    if cfg.db_update_purge_404:  # CrawlDb.java:49,78
        out = out.filter(F.col("status") != S.STATUS_DB_GONE)
    out = out.drop("_new_linked")
    return out if include_new_flag else out.drop("is_new")
