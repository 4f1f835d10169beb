"""UpdateDb: the frontier state-machine merge (crawl/CrawlDbReducer.java:63-296).

The reference co-groups old-frontier + crawl_fetch + crawl_parse rows by URL
and runs a per-URL switch. Here the cycle's update rows (fetch, signature,
linked, parse_meta) are one `unionByName` reduced by one `groupBy(url)`,
then one full-outer join with the frontier plus a Catalyst `when()` chain
— fully JVM-side, whole-stage-codegen, no Python in the hot path. (An
applyInPandas variant would match the reference line-for-line but be
~10-100x slower; the when-chain is the same state machine, verified by the
table-driven transition tests.)

Pieces:
- linked-row aggregation capped at db.update.max.inlinks by score
  (CrawlDbReducer.java:57-58,300-313 bounded priority queue -> top K of
  the collected scores),
- signature/parse_meta overlay (:151-166),
- status transitions (:181-283) incl. retry/gone backoff
  (AbstractFetchSchedule.java:105-141) and schedules T1/T2,
- OPIC score update: score += sum of capped inlink scores
  (scoring/opic/OPICScoringFilter.java:90-98).

Scale: the frontier side is the 10^10-row table; fetch/parse updates are
topN-bounded per cycle. The updates side is a single shuffle on url, and
its aggregate output stays hash-placed on url; with the frontier bucketed
by url (Iceberg bucket spec) the merge is a storage-partitioned join that
shuffles neither side again. Summation order of inlink scores is pinned
(sort before sum) so runs are bit-identical across core counts.

Memory: the reference's priority queue holds at most K inlinks per URL.
The aggregate here collects all of a URL's linked scores from the cycle
before it takes the top K, so per-URL memory is bounded by the inlinks the
cycle produced — at most one per fetched page, since parse dedups
(url, to_url) — not by K.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from nutch_spark import schemas
from nutch_spark.config import CrawlConfig
from nutch_spark.functions.urls import host_col
from nutch_spark.operators.generate import GENERATE_TIME_KEY


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
    S = schemas
    kind = F.col("kind")
    is_linked = kind == S.STATUS_LINKED
    # the co-group: every update kind is one row stream, null-padded to the
    # union of their columns, so each aggregate below reads only its kind's
    # rows and the whole updates side is a single shuffle on url
    rows = fetch_out.select(
        "url",
        F.struct("fetch_status", "fetch_ts",
                 F.col("signature").alias("fetch_signature"), "repr_url",
                 F.col("fetch_interval").alias("f_interval"),
                 F.col("retries").alias("f_retries"),
                 F.col("score").alias("f_score")).alias("_f"),
        F.struct("seq").alias("_seq"),
    ).unionByName(parse_updates, allowMissingColumns=True)
    if parse_meta is not None:
        rows = rows.unionByName(parse_meta, allowMissingColumns=True)
    no_map = F.lit(None).cast("map<string,string>")
    updates = rows.groupBy("url").agg(
        # one fetch row per url (redirect re-fetches keep the last by seq);
        # seq ties are unspecified, as in the reference's reducer. `_seq` is
        # NULL exactly on non-fetch rows, which max_by skips; a fetch row's
        # struct(seq) is never NULL, so a null seq only loses the argmax
        F.max_by("_f", "_seq").alias("_f"),
        F.max(F.when(kind == S.STATUS_SIGNATURE, F.col("signature")))
        .alias("parse_signature"),
        F.max(is_linked).alias("_linked"),
        F.collect_list(F.when(is_linked, F.col("score"))).alias("_scores"),
        # at most one parse_meta row per url (one per parsed document)
        (F.first("parse_meta", ignorenulls=True) if parse_meta is not None
         else no_map).alias("parse_meta"),
        # urlmeta (CrawlDbReducer.java:143-147): with no fetch datum the new
        # row copies the top-score linked datum's metadata; the reference
        # leaves score ties unspecified, pinned here by greatest from_url.
        # The column exists only when run_parse was handed a url_meta frame
        (F.max_by("metadata", F.when(is_linked & F.col("metadata").isNotNull(),
                                     F.struct("score", "from_url")))
         if "metadata" in parse_updates.columns else no_map).alias("link_meta"),
    )
    # OPIC inlinks capped at db.update.max.inlinks by score
    # (CrawlDbReducer.java:57-58,300-313), summed over the ascending top K so
    # float addition order is pinned: bit-identical across core counts
    top_k = F.reverse(F.slice(F.sort_array("_scores", asc=False), 1,
                              cfg.db_update_max_inlinks))
    link_sum = F.aggregate(top_k, F.lit(0.0), lambda acc, s: acc + s.cast("double"))
    updates = updates.select(
        "url", "_f.*", "parse_signature", "parse_meta", "link_meta",
        F.when(F.col("_linked"), link_sum.cast("float")).alias("link_score"),
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
        F.map_filter(F.col("o_metadata"), lambda k, _: k != GENERATE_TIME_KEY),
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
