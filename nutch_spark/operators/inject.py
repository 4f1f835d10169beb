"""Injector: seed list -> frontier merge.

Reference semantics (crawl/Injector.java):
- map (:63-172): normalize + filter each seed URL; reserved metadata keys
  nutch.score / nutch.fetchInterval / nutch.fetchInterval.fixed override the
  datum's score/interval; everything else lands in metadata.
- reduce (:175-242): merge with existing frontier rows by URL — an existing
  entry always wins structurally (the closing if/else :233-238 leaves
  res=injected only when no old row exists, making db.injector.overwrite
  dead code in this fork); db.injector.update mutates the surviving old
  datum in place (:226-231): metadata overlaid with the injected keys, and
  score / fetch interval taken from the injected datum only when they
  differ from the configured db.score.injected / db.fetch.interval.default
  (i.e. only when a nutch.score / nutch.fetchInterval seed override was
  present). TestInjector.java:65-131 pins this down; ported verbatim in
  tests/test_inject_reference.py.

Spark-first realization: one full-outer join on url + coalesce/when column
logic — no state machine needed. The frontier side is the 10^10-row table;
the seed side is small -> broadcast it so the merge is shuffle-free on the
big side at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from nutch_spark import schemas
from nutch_spark.config import CrawlConfig
from nutch_spark.functions.normalizers import normalize_chain_split
from nutch_spark.functions.urls import RegexUrlFilter, host_col

RESERVED_KEYS = ("nutch.score", "nutch.fetchInterval", "nutch.fetchInterval.fixed")


def prepare_seeds(seeds: DataFrame, cfg: CrawlConfig, cur_time_ms: int) -> DataFrame:
    """Normalize/filter seeds and build injected frontier rows (map side).
    The scope='inject' chain (Injector.java:95 URLNormalizers(conf,
    SCOPE_INJECT)) runs before the filter chain, matching the reference's
    normalize-then-filter order."""
    s = normalize_chain_split(
        seeds.withColumnRenamed("url", "_raw_url"), "_raw_url", "url", "inject",
        cfg.urlnormalizer_loop_count,
    ).drop("_raw_url").filter(RegexUrlFilter().col(F.col("url")))
    meta = F.coalesce(F.col("metadata"), F.create_map().cast("map<string,string>"))
    score = F.coalesce(
        F.element_at(meta, "nutch.score").cast("float"), F.lit(float(cfg.db_score_injected))
    )
    interval = F.coalesce(
        F.element_at(meta, "nutch.fetchInterval").cast("int"),
        F.lit(cfg.db_fetch_interval_default),
    )
    return s.select(
        F.col("url"),
        host_col(F.col("url")).alias("host"),
        F.lit(schemas.STATUS_DB_UNFETCHED).alias("status"),
        F.lit(cur_time_ms).alias("fetch_time"),
        F.lit(0).alias("retries"),
        interval.alias("fetch_interval"),
        score.alias("score"),
        F.lit(None).cast("string").alias("signature"),
        F.lit(0).cast("long").alias("modified_time"),
        F.map_filter(meta, lambda k, _: ~k.isin(*RESERVED_KEYS)).alias("metadata"),
    ).dropDuplicates(["url"])


def inject(frontier: DataFrame | None, seeds: DataFrame, cfg: CrawlConfig,
           cur_time_ms: int) -> DataFrame:
    """Merge injected seeds into the frontier (InjectReducer:175-242)."""
    injected = prepare_seeds(seeds, cfg, cur_time_ms)
    if frontier is None:
        return injected
    # NOTE: no broadcast hint — Spark cannot broadcast a side of a
    # full_outer join (the hint is silently ignored); the seeds side is
    # small, so the shuffle moves almost nothing
    old = frontier.alias("o")
    new = injected.alias("n")
    joined = old.join(new, on="url", how="full_outer")

    # InjectReducer exact walk (:190-241). The closing if/else (:233-238)
    # assigns res unconditionally: injected ONLY when no old row exists,
    # old otherwise — which makes the db.injector.overwrite branch (:217-222)
    # DEAD CODE in this fork (its res=injected is clobbered at :238 when
    # both rows exist). Update mode works because it MUTATES the old datum
    # in place (:226-231) before res=old. Both quirks mirrored here.
    has_old = F.col("o.status").isNotNull()
    has_new = F.col("n.status").isNotNull()
    updating = bool(cfg.inject_update and not cfg.inject_overwrite)

    def pick(col: str):
        return F.when(has_old, F.col(f"o.{col}")).otherwise(F.col(f"n.{col}"))

    if updating:
        # :229 — injected score taken only when it differs from the
        # configured db.score.injected default (i.e. a nutch.score seed
        # override); likewise :230 for nutch.fetchInterval vs the default
        # compare float-vs-float like the reference (:229, both sides are
        # Java floats): a bare Python literal is a DOUBLE and would promote
        # the float column — float32(0.1) != double(0.1) — making every
        # seed carrying exactly the default score look like an override
        # and clobber the old row's accumulated score
        score = F.when(
            has_old & has_new
            & (F.col("n.score").cast("float")
               != F.lit(float(cfg.db_score_injected)).cast("float")),
            F.col("n.score"),
        ).otherwise(pick("score"))
        interval = F.when(
            has_old & has_new
            & (F.col("n.fetch_interval") != F.lit(cfg.db_fetch_interval_default)),
            F.col("n.fetch_interval"),
        ).otherwise(pick("fetch_interval"))
        # :228 old.putAllMetaData(injected) — injected keys overlay old's
        meta = F.when(
            has_old & has_new,
            F.when(F.col("o.metadata").isNull(), F.col("n.metadata"))
            .when(F.col("n.metadata").isNull(), F.col("o.metadata"))
            .otherwise(F.map_concat(
                F.map_filter(F.col("o.metadata"),
                             lambda k, _: ~F.map_contains_key(F.col("n.metadata"), k)),
                F.col("n.metadata"),
            )),
        ).otherwise(pick("metadata"))
    else:
        score = pick("score")
        interval = pick("fetch_interval")
        meta = pick("metadata")  # res=old untouched: no metadata union

    return joined.select(
        F.col("url"),
        pick("host").alias("host"),
        pick("status").alias("status"),
        pick("fetch_time").alias("fetch_time"),
        pick("retries").alias("retries"),
        interval.alias("fetch_interval"),
        score.alias("score"),
        pick("signature").alias("signature"),
        pick("modified_time").alias("modified_time"),
        meta.alias("metadata"),
    )
