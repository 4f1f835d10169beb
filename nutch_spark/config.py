"""Crawl configuration.

Mirrors the reference's nutch-default.xml knobs that affect dataflow
semantics (reference: /root/reference/conf/nutch-default.xml). One flat
dataclass instead of Hadoop Configuration; every operator takes a
CrawlConfig explicitly so jobs are pure functions of (tables, config).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class CrawlConfig:
    # --- injection (reference: crawl/Injector.java:58-61) ---
    db_score_injected: float = 1.0          # db.score.injected
    db_fetch_interval_default: int = 30 * 24 * 3600  # db.fetch.interval.default (sec)
    db_fetch_interval_max: int = 90 * 24 * 3600      # db.fetch.interval.max (sec)
    inject_overwrite: bool = False
    inject_update: bool = False

    # --- generator (reference: crawl/Generator.java:131-168) ---
    topn: int = 10_000                       # production parameter.txt:1
    gen_delay_ms: int = 7 * 24 * 3600 * 1000  # crawl.gen.delay
    gen_min_score: float = 0.0               # generate.min.score
    gen_min_interval: int = -1               # generate.min.interval
    gen_max_count: int = -1                  # generate.max.count (-1 = no cap)
    # deprecated alias (Generator.java:142-148): feeds generate.max.count
    # when that is unset; generate.count.mode still decides the key (:149
    # re-reads the mode after the back-compat assignment)
    gen_max_per_host: int = -1               # generate.max.per.host
    gen_count_mode: str = "byHost"           # generate.count.mode
    gen_max_num_segments: int = 1            # -maxNumSegments
    # generate.update.crawldb (Generator.java:582-612): write _ngt_ back to
    # the frontier so overlapping generates within crawl.gen.delay skip rows
    # already handed to a fetcher (generate.curTime is the cur_time_ms
    # argument threaded through generate(), not a conf knob)
    gen_update_crawldb: bool = False
    # partition.url.mode (byHost|byDomain|byIP): the unit generate hashes
    # into the logical partition_id that topN and the caps count in
    partition_mode: str = "byHost"
    # fetcher.queue.mode (byHost|byDomain|byIP): the politeness-queue unit;
    # run_fetch places the fetchlist one unit per fetch task
    fetcher_queue_mode: str = "byHost"
    partition_seed: int = 42                 # partition.url.seed (fixed for reproducibility)
    num_partitions: int = 32                 # reducer count analogue
    # state-table snapshot retention (CrawlDb.install keeps current + old
    # in the reference; Iceberg expire_snapshots analogue). 0 = keep all
    # (safest default; resumable from any cycle). Applies only to the
    # pure-state tables (frontier, seen sketch) — segment-style append
    # tables (fetch_status, documents) keep their full history like
    # Nutch segments do until explicitly deleted.
    snapshot_keep: int = 0

    # --- fetcher (reference: fetcher/Fetcher.java + nutch-default.xml:662-791) ---
    fetcher_server_delay_ms: int = 5_000     # fetcher.server.delay (5.0 s)
    fetcher_server_min_delay_ms: int = 0     # fetcher.server.min.delay
    fetcher_threads: int = 10                # fetcher.threads.fetch (virtual, per partition)
    fetcher_threads_per_queue: int = 1       # fetcher.threads.per.queue
    fetcher_max_crawl_delay_ms: int = 30_000  # fetcher.max.crawl.delay
    fetcher_max_exceptions_per_queue: int = -1
    fetcher_timelimit_ms: int = -1           # fetcher.timelimit.mins (virtual ms)
    http_redirect_max: int = 0               # http.redirect.max (1.6 default: 0 -> defer)
    # http.content.limit (nutch-default.xml, HttpBase): the protocol keeps
    # at most this many content bytes; longer pages are capped and marked
    # truncated (parser.skip.truncated then drops them from parse). -1 = no
    # cap. The simulated protocol applies it to the corpus content_length.
    http_content_limit: int = 65536
    # file.content.limit (protocol-file FileResponse.java:186-197) and
    # file.crawl.parent (getDirAsHttpResponse: whether listings link '../')
    file_content_limit: int = 65536
    file_crawl_parent: bool = True
    # (db.ignore.external.links — shared by the redirect gate and the parse
    # outlink chain — is declared once in the parse section below)
    # throughput kill-switch (Fetcher.java:1366-1386): sustained sub-threshold
    # pages/s empties every queue. threshold -1 disables (reference default).
    fetcher_throughput_threshold_pages: int = -1   # fetcher.throughput.threshold.pages
    fetcher_throughput_threshold_retries: int = 5  # fetcher.throughput.threshold.retries
    # fetcher.throughput.threshold.check.after: the reference DESCRIBES minutes-
    # after-start but its code compares the raw value to an absolute epoch ms
    # (Fetcher.java:1341,1366) — with the default -1 both read "check from the
    # start". Implemented as virtual ms after fetch start (the documented intent).
    fetcher_throughput_check_after_ms: int = -1
    fetcher_store_content: bool = True
    fetch_duration_ms: int = 100             # deterministic simulated fetch cost
    # in-fetch parse + outlink following (R10, nutch-default.xml:793-836)
    fetcher_parse: bool = False              # fetcher.parse
    follow_outlinks_depth: int = -1          # fetcher.follow.outlinks.depth
    follow_outlinks_num_links: int = 4       # fetcher.follow.outlinks.num.links
    follow_outlinks_depth_divisor: int = 2   # fetcher.follow.outlinks.depth.divisor
    follow_outlinks_ignore_external: bool = True  # fetcher.follow.outlinks.ignore.external

    # --- robots ---
    # http.robots.agents (RobotRulesParser.java:227-252): comma-separated
    # agent names in precedence order; '*' is always the implicit last
    # fallback. The stanza whose agent matches at the LOWEST index wins.
    robots_agent: str = "nutch-spark"
    # http.robots.403.allow (RobotRulesParser.java:222,470-471): a 403 on
    # robots.txt means FORBID_ALL_RULES only when allow=false. The CODE
    # fallback is false, but the fork's shipped conf/nutch-default.xml sets
    # true (and nutch-site.xml does not override), so the effective
    # reference default is ALLOW -> forbid_all defaults False here. Takes
    # effect when the robots table carries a `status` column; rows with
    # status 403 forbid the whole host when True, else are dropped
    # (EMPTY_RULES = allow).
    robots_403_forbid_all: bool = False

    # --- parse (reference: parse/ParseOutputFormat.java, nutch-default.xml:449-474) ---
    db_max_outlinks_per_page: int = 100      # db.max.outlinks.per.page
    db_ignore_external_links: bool = False
    db_ignore_internal_links: bool = True    # db.ignore.internal.links (linkdb)
    db_max_anchor_length: int = 100          # db.max.anchor.length
    db_max_inlinks: int = 10_000             # db.max.inlinks
    parse_skip_truncated: bool = True        # parser.skip.truncated
    # parse.filter.urls / parse.normalize.urls (ParseOutputFormat.java:
    # 95-99; ParseSegment.java:231-238 -noFilter/-noNormalize flags):
    # when false the outlink pipeline emits targets unfiltered/unnormalized
    parse_filter_urls: bool = True
    parse_normalize_urls: bool = True
    # parser.html.outlinks.ignore_tags (DOMContentUtils.java:138-142):
    # link-bearing tags removed from outlink collection — applied per-tag
    # in the html scan kernel over the linkParams set (a/area/link/form/
    # frame/iframe/script as link spans; img as media spans).
    parser_html_outlinks_ignore_tags: tuple = ()
    # parser.html.form.use_action (DOMContentUtils.java:126-130, default
    # true): include <form action=...> as an outlink; method=post forms
    # are always skipped (:433-436)
    parser_html_form_use_action: bool = True
    # parser.caching.forbidden.policy (HtmlParser.java:107,222-226): value
    # written to the caching.forbidden parse meta when robots meta carries
    # 'noarchive'; index-basic exposes it as the `cache` field unless 'none'
    parser_caching_forbidden_policy: str = "content"
    # urlnormalizer.loop.count (URLNormalizers.java:138,279-293): repeat the
    # whole normalizer chain up to N times, stopping at a fixpoint
    urlnormalizer_loop_count: int = 1
    db_parsemeta_to_crawldb: tuple = ()      # db.parsemeta.to.crawldb (ParseOutputFormat.java:154-166)
    # urlmeta plugin (plugin/urlmeta URLMetaScoringFilter.java:63-85 +
    # URLMetaIndexingFilter.java:84-100): datum metadata keys listed here
    # propagate from a page onto its outlinked children and become index
    # fields. Empty = plugin off (the reference's plugin.includes gate).
    urlmeta_tags: tuple = ()                 # urlmeta.tags
    # scoring-link (plugin/scoring-link LinkAnalysisScoringFilter.java:66-71):
    # when the webgraph/LinkRank score has been written into the frontier by
    # ScoreUpdater (J5/L4), the indexer boost is normalize.score * db score
    # instead of OPIC's score^power
    scoring_link: bool = False
    link_analyze_normalize_score: float = 1.0  # link.analyze.normalize.score

    # --- webgraph / LinkRank (scoring/webgraph/WebGraph.java:233-234,569,
    # LinkRank.java:333,476-480,635, ScoreUpdater.java:76, Loops.java:515) ---
    link_analyze_damping_factor: float = 0.85  # link.analyze.damping.factor
    link_analyze_initial_score: float = 1.0    # link.analyze.initial.score
    link_analyze_num_iterations: int = 10      # link.analyze.num.iterations
    link_ignore_limit_page: bool = True        # link.ignore.limit.page
    link_ignore_limit_domain: bool = True      # link.ignore.limit.domain
    link_ignore_internal_host: bool = True     # link.ignore.internal.host
    link_ignore_internal_domain: bool = True   # link.ignore.internal.domain
    link_delete_gone: bool = False             # link.delete.gone
    link_score_updater_clear_score: float = 0.0  # link.score.updater.clear.score
    link_loops_depth: int = 2                  # link.loops.depth

    # --- scoring: OPIC (reference: scoring/opic/OPICScoringFilter.java) ---
    db_score_link_internal: float = 1.0      # db.score.link.internal
    db_score_link_external: float = 1.0      # db.score.link.external
    db_score_count_filtered: bool = False    # db.score.count.filtered
    db_update_max_inlinks: int = 10_000      # db.update.max.inlinks (top-K inlink cap)
    indexer_score_power: float = 0.5         # indexer.score.power
    # index-basic / index-anchor / IndexerMapReduce knobs
    # (BasicIndexingFilter.java:113-115, AnchorIndexingFilter.java:45,
    # IndexerMapReduce.java:61,85,244)
    indexer_max_title_length: int = 100      # indexer.max.title.length
    indexer_max_content_length: int = -1     # indexer.max.content.length (-1 = no cap)
    indexer_add_domain: bool = False         # indexer.add.domain
    indexer_skip_notmodified: bool = False   # indexer.skip.notmodified
    anchor_deduplicate: bool = False         # anchorIndexingFilter.deduplicate
    # index-more type field (MoreIndexingFilter.java:198-257,312):
    # indexMimeTypeParts appends primary/sub parts to the full mime;
    # mapMimeTypes rewrites via ((from, to), ...) pairs before splitting
    more_index_mime_type_parts: bool = True  # moreIndexingFilter.indexMimeTypeParts
    more_map_mime_types: tuple = ()          # moreIndexingFilter.mapMimeTypes + map file
    # parse-metatags + index-metadata + index-static + tld plugins
    metatags_names: tuple = ("*",)           # metatags.names (parse-metatags; '*' = all)
    index_parse_md: tuple = ()               # index.parse.md (index-metadata parse keys)
    # index.db.md (MetadataIndexer.java:44,56-63): crawl-datum metadata keys
    # copied verbatim onto the doc (index.content.md is declared out: the
    # simulated protocol carries no content headers)
    index_db_md: tuple = ()
    index_static: str = ""                   # index.static ("f1:v1 v2,f2:v3")
    # headings / microformats-reltag / subcollection / language-identifier
    # plugins (all off by default, matching plugin.includes in the
    # reference's nutch-default.xml)
    headings: tuple = ()                     # headings conf, e.g. ("h1", "h2")
    index_reltag: bool = False               # expose rel-tag anchors as `tag`
    index_lang: bool = False                 # language-identifier `lang` field
    # HTMLLanguageParser knobs (HTMLLanguageParser.java:93-111,313-321):
    # policy order decides detect (meta/header declarations) vs identify
    # (n-gram analysis) precedence; max.length caps analyzed chars;
    # only.certain suppresses uncertain identifications
    lang_extraction_policy: tuple = ("detect", "identify")
    lang_analyze_max_length: int = -1        # lang.analyze.max.length
    lang_identification_only_certain: bool = False
    index_cc: bool = False                   # creativecommons `cc` field
    # ((name, whitelist_tuple, blacklist_tuple), ...) — Subcollection
    # white/black substring lists (plugin/subcollection Subcollection.java)
    subcollections: tuple = ()

    # --- updatedb / schedule (reference: crawl/AbstractFetchSchedule.java:105-141) ---
    db_fetch_retry_max: int = 3              # db.fetch.retry.max
    db_fetch_schedule_adaptive: bool = False
    adaptive_inc_rate: float = 0.4           # db.fetch.schedule.adaptive.inc_rate
    adaptive_dec_rate: float = 0.2           # db.fetch.schedule.adaptive.dec_rate
    adaptive_min_interval: int = 60          # .min_interval (sec)
    adaptive_max_interval: int = 365 * 24 * 3600
    adaptive_sync_delta: bool = True
    adaptive_sync_delta_rate: float = 0.3
    db_update_additions_allowed: bool = True  # db.update.additions.allowed
    db_update_purge_404: bool = False         # db.update.purge.404
    retry_delay_ms: int = 24 * 3600 * 1000    # 1 day added per retry
    gone_backoff_factor: float = 1.5          # gone: interval *= 1.5

    # --- misc ---
    signature_impl: str = "md5"              # md5 | text_profile
    # db.signature.text_profile.* (TextProfileSignature.java:67-68)
    signature_text_profile_min_token_len: int = 2
    signature_text_profile_quant_rate: float = 0.01

    metadata: dict = field(default_factory=dict)

    def __post_init__(self):
        # generate.max.per.host back-compat (Generator.java:142-148)
        if self.gen_max_count == -1 and self.gen_max_per_host != -1:
            self.gen_max_count = self.gen_max_per_host


DEFAULT = CrawlConfig()
