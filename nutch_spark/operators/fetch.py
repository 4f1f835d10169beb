"""Fetch stage: per-partition politeness scheduler over the simulated web.

The reference's Fetcher is one long-running map task per fetchlist partition
with per-host FIFO queues, N worker threads, and a politeness clock
(fetcher/Fetcher.java:306-573):

- queue id = host (fetcher.queue.mode=byHost), maxThreads per queue = 1,
- an item is eligible only if its queue has no fetch in progress and
  now >= nextFetchTime (Fetcher.java:360-373),
- after a fetch finishes at endTime: nextFetchTime = endTime + crawlDelay
  (Fetcher.java:389-398); robots Crawl-Delay overrides the default delay and
  > fetcher.max.crawl.delay marks the URL gone (Fetcher.java:794-806),
- robots-disallowed -> denied (Fetcher.java:783-793),
- >= fetcher.max.exceptions.per.queue errors -> purge the host queue
  (Fetcher.java:542-562),
- redirects: with http.redirect.max=0 (the 1.6 default) targets are emitted
  as linked rows for the next cycle (Fetcher.java:963-1024).

Here the "network" is the deterministic web_graph corpus, so fetching is a
pure function and the politeness clock is a *virtual* clock simulated inside
one `mapInPandas` kernel per partition. Politeness is guaranteed structurally:
run_fetch is the one place that places the fetchlist. It hash-partitions it
on the fetcher.queue.mode unit (host, registered domain or resolved address;
operators/resolve.py), so a queue never spans two fetch tasks, and within
the task the kernel enforces the queue discipline. The generator's
partition.url.mode decides only the logical partition_id its topN counts
in (crawl/URLPartitioner.java:36-93). Determinism: same input partition ->
same virtual schedule -> same fetch order, at ANY core count (this is what
makes the N-vs-4N scaling run produce identical output).
"""

from __future__ import annotations

import heapq
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

from nutch_spark import schemas
from nutch_spark.config import CrawlConfig
from nutch_spark.corpus import page_signature
from nutch_spark.functions.urls import choose_repr_url, host_col
from nutch_spark.operators.resolve import politeness_key

FETCH_OUT_SCHEMA = T.StructType(
    list(schemas.FETCH_SCHEMA.fields)
    + [T.StructField("redirect_to", T.StringType(), True),
       T.StructField("redirect_temp", T.BooleanType(), True),
       T.StructField("kernel_wall_ms", T.LongType(), True),
       # the partition's true INPUT row count, same value on every output
       # row (like kernel_wall_ms): fetch_metrics aggregates only the
       # OUTPUT, and timelimit/purge/kill-switch drops made a
       # count(*)-derived rows_in silently equal rows_out
       T.StructField("part_rows_in", T.LongType(), True)]
)


def _robots_allowed_expr(url_col):
    """Native longest-prefix robots verdict (F12) over the rb_disallow /
    rb_allow arrays the robots join attaches (RobotRulesParser.java:152-190)."""
    path = F.coalesce(F.parse_url(url_col, F.lit("PATH")), F.lit("/"))

    def best(rules_col):
        return F.array_max(
            F.transform(
                F.coalesce(rules_col, F.array().cast("array<string>")),
                lambda p: F.when(F.startswith(path, p), F.length(p)).otherwise(F.lit(-1)),
            )
        )

    return F.coalesce(best(F.col("rb_allow")), F.lit(-1)) >= F.coalesce(
        best(F.col("rb_disallow")), F.lit(-1)
    )


def build_redirect_chains(seed: DataFrame, wg: DataFrame, rb: DataFrame,
                          cfg: CrawlConfig) -> DataFrame:
    """(url, redirect_chain) for redirecting fetchlist rows — the declarative
    half of in-thread redirect following (R5, Fetcher.java:826-942).

    The reference's fetch thread resolves each redirect target live (it has
    the network); here the simulated web is a table, so the kernel gets the
    chain pre-joined: hop k holds the k-th target AFTER fetcher-scope
    normalization + URL filtering (handleRedirect, Fetcher.java:963-1024),
    its page facts, and its robots verdict. Bounded at http_redirect_max
    fetched hops + 1 lookahead entry (the REDIR_EXCEEDED output row needs
    the unfetched target's url, Fetcher.java:934-941). A filtered /
    normalize-rejected target simply ends the chain — exactly the
    `handleRedirect == null` stop. Scale: every hop frame holds redirect
    rows only (a sliver of the fetchlist), so the per-hop content-store
    joins are small-side equi-joins."""
    from nutch_spark.functions.normalizers import normalize_chain_split
    from nutch_spark.functions.urls import RegexUrlFilter

    flt = RegexUrlFilter()
    cur = seed.filter(F.col("page_status").isin("redir_perm", "redir_temp")).select(
        F.col("url").alias("src"), F.col("redirect_to").alias("raw")
    )
    hop_frames = []
    for hop in range(1, cfg.http_redirect_max + 2):
        t = normalize_chain_split(cur, "raw", "t_url", "fetcher",
                                  cfg.urlnormalizer_loop_count)
        t = t.filter(flt.col(F.col("t_url")))
        t = (
            t.select("src", F.col("t_url").alias("url"))
            .join(wg, "url", "left")
            .withColumn("host", host_col(F.col("url")))
            .join(F.broadcast(rb), "host", "left")
        )
        t = (
            t.withColumn("robots_allowed", _robots_allowed_expr(F.col("url")))
            .drop("rb_disallow", "rb_allow")
            .withColumn("hop", F.lit(hop))
        )
        hop_frames.append(t)
        if hop <= cfg.http_redirect_max:
            cur = t.filter(F.col("page_status").isin("redir_perm", "redir_temp")).select(
                "src", F.col("redirect_to").alias("raw")
            )
    allh = hop_frames[0]
    for h in hop_frames[1:]:
        allh = allh.unionByName(h)
    return (
        allh.groupBy("src")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "hop", "url", "host", "page_status", "redirect_to",
                        "content_length", "declared_length", "signature_seed",
                        "crawl_delay", "robots_allowed",
                    )
                )
            ).alias("redirect_chain")
        )
        .withColumnRenamed("src", "url")
    )


def fetch_partition_kernel(cfg: CrawlConfig, cycle: int, start_ms: int):
    """Build the mapInPandas kernel closure (pure; all state per-call).

    Vectorized design: every per-row predicate (robots gate, crawl-delay
    gate, page-status class) is a numpy array computed once per batch; the
    sequential politeness loop touches only integers + two int heaps, and
    the output frame is assembled by vectorized gathers in fetch order. The
    scheduler's selection rule is IDENTICAL to the reference's linear scan
    (FetchItemQueues.getFetchItem: first eligible queue in insertion order):
    `eligible` is a heap of insertion indices (pd.factorize codes are
    first-appearance-ordered), `pending` a heap of (ready_ms, idx); a queue
    moves pending->eligible when the virtual clock passes its ready time.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import time as _time

        t_kernel = _time.monotonic()
        parts = [b for b in batches if len(b)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1
        n = len(pdf)

        # ---- vectorized per-row facts -----------------------------------
        # null hosts (parse_url can null out hosts urlsplit accepted) get
        # their own '' queue — factorize's -1 sentinel would otherwise file
        # them into the LAST host's queue (and crash on all-null partitions);
        # '' is also what the output row carries (host is non-null in
        # FETCH_SCHEMA). Queue identity = `queue_key` when run_fetch
        # attached one (fetcher.queue.mode byDomain/byIP,
        # Fetcher.java FetchItemQueues.getFetchItemQueue queueMode), else
        # the host itself (byHost default).
        host_filled = pdf["host"].fillna("")
        queue_filled = (pdf["queue_key"].fillna("")
                        if "queue_key" in pdf.columns else host_filled)
        host_codes, hosts_u = pd.factorize(queue_filled)  # codes = insertion order
        crawl_delay_s = pdf["crawl_delay"].to_numpy(dtype=float)
        robots_delay_ms = crawl_delay_s * 1000.0  # NaN stays NaN
        too_long = (~np.isnan(robots_delay_ms)) & (
            robots_delay_ms > cfg.fetcher_max_crawl_delay_ms
        )
        denied = ~pdf["robots_allowed"].fillna(False).to_numpy(dtype=bool)
        gated = too_long | denied  # emitted GONE without occupying the queue

        pstat = pdf["page_status"].to_numpy(dtype=object)
        is_missing = pd.isna(pdf["page_status"]).to_numpy()
        is_ok = pstat == "ok"
        is_rp = pstat == "redir_perm"
        is_rt = pstat == "redir_temp"
        is_nm = pstat == "notmodified"
        is_gn = pstat == "gone"
        is_exc = ~(is_ok | is_rp | is_rt | is_nm | is_gn | is_missing)

        # ---- per-host FIFO queues in fetchlist (sort_hash) order --------
        nq = len(hosts_u)
        q_items: list[list[int]] = [[] for _ in range(nq)]
        for i, hc in enumerate(host_codes):
            q_items[hc].append(i)
        q_head = [0] * nq
        q_len = [len(items) for items in q_items]
        # crawl delay fixed at queue creation from its first row
        # (Fetcher.java FetchItemQueue ctor semantics)
        first_rows = [items[0] for items in q_items]
        fr_delay = robots_delay_ms[first_rows]
        q_delay = np.where(
            np.isnan(fr_delay), float(cfg.fetcher_server_delay_ms), fr_delay
        ).astype(np.int64)
        q_exc = [0] * nq
        max_exc = cfg.fetcher_max_exceptions_per_queue
        q_delay = q_delay.tolist()
        # fetcher.threads.per.queue (FetchItemQueue maxThreads): when > 1,
        # a queue admits up to max_per_q concurrent in-flight fetches and
        # fetcher.server.min.delay REPLACES the crawl delay
        # (nutch-default.xml: min.delay "applies ONLY if
        # fetcher.threads.per.queue is greater than 1"). Admission gates on
        # the last FINISHED fetch's end + delay (the reference updates
        # nextFetchTime in finishFetchItem), never on in-flight ones.
        max_per_q = max(1, cfg.fetcher_threads_per_queue)
        if max_per_q > 1:
            q_delay = [int(cfg.fetcher_server_min_delay_ms)] * nq
            q_inflight = [0] * nq
            q_fin: list[list[int]] = [[] for _ in range(nq)]
        # per-queue next-ready time: lets an in-thread redirect fetch (R5)
        # push out a queue's politeness clock even while the queue sits in
        # the eligible heap (stale heap entries are re-deferred on pop)
        q_ready = [start_ms] * nq
        host_to_q = {h: i for i, h in enumerate(hosts_u)}

        threads_heap = [(start_ms, ti) for ti in range(max(1, cfg.fetcher_threads))]
        duration = cfg.fetch_duration_ms
        deadline = start_ms + cfg.fetcher_timelimit_ms if cfg.fetcher_timelimit_ms > 0 else None

        eligible = list(range(nq))  # already a valid heap (sorted)
        pending: list[tuple[int, int]] = []  # (ready_ms, queue_idx)

        # R5 state: pre-joined redirect chains + full-row gathers the chain
        # walker needs (redirect rows are a small fraction of any batch)
        max_redirect = cfg.http_redirect_max
        chains_np = (
            pdf["redirect_chain"].to_numpy(dtype=object)
            if max_redirect > 0 and "redirect_chain" in pdf.columns
            else None
        )
        url_np = pdf["url"].to_numpy(dtype=object)
        host_np = host_filled.to_numpy(dtype=object)
        score_np = pdf["score"].to_numpy(dtype=float)
        fi_np = pdf["fetch_interval"].to_numpy()
        extra: list[dict] = []  # followed-hop output rows, in seq order

        # R8 state (Fetcher.java:1330-1386): pages = successful fetches; one
        # virtual-second monitor tick; violations accumulate (the reference
        # never resets the retry counter) until the kill empties every queue
        thr_pages = cfg.fetcher_throughput_threshold_pages
        thr_retries_max = cfg.fetcher_throughput_threshold_retries
        thr_check_after = cfg.fetcher_throughput_check_after_ms
        pages_total = 0
        pages_prev = 0
        thr_violations = 0
        next_tick = start_ms + 1000

        emit_rows = np.empty(n, dtype=np.int64)
        emit_ts = np.empty(n, dtype=np.int64)
        emit_seq = np.empty(n, dtype=np.int64)
        seq_no = 0
        m = 0
        remaining = n

        _PS_STATUS = {
            "ok": schemas.STATUS_FETCH_SUCCESS,
            "redir_perm": schemas.STATUS_FETCH_REDIR_PERM,
            "redir_temp": schemas.STATUS_FETCH_REDIR_TEMP,
            "notmodified": schemas.STATUS_FETCH_NOTMODIFIED,
            "gone": schemas.STATUS_FETCH_GONE,
        }

        def _hop_queue(h: str, delay_ms) -> int:
            """Queue for a redirect target's host, created on demand — the
            reference's per-task queue set grows the same way
            (FetchItemQueues.getFetchItemQueue). Same politeness caveat as
            the reference: a cross-host redirect target's queue lives in
            THIS task even though that host's own fetchlist rows may sit in
            another partition."""
            qi = host_to_q.get(h)
            if qi is None:
                qi = len(q_items)
                host_to_q[h] = qi
                q_items.append([])
                q_head.append(0)
                q_len.append(0)
                if max_per_q > 1:
                    q_delay.append(int(cfg.fetcher_server_min_delay_ms))
                    q_inflight.append(0)
                    q_fin.append([])
                else:
                    q_delay.append(int(delay_ms) if delay_ms is not None
                                   else cfg.fetcher_server_delay_ms)
                q_exc.append(0)
                q_ready.append(start_ms)
            elif delay_ms is not None and max_per_q == 1:
                q_delay[qi] = int(delay_ms)  # fiq.crawlDelay update (:804)
            return qi

        def _emit_hop(t_url, t_host, status, ts, repr_url, signature,
                      content_length, truncated, src_i, redirect_to,
                      redirect_temp):
            nonlocal seq_no
            extra.append({
                "url": t_url, "host": t_host or "", "fetch_status": status,
                "fetch_ts": ts, "seq": seq_no, "repr_url": repr_url,
                "signature": signature, "content_length": content_length,
                "truncated": truncated, "score": float(score_np[src_i]),
                "fetch_interval": fi_np[src_i], "retries": 0,
                "partition_id": pid, "redirect_to": redirect_to,
                "redirect_temp": redirect_temp, "kernel_wall_ms": 0,
                "part_rows_in": 0,
            })
            seq_no += 1

        # R5 chain continuations: ti -> [chain, idx, prev_url, prev_host,
        # repr_cur, temp_prev, count, src_i]. A redirecting fetch leaves its
        # thread a continuation; each hop is processed when the heap reaches
        # that thread's virtual time, so queue-clock effects land exactly
        # when the reference's in-thread fetch would apply them (the target
        # is "in progress" during [hop_start, hop_end] — other events before
        # hop_start are scheduled first).
        thread_chain: dict[int, list] = {}

        def _advance_chain(ti: int, now: int) -> None:
            """One redirect hop for thread ti at virtual time `now`
            (Fetcher.java:826-942 do-loop body). Gates that consume no fetch
            time (same-url / external / filtered-out chain end / exceeded /
            robots) release the thread at `now`; a fetched hop occupies it
            until now + duration and may extend the continuation."""
            nonlocal pages_total, remaining
            chain, idx, prev_url, prev_host, repr_cur, temp_prev, count, src_i = thread_chain[ti]
            del thread_chain[ti]
            if idx >= len(chain):
                return  # target filtered/normalize-rejected -> stop (:1018-1024)
            ent = chain[idx]
            t_url, t_host = ent["url"], ent["host"]
            if t_url is None or t_url == prev_url:
                return  # handleRedirect same-url stop (:985)
            if cfg.db_ignore_external_links and t_host != prev_host:
                return  # handleRedirect external-link gate (:970-983)
            repr_cur = choose_repr_url(
                repr_cur if repr_cur is not None else prev_url, t_url, temp_prev
            )
            count += 1
            if count > max_redirect:
                # redirect count exceeded -> GONE for the unfetched target
                # (Fetcher.java:934-941, STATUS_REDIR_EXCEEDED)
                _emit_hop(t_url, t_host, schemas.STATUS_FETCH_GONE, now,
                          repr_cur, None, None, False, src_i, None, None)
                return
            cd = ent["crawl_delay"]
            cd_ms = float(cd) * 1000.0 if cd is not None and cd == cd else None
            allowed = bool(ent["robots_allowed"]) if ent["robots_allowed"] is not None else False
            if not allowed or (cd_ms is not None
                               and cd_ms > cfg.fetcher_max_crawl_delay_ms):
                # loop-top robots / crawl-delay gate for the NEW fit: GONE,
                # no fetch, queue unblocked asap (:783-806)
                _emit_hop(t_url, t_host, schemas.STATUS_FETCH_GONE, now,
                          repr_cur, None, None, False, src_i, None, None)
                return
            qj = _hop_queue(t_host or "", int(cd_ms) if cd_ms is not None else None)
            en = now + duration  # the in-thread fetch occupies the thread
            ps = ent["page_status"]
            status = _PS_STATUS.get(
                ps,
                schemas.STATUS_FETCH_GONE if ps is None else schemas.STATUS_FETCH_RETRY,
            )
            sig = None
            cl = ent["content_length"]
            cl = int(cl) if cl is not None and cl == cl else None
            dl = ent["declared_length"]
            # http.content.limit: the protocol caps kept bytes and marks
            # the record truncated (HttpBase.getProtocolOutput analogue)
            climit = cfg.http_content_limit
            over_limit = climit >= 0 and cl is not None and cl > climit
            if over_limit:
                cl = climit
            trunc = False
            redirect_to = None
            redirect_temp = None
            if ps == "ok":
                sig = page_signature(int(ent["signature_seed"]))
                pages_total += 1  # updateStatus: SUCCESS only
                trunc = over_limit or bool(
                    dl is not None and cl is not None and dl > cl)
            elif ps in ("redir_perm", "redir_temp"):
                redirect_to = ent["redirect_to"]
                redirect_temp = ps == "redir_temp"
            _emit_hop(t_url, t_host, status, now, repr_cur, sig, cl, trunc,
                      src_i, redirect_to, redirect_temp)
            # finishFetchItem: the target queue's politeness clock moves to
            # this hop's end + its crawl delay
            q_ready[qj] = max(q_ready[qj], en + q_delay[qj])
            if q_head[qj] < q_len[qj]:
                heapq.heappush(pending, (q_ready[qj], qj))
            if status == schemas.STATUS_FETCH_RETRY:
                # exception -> target queue purge check (:909-913)
                q_exc[qj] += 1
                if max_exc >= 0 and q_exc[qj] >= max_exc:
                    remaining -= q_len[qj] - q_head[qj]
                    q_head[qj] = q_len[qj]
            heapq.heapreplace(threads_heap, (en, ti))
            if ps in ("redir_perm", "redir_temp"):
                thread_chain[ti] = [chain, idx + 1, t_url, t_host, repr_cur,
                                    ps == "redir_temp", count, src_i]

        while remaining > 0 or thread_chain:
            now, ti = threads_heap[0]  # thread with the earliest free time
            if deadline is not None and now >= deadline:
                break  # timelimit: drop remaining items; they stay due
            if thr_pages > 0:
                # R8 monitor ticks: one check per virtual second
                while next_tick <= now:
                    if thr_check_after < 0 or next_tick - start_ms >= thr_check_after:
                        if pages_total - pages_prev < thr_pages:
                            thr_violations += 1
                            if thr_violations >= thr_retries_max:
                                # kill-switch: empty every queue (items stay
                                # due next cycle), disable the checker; any
                                # in-flight redirect chain still completes
                                # (Fetcher.java:1373-1383)
                                thr_pages = -1
                                remaining = 0
                                break
                    pages_prev = pages_total
                    next_tick += 1000
                if remaining <= 0 and not thread_chain:
                    break
            if ti in thread_chain:
                _advance_chain(ti, now)  # R5: this thread is mid-chain
                continue
            if remaining <= 0:
                # only chain continuations left; let their threads reach
                # the heap top. <= not ==: a queue purge during a redirect
                # chain after the kill-switch zeroed `remaining` can drive
                # it NEGATIVE, and an == guard would let idle threads fall
                # through to the scheduler and fetch items the kill-switch
                # deferred to the next cycle
                heapq.heapreplace(threads_heap, (now + duration, ti))
                continue
            while pending and pending[0][0] <= now:
                _, qi = heapq.heappop(pending)
                if q_head[qi] < q_len[qi]:
                    heapq.heappush(eligible, qi)
            qpick = -1
            while eligible:
                qi = heapq.heappop(eligible)
                if q_head[qi] >= q_len[qi]:
                    continue
                if max_per_q > 1:
                    # retire finished in-flight fetches (finishFetchItem:
                    # nextFetchTime = finish end + min delay)
                    while q_fin[qi] and q_fin[qi][0] <= now:
                        fin = heapq.heappop(q_fin[qi])
                        q_inflight[qi] -= 1
                        q_ready[qi] = max(q_ready[qi], fin + q_delay[qi])
                    if q_inflight[qi] >= max_per_q:
                        heapq.heappush(pending, (q_fin[qi][0], qi))
                        continue
                if q_ready[qi] > now:  # deferred by an in-thread redirect fetch
                    heapq.heappush(pending, (q_ready[qi], qi))
                    continue
                qpick = qi
                break
            if qpick < 0:
                # no queue eligible: advance this thread's clock
                while pending and q_head[pending[0][1]] >= q_len[pending[0][1]]:
                    heapq.heappop(pending)
                nxt = pending[0][0] if pending else now + duration
                heapq.heapreplace(threads_heap, (nxt, ti))
                continue

            i = q_items[qpick][q_head[qpick]]
            q_head[qpick] += 1
            remaining -= 1
            emit_rows[m] = i
            emit_ts[m] = now
            emit_seq[m] = seq_no
            seq_no += 1
            m += 1

            if gated[i]:
                # Crawl-Delay too long or robots denied -> GONE, no fetch,
                # queue untouched (Fetcher.java:783-801)
                if q_head[qpick] < q_len[qpick]:
                    heapq.heappush(eligible, qpick)
                continue

            # the (simulated) fetch occupies the thread + queue; afterwards
            # nextFetchTime = endTime + crawlDelay (Fetcher.java:389-398)
            end = now + duration
            if is_ok[i]:
                pages_total += 1  # updateStatus (SUCCESS only) feeds R8
            if is_exc[i]:  # exception -> per-queue purge (Fetcher.java:542-562)
                q_exc[qpick] += 1
                if max_exc >= 0 and q_exc[qpick] >= max_exc:
                    remaining -= q_len[qpick] - q_head[qpick]
                    q_head[qpick] = q_len[qpick]
            # source queue unblocks at the SOURCE fetch's end (the reference
            # calls finishFetchItem before redirect handling), never at the
            # redirect chain's end
            if max_per_q > 1:
                # in-flight until `end`; nextFetchTime moves only when the
                # fetch retires (drained at the next admission check), so
                # other threads may start from this queue meanwhile
                q_inflight[qpick] += 1
                heapq.heappush(q_fin[qpick], end)
                if q_head[qpick] < q_len[qpick]:
                    if q_inflight[qpick] < max_per_q and q_ready[qpick] <= now:
                        heapq.heappush(eligible, qpick)
                    else:
                        wake = (q_fin[qpick][0]
                                if q_inflight[qpick] >= max_per_q
                                else q_ready[qpick])
                        heapq.heappush(pending, (wake, qpick))
            else:
                q_ready[qpick] = end + int(q_delay[qpick])
                if q_head[qpick] < q_len[qpick]:
                    heapq.heappush(pending, (q_ready[qpick], qpick))
            heapq.heapreplace(threads_heap, (end, ti))
            if chains_np is not None and (is_rp[i] or is_rt[i]):
                ch = chains_np[i]
                if ch is not None and len(ch) > 0:
                    # R5: leave this thread a chain continuation; hops run
                    # as the heap reaches the thread's virtual time
                    thread_chain[ti] = [ch, 0, url_np[i], host_np[i], None,
                                        bool(is_rt[i]), 0, i]

        if m == 0:
            return

        # ---- vectorized output assembly in fetch order ------------------
        sel = emit_rows[:m]
        g = gated[sel]
        status = np.select(
            [g, is_missing[sel], is_ok[sel], is_rp[sel], is_rt[sel],
             is_nm[sel], is_gn[sel]],
            [schemas.STATUS_FETCH_GONE, schemas.STATUS_FETCH_GONE,
             schemas.STATUS_FETCH_SUCCESS, schemas.STATUS_FETCH_REDIR_PERM,
             schemas.STATUS_FETCH_REDIR_TEMP, schemas.STATUS_FETCH_NOTMODIFIED,
             schemas.STATUS_FETCH_GONE],
            default=schemas.STATUS_FETCH_RETRY,
        ).astype(np.int64)

        ok_mask = is_ok[sel] & ~g
        sig = np.full(m, None, dtype=object)
        seeds = pdf["signature_seed"].to_numpy()[sel]
        sig[ok_mask] = [page_signature(int(s)) for s in seeds[ok_mask]]

        declared = pdf["declared_length"].to_numpy(dtype=float)[sel]
        content_len = pdf["content_length"].to_numpy(dtype=float)[sel]
        # http.content.limit cap (see scheduler path above)
        if cfg.http_content_limit >= 0:
            with np.errstate(invalid="ignore"):
                over = content_len > cfg.http_content_limit
            content_len = np.where(over, float(cfg.http_content_limit),
                                   content_len)
        else:
            over = np.zeros(m, dtype=bool)
        with np.errstate(invalid="ignore"):
            trunc = ok_mask & ((declared > content_len) | over)

        redir_mask = (is_rp[sel] | is_rt[sel]) & ~g
        redirect_to = np.full(m, None, dtype=object)
        redirect_to[redir_mask] = pdf["redirect_to"].to_numpy(dtype=object)[sel][redir_mask]
        redirect_temp = np.full(m, None, dtype=object)
        redirect_temp[redir_mask] = is_rt[sel][redir_mask]

        # repr-URL on redirects (C4/R5): chooseRepr(src, dst, temp) decides
        # the canonical identity of the redirect target
        # (util/URLUtil.java:343-449, Fetcher.java:963-1024). Python loop
        # touches redirect rows only (a small fraction of any fetch batch).
        urls_sel = pdf["url"].to_numpy(dtype=object)[sel]
        repr_arr = np.full(m, None, dtype=object)
        for j in np.nonzero(redir_mask)[0]:
            if redirect_to[j] is not None:
                repr_arr[j] = choose_repr_url(
                    urls_sel[j], redirect_to[j], bool(redirect_temp[j])
                )

        cl_obj = np.full(m, None, dtype=object)
        cl_ok = ~np.isnan(content_len)
        cl_obj[cl_ok] = content_len[cl_ok].astype(np.int64)

        # real per-partition kernel wall (north_rule: per-partition
        # metrics; constant within the partition)
        wall_ms = int((_time.monotonic() - t_kernel) * 1000)
        out = pd.DataFrame(
            {
                "url": urls_sel,
                "host": host_filled.to_numpy(dtype=object)[sel],
                "fetch_status": status,
                "fetch_ts": emit_ts[:m],
                "seq": emit_seq[:m],
                "repr_url": repr_arr,
                "signature": sig,
                "content_length": cl_obj,
                "truncated": trunc,
                "score": pdf["score"].to_numpy(dtype=float)[sel],
                "fetch_interval": pdf["fetch_interval"].to_numpy()[sel],
                "retries": pdf["retries"].to_numpy()[sel],
                "partition_id": np.full(m, pid, dtype=np.int64),
                "redirect_to": redirect_to,
                "redirect_temp": redirect_temp,
                "kernel_wall_ms": np.full(m, wall_ms, dtype=np.int64),
                "part_rows_in": np.full(m, n, dtype=np.int64),
            }
        )
        if extra:
            # followed redirect hops (R5) interleave by emit order
            for r in extra:
                r["kernel_wall_ms"] = wall_ms
                r["part_rows_in"] = n
            out = pd.concat([out, pd.DataFrame(extra)], ignore_index=True)
            out = out.sort_values("seq", ignore_index=True)
        yield out

    return kernel


def select_robots_rules(robots: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """Per-host robots rule selection with agent precedence
    (RobotRulesParser.java:227-252,316-330): cfg.robots_agent is the
    http.robots.agents comma list; the stanza whose agent name matches at
    the lowest index wins, '*' is the implicit last fallback. A `status`
    column (robots.txt fetch outcome), when present, applies
    http.robots.403.allow (:222,470-471): 403 forbids the whole host when
    robots_403_forbid_all, else the row is dropped (EMPTY_RULES = allow).

    The output is one (host, crawl_delay, rb_disallow, rb_allow) row per
    host — tiny (per-host cardinality), always broadcast by the caller, so
    the extra precedence window costs nothing at scale.
    """
    agents = [a.strip().lower() for a in cfg.robots_agent.split(",") if a.strip()]
    r = robots
    if "status" in r.columns:
        is_403 = F.col("status") == 403
        if cfg.robots_403_forbid_all:
            # FORBID_ALL_RULES: one disallow-everything stanza for the host.
            # The agent is rewritten to '*' too — a 403 means the robots
            # fetch itself failed, so the verdict applies to the HOST
            # regardless of any stanza agent name; leaving the original
            # agent would let the precedence filter below DROP the row
            # (agent matches nothing -> rb_pri NULL) and crawl the host
            # unrestricted, the opposite of getForbidAllRules
            r = r.withColumn(
                "disallow", F.when(is_403, F.array(F.lit("/"))).otherwise(F.col("disallow"))
            ).withColumn(
                "allow", F.when(is_403, F.array().cast("array<string>")).otherwise(F.col("allow"))
            ).withColumn(
                "agent", F.when(is_403, F.lit("*")).otherwise(F.col("agent"))
            )
        else:
            r = r.filter(~F.coalesce(is_403, F.lit(False)))
        r = r.drop("status")
    pri = F.lit(None).cast("int")
    for i, a in reversed(list(enumerate(agents))):
        pri = F.when(F.lower(F.col("agent")) == a, F.lit(i)).otherwise(pri)
    pri = F.coalesce(pri, F.when(F.col("agent") == "*", F.lit(len(agents))))
    w_host = Window.partitionBy("host")
    r = (
        r.withColumn("rb_pri", pri)
        .filter(F.col("rb_pri").isNotNull())
        .withColumn("rb_best", F.min("rb_pri").over(w_host))
        .filter(F.col("rb_pri") == F.col("rb_best"))
    )
    return r.groupBy("host").agg(
        # max, not unordered first(): two same-priority stanzas with
        # different Crawl-Delays must resolve identically on every run
        # (the virtual fetch schedule derives from this) — the most
        # conservative delay wins
        F.max("crawl_delay").alias("crawl_delay"),
        F.flatten(F.collect_list("disallow")).alias("rb_disallow"),
        F.flatten(F.collect_list("allow")).alias("rb_allow"),
    )


def run_fetch(
    fetchlist: DataFrame,
    web_graph: DataFrame,
    robots: DataFrame,
    cfg: CrawlConfig,
    cycle: int,
    start_ms: int,
    resolver: DataFrame | None = None,
) -> DataFrame:
    """Join the fetchlist with the simulated web + robots, place it one
    politeness-queue unit per task, then run the politeness kernel.

    Scale notes: robots is per-host (small) -> broadcast. web_graph at 100 TB
    is the content store; the join is an equi-join on url that AQE handles
    (fetchlist is topN-bounded per cycle, so it broadcasts in practice).
    """
    wg = web_graph.select(
        F.col("url"),
        F.col("status").alias("page_status"),
        "redirect_to",
        "content_length",
        "declared_length",
        "signature_seed",
    )
    rb = select_robots_rules(robots, cfg)
    # rb broadcast is host-grained (one row per host in the robots table,
    # agent-filtered) — at a frontier where the robots table itself is
    # huge, feed this join a host-pruned robots slice; per-cycle hosts are
    # topN-bounded, so the slice is too
    fl = (
        fetchlist.join(wg, "url", "left")
        .join(F.broadcast(rb), "host", "left")
    )
    # robots prefix gate as a native expression (F12): longest-rule match;
    # the rule arrays are dropped after the verdict so they never cross the
    # Arrow boundary into the kernel
    fl = fl.withColumn("robots_allowed", _robots_allowed_expr(F.col("url"))).drop(
        "rb_disallow", "rb_allow"
    )
    if cfg.http_redirect_max > 0:
        # R5: pre-join each redirecting row's normalized+filtered target
        # chain so the kernel can follow it in-thread (Fetcher.java:826-942)
        seed = fl.select("url", "page_status", "redirect_to")
        fl = fl.join(build_redirect_chains(seed, wg, rb, cfg), "url", "left")

    # fetcher.queue.mode (Fetcher.java FetchItemQueues queueMode): the
    # politeness-queue unit (operators/resolve.py). The kernel reads
    # `queue_key` when present; in-kernel redirect targets queue by host
    # (no resolver at that point — the reference's UnknownHostException
    # path).
    fl, key = politeness_key(fl, cfg.fetcher_queue_mode, resolver)
    if key != "host":
        fl = fl.withColumnRenamed(key, "queue_key")
        key = "queue_key"

    # politeness placement, the fetchlist's only one: one queue unit -> one
    # fetch task, spread by sort_hash (P1/P3/P4). Repartition on the
    # HIGH-CARDINALITY queue key, not on the logical partition_id: hashing
    # a 0..n-1 id into n buckets collides (measured: 18/32 buckets filled,
    # 2x skew) while hash(host) balances.
    fl = fl.repartition(cfg.num_partitions, F.col(key)).sortWithinPartitions(
        "sort_hash", "url"
    )
    kernel = fetch_partition_kernel(cfg, cycle, start_ms)
    return fl.mapInPandas(kernel, schema=FETCH_OUT_SCHEMA)


def fetch_metrics(fetch_out: DataFrame, cycle: int, start_ms: int) -> DataFrame:
    """Per-partition lineage/metrics rows (north_rule; Fetcher.java:1244-1265)."""
    return fetch_out.groupBy("partition_id").agg(
        F.lit(cycle).alias("cycle"),
        F.countDistinct("host").cast("int").alias("hosts"),
        # rows_in = the kernel-reported INPUT count (rides every output
        # row); count(*) is the OUTPUT count. They differ when timelimit /
        # queue purges / the kill-switch drop items. A partition whose
        # every row was dropped emits nothing and has no metrics row — the
        # one residual blind spot, inherent to output-carried metrics.
        F.coalesce(F.max("part_rows_in"), F.count("*")).alias("rows_in"),
        F.count("*").alias("rows_out"),
        (F.max("fetch_ts") - F.lit(start_ms)).alias("virtual_ms"),
        F.coalesce(F.max("kernel_wall_ms"), F.lit(0)).cast("long").alias("wall_ms"),
    ).select("cycle", "partition_id", "hosts", "rows_in", "rows_out", "virtual_ms", "wall_ms")
