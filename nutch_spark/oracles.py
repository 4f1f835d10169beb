"""DuckDB oracle-SQL builders for the non-trivial gate queries.

Each builder returns ANSI-ish SQL that DuckDB executes over the driver's
pre-registered parquet views, recomputing the Spark query's result through
an INDEPENDENT evaluation path:

- the md5-based token/shingle hashes are recomputed from DuckDB's md5() hex
  output via hex-pair arithmetic (little-endian uint64 of the first 8 bytes,
  exactly `dedup._md5_u64`);
- minhash permutation arithmetic replicates the kernel's deliberate uint64
  wrap: ((a*h) % 2^64 + b) % 2^64 % (2^61-1), in HUGEINT;
- LSH band-bucket equality is expressed as band-VALUE equality (the Spark
  side buckets by xxhash64 of the band slice; equal slices <-> equal buckets
  modulo a ~2^-64 collision);
- random-hyperplane coefficients and minhash (a, b) coefficients are baked
  in as full-precision literals (repr round-trips doubles exactly);
- the fetch-politeness and span-extraction oracles are pure-Python
  reference computations (a naive single-threaded scheduler simulation /
  the corpus's ground-truth segment lists) rendered to VALUES.
"""

from __future__ import annotations

import numpy as np

# --------------------------------------------------------------------------
# shared fragments
# --------------------------------------------------------------------------

_POW256 = "[1,256,65536,16777216,4294967296,1099511627776,281474976710656,72057594037927936]"
_WRAP = "18446744073709551616"  # 2^64
_MERSENNE = "2305843009213693951"  # 2^61 - 1


def md5_u64(hex_expr: str) -> str:
    """SQL: little-endian uint64 (as HUGEINT) of the first 8 bytes of an
    md5 hex string expression (mirror of dedup._md5_u64)."""
    return (
        "CAST(list_sum(list_transform(range(8), j -> "
        f"CAST(((strpos('0123456789abcdef', substring({hex_expr}, 2*j+1, 1)) - 1) * 16 "
        f"+ (strpos('0123456789abcdef', substring({hex_expr}, 2*j+2, 1)) - 1)) AS HUGEINT) "
        f"* ({_POW256})[j+1])) AS HUGEINT)"
    )


def _pow2_values_cte(name: str = "pows", n: int = 64) -> str:
    """CTE (bi, pw): pw = 2^bi for bi in 0..n-1 (DuckDB parses the >2^63
    literals as HUGEINT)."""
    rows = ", ".join(f"({i}, {1 << i})" for i in range(n))
    return f"{name} AS (SELECT * FROM (VALUES {rows}) t(bi, pw))"


def _pow2_list(n: int = 64) -> str:
    return "[" + ", ".join(str(1 << i) for i in range(n)) + "]"


# --------------------------------------------------------------------------
# minhash / LSH / ngram-jaccard / simhash
# --------------------------------------------------------------------------

def minhash_sigs_ctes(num_perm: int = 64, shingle_k: int = 3, seed: int = 42) -> str:
    """CTE chain ending in sigs(doc_id, sig: HUGEINT[num_perm]) — replicates
    dedup.minhash_signatures over the documents view."""
    from nutch_spark.operators.dedup import minhash_permutation_coeffs

    a, b = minhash_permutation_coeffs(num_perm, seed)
    perm_rows = ", ".join(f"({p}, {int(a[p])}, {int(b[p])})" for p in range(num_perm))
    shingle_join = " || ' ' || ".join(f"toks[i+{j+1}]" for j in range(shingle_k))
    zeros = "[" + ", ".join(["CAST(0 AS HUGEINT)"] * num_perm) + "]"
    return f"""
toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS toks FROM documents
),
shingled AS (
  SELECT doc_id,
    CASE WHEN len(toks) >= {shingle_k}
         THEN list_transform(range(len(toks) - {shingle_k - 1}), i -> {shingle_join})
         WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
         ELSE [] END AS shingles
  FROM toks
),
flat AS (SELECT DISTINCT doc_id, unnest(shingles) AS s FROM shingled),
hv AS (SELECT doc_id, {md5_u64("md5(s)")} AS hval FROM flat),
perms AS (SELECT * FROM (VALUES {perm_rows}) t(p, pa, pb)),
minv AS (
  SELECT doc_id, p,
         MIN(((CAST(pa AS HUGEINT) * hval) % {_WRAP} + pb) % {_WRAP} % {_MERSENNE}) AS mh
  FROM hv CROSS JOIN perms GROUP BY doc_id, p
),
sigs AS (
  SELECT t.doc_id, COALESCE(m.sig, {zeros}) AS sig
  FROM toks t LEFT JOIN (
    SELECT doc_id, list(mh ORDER BY p) AS sig FROM minv GROUP BY doc_id
  ) m USING (doc_id)
)"""


def lsh_cand_ctes(bands: int = 16, rows: int = 4) -> str:
    """CTEs banded+cand over sigs: candidate pairs by band-slice equality."""
    return f""",
banded AS (
  SELECT doc_id, bi, sig[bi*{rows}+1 : bi*{rows}+{rows}] AS bs
  FROM sigs CROSS JOIN range({bands}) t(bi)
),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM banded l JOIN banded r
    ON l.bi = r.bi AND l.bs = r.bs AND l.doc_id < r.doc_id
)"""


def sql_minhash_neardup(threshold: float = 0.5, num_perm: int = 64,
                        bands: int = 16, rows: int = 4) -> str:
    return f"""
WITH {minhash_sigs_ctes(num_perm)}{lsh_cand_ctes(bands, rows)}
SELECT a, b, est_jaccard FROM (
  SELECT c.a, c.b,
         list_sum(list_transform(range({num_perm}),
           i -> CASE WHEN sa.sig[i+1] = sb.sig[i+1] THEN 1 ELSE 0 END)) / {num_perm} AS est_jaccard
  FROM cand c
  JOIN sigs sa ON sa.doc_id = c.a
  JOIN sigs sb ON sb.doc_id = c.b
) WHERE est_jaccard >= {threshold}
"""


def sql_ngram_jaccard(n: int = 3, num_perm: int = 64, bands: int = 16, rows: int = 4) -> str:
    """Exact n-gram jaccard over the minhash-LSH candidate pairs, mirroring
    dedup.ngram_sets' Spark-native tokenization (regexp_replace + split)."""
    gram_join = " || ' ' || ".join(f"toks[i+{j+1}]" for j in range(n))
    return f"""
WITH {minhash_sigs_ctes(num_perm)}{lsh_cand_ctes(bands, rows)},
gtoks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(regexp_replace(text, '[^\\w\\s]+', ' ', 'g')), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents
),
grams AS (
  SELECT doc_id,
    CASE WHEN len(toks) >= {n}
         THEN list_distinct(list_transform(range(len(toks) - {n - 1}), i -> {gram_join}))
         ELSE [array_to_string(toks, ' ')] END AS g
  FROM gtoks
)
SELECT c.a, c.b,
       len(list_intersect(ga.g, gb.g)) / len(list_distinct(ga.g || gb.g)) AS jaccard
FROM cand c
JOIN grams ga ON ga.doc_id = c.a
JOIN grams gb ON gb.doc_id = c.b
"""


def sql_simhash_neardup(max_hamming: int = 6) -> str:
    """Replicates dedup.simhash_signatures + h+1-band candidates + exact
    hamming filter. The signature lives as HUGEINT in [0, 2^64)."""
    from nutch_spark.operators.dedup import simhash_band_bounds

    bounds = simhash_band_bounds(max_hamming)
    band_rows = ", ".join(
        f"({i}, {1 << s}, {1 << w})" for i, (s, w) in enumerate(bounds)
    )
    return f"""
WITH {_pow2_values_cte()},
toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS toks FROM documents
),
flat AS (SELECT doc_id, unnest(toks) AS tk FROM toks),
uhash AS (SELECT DISTINCT tk, {md5_u64("md5(tk)")} AS hval FROM flat),
hv AS (SELECT f.doc_id, u.hval FROM flat f JOIN uhash u USING (tk)),
votes AS (
  SELECT doc_id, bi,
         SUM(CASE WHEN (hval // pw) % 2 = 1 THEN 1 ELSE -1 END) AS acc
  FROM hv CROSS JOIN pows GROUP BY doc_id, bi
),
sigs AS (
  SELECT t.doc_id, COALESCE(s.sh, CAST(0 AS HUGEINT)) AS sh
  FROM toks t LEFT JOIN (
    SELECT v.doc_id, CAST(SUM(CASE WHEN v.acc > 0 THEN p.pw ELSE 0 END) AS HUGEINT) AS sh
    FROM votes v JOIN pows p USING (bi) GROUP BY v.doc_id
  ) s USING (doc_id)
),
bandspec AS (SELECT * FROM (VALUES {band_rows}) t(bi, sp, mp)),
banded AS (
  SELECT doc_id, bi, (sh // sp) % mp AS key FROM sigs CROSS JOIN bandspec
),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM banded l JOIN banded r
    ON l.bi = r.bi AND l.key = r.key AND l.doc_id < r.doc_id
)
SELECT a, b, hamming FROM (
  SELECT c.a, c.b,
         CAST(list_sum(list_transform(range(64), i ->
           CASE WHEN (sa.sh // ({_pow2_list()})[i+1]) % 2
                  <> (sb.sh // ({_pow2_list()})[i+1]) % 2 THEN 1 ELSE 0 END)) AS INTEGER) AS hamming
  FROM cand c JOIN sigs sa ON sa.doc_id = c.a JOIN sigs sb ON sb.doc_id = c.b
) WHERE hamming <= {max_hamming}
"""


# --------------------------------------------------------------------------
# hyperplane LSH (ANN / embedding near-dup)
# --------------------------------------------------------------------------

def _planes_values(planes: np.ndarray) -> str:
    """VALUES rows (tbl, weight, pv) — weight = 2^(n_planes-1-pi), matching
    similarity._bucket_col's fold (first plane = MSB)."""
    n_tables, n_planes, _dim = planes.shape
    rows = []
    for t in range(n_tables):
        for p in range(n_planes):
            vec = "[" + ", ".join(repr(float(x)) for x in planes[t, p]) + "]"
            rows.append(f"({t}, {1 << (n_planes - 1 - p)}, {vec})")
    return ", ".join(rows)


def sql_ann_topk(planes: np.ndarray, k: int = 3) -> str:
    """Replicates similarity.ann_cosine_topk for the gate query: 5 lowest
    vec_ids as queries, multi-table hyperplane buckets, exact cosine within
    shared buckets only, round(4), row_number <= k."""
    return f"""
WITH planes AS (SELECT * FROM (VALUES {_planes_values(planes)}) t(tbl, w, pv)),
eb AS (
  SELECT e.vec_id, e.embedding, p.tbl,
         SUM(CASE WHEN list_dot_product(e.embedding, p.pv) >= 0 THEN p.w ELSE 0 END) AS bucket
  FROM embeddings e CROSS JOIN planes p GROUP BY e.vec_id, e.embedding, p.tbl
),
q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings ORDER BY vec_id LIMIT 5),
qb AS (
  SELECT q.q_id, q.q_vec, p.tbl,
         SUM(CASE WHEN list_dot_product(q.q_vec, p.pv) >= 0 THEN p.w ELSE 0 END) AS bucket
  FROM q CROSS JOIN planes p GROUP BY q.q_id, q.q_vec, p.tbl
),
pairs AS (
  SELECT DISTINCT qb.q_id, qb.q_vec, eb.vec_id AS nn_id, eb.embedding AS nn_vec
  FROM qb JOIN eb ON qb.tbl = eb.tbl AND qb.bucket = eb.bucket
  WHERE eb.vec_id <> qb.q_id
),
scored AS (
  SELECT q_id, nn_id,
         ROUND(list_dot_product(q_vec, nn_vec)
               / (sqrt(list_dot_product(q_vec, q_vec))
                  * sqrt(list_dot_product(nn_vec, nn_vec))), 4) AS cosine
  FROM pairs
)
SELECT q_id, nn_id, cosine, rk FROM (
  SELECT q_id, nn_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, nn_id ASC) AS BIGINT) AS rk
  FROM scored
) WHERE rk <= {k}
"""


def sql_embedding_neardup(planes: np.ndarray, threshold: float) -> str:
    """Replicates similarity.embedding_near_duplicates (multi-table bucketed
    self-join, exact cosine >= threshold, round 4)."""
    return f"""
WITH planes AS (SELECT * FROM (VALUES {_planes_values(planes)}) t(tbl, w, pv)),
eb AS (
  SELECT e.vec_id, e.embedding, p.tbl,
         SUM(CASE WHEN list_dot_product(e.embedding, p.pv) >= 0 THEN p.w ELSE 0 END) AS bucket
  FROM embeddings e CROSS JOIN planes p GROUP BY e.vec_id, e.embedding, p.tbl
),
pairs AS (
  SELECT DISTINCT l.vec_id AS a, l.embedding AS va, r.vec_id AS b, r.embedding AS vb
  FROM eb l JOIN eb r ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.vec_id < r.vec_id
)
SELECT a, b, cosine FROM (
  SELECT a, b,
         ROUND(list_dot_product(va, vb)
               / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))), 4) AS cosine
  FROM pairs
) WHERE cosine >= {threshold}
"""


def sql_ivf_topk(n_centroids: int = 16, n_probe: int = 2, k: int = 3) -> str:
    """Replicates similarity.ivf_cosine_topk (kmeans_iters=0): centroids are
    the n_centroids vectors with the smallest md5(CAST(vec_id AS VARCHAR))
    (tie-break vec_id) — the deterministic sampling rule both engines can
    evaluate; data vectors join their argmax-cosine list, queries probe
    their n_probe best lists. Assignment cosines run over DOUBLE[] casts so
    the float64 accumulation matches Spark's F.aggregate fold bit-for-bit
    (argmax must agree exactly — it is not protected by the output round)."""

    def cos(a: str, b: str) -> str:
        return (f"list_dot_product({a}, {b}) / "
                f"(sqrt(list_dot_product({a}, {a})) * "
                f"sqrt(list_dot_product({b}, {b})))")

    return f"""
WITH picked AS (
  SELECT vec_id, embedding FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n_centroids}
),
cents AS (
  SELECT CAST(ROW_NUMBER() OVER (
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INT) - 1 AS list_id,
         CAST(embedding AS DOUBLE[]) AS c_vec
  FROM picked
),
easgn AS (
  SELECT vec_id AS nn_id, embedding AS nn_vec, list_id FROM (
    SELECT e.vec_id, e.embedding, c.list_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {cos('CAST(e.embedding AS DOUBLE[])', 'c.c_vec')} DESC,
                      c.list_id ASC) AS r
    FROM embeddings e CROSS JOIN cents c
  ) WHERE r = 1
),
q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings ORDER BY vec_id LIMIT 5),
qasgn AS (
  SELECT q_id, q_vec, list_id FROM (
    SELECT q.q_id, q.q_vec, c.list_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.q_id
             ORDER BY {cos('CAST(q.q_vec AS DOUBLE[])', 'c.c_vec')} DESC,
                      c.list_id ASC) AS r
    FROM q CROSS JOIN cents c
  ) WHERE r <= {n_probe}
),
pairs AS (
  SELECT qa.q_id, qa.q_vec, ea.nn_id, ea.nn_vec
  FROM qasgn qa JOIN easgn ea USING (list_id)
  WHERE ea.nn_id <> qa.q_id
),
scored AS (
  SELECT q_id, nn_id,
         ROUND({cos('CAST(q_vec AS DOUBLE[])', 'CAST(nn_vec AS DOUBLE[])')}, 4) AS cosine
  FROM pairs
)
SELECT q_id, nn_id, cosine, rk FROM (
  SELECT q_id, nn_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, nn_id ASC) AS BIGINT) AS rk
  FROM scored
) WHERE rk <= {k}
"""


# --------------------------------------------------------------------------
# linkrank (unrolled iterations)
# --------------------------------------------------------------------------

def sql_linkrank(iterations: int = 3, damping: float = 0.85) -> str:
    """Unrolls webgraph.linkrank (reference-exact semantics) over the
    deterministic edge subset (l_orderkey % 3 = 0). Initial score 1.0,
    rankOne = 1/numNodes added to every node's inlink sum each iteration
    (LinkRank.java:333,551,625-627), and the Analyzer inlink dedup: srcs
    are distinct per dst in this fixture (pages never block), so the
    src-ascending greedy reduces exactly to first-per-(dst, domain) —
    a plain window. Literals reproduce the Python float expressions
    bit-for-bit (1.0 - damping is NOT 0.15 in binary)."""
    base = repr(1.0 - damping)  # e.g. 0.15000000000000002
    d = repr(damping)
    ctes = ["""
e0 AS (
  SELECT DISTINCT
    'http://h' || CAST(l_suppkey % 50 AS VARCHAR) || '.example'
      || CAST(l_suppkey % 50 AS VARCHAR) || '.com/order/'
      || CAST(l_orderkey AS VARCHAR) AS src,
    'http://p' || CAST(l_partkey % 40 AS VARCHAR) || '.example.com/part/'
      || CAST(l_partkey AS VARCHAR) AS dst
  FROM lineitem WHERE l_orderkey % 3 = 0
),
nodes AS (SELECT src AS url FROM e0 UNION SELECT dst FROM e0),
deg AS (SELECT src, COUNT(*) AS out_deg FROM e0 GROUP BY src),
ek AS (
  SELECT src, dst FROM (
    SELECT src, dst, ROW_NUMBER() OVER (
      PARTITION BY dst, regexp_extract(src, '^http://h[0-9]+\\.([^/]+)/', 1)
      ORDER BY src) AS rk
    FROM e0) WHERE rk = 1
),
r0 AS (SELECT url, 1.0 AS rank FROM nodes),
rone AS (SELECT 1.0 / COUNT(*) AS v FROM nodes)"""]
    for i in range(1, iterations + 1):
        ctes.append(f"""
c{i} AS (
  SELECT e.dst, SUM(r.rank / d.out_deg) AS in_share
  FROM ek e JOIN r{i - 1} r ON r.url = e.src JOIN deg d ON d.src = e.src
  GROUP BY e.dst
),
r{i} AS (
  SELECT n.url,
         {base} + {d} * ((SELECT v FROM rone) + COALESCE(c.in_share, 0.0)) AS rank
  FROM nodes n LEFT JOIN c{i} c ON c.dst = n.url
)""")
    return ("WITH " + ",".join(ctes)
            + f"\nSELECT url, ROUND(rank, 6) AS rank FROM r{iterations}\n")


# --------------------------------------------------------------------------
# quality score
# --------------------------------------------------------------------------

def sql_quality_score() -> str:
    """Mirrors functions.text.quality_score expression-for-expression (same
    association order so the doubles are bit-identical before round(4))."""
    from nutch_spark.functions.text import _LANG_STOPWORDS

    en = ", ".join(f"'{w}'" for w in _LANG_STOPWORDS["en"])
    return f"""
WITH feat AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(list_filter(string_split_regex(lower(regexp_replace(text, '[^\\w\\s]+', ' ', 'g')), '\\s+'),
             x -> x <> '')) AS n_toks,
         len(list_filter(string_split_regex(lower(regexp_replace(text, '[^\\w\\s]+', ' ', 'g')), '\\s+'),
             x -> list_contains([{en}], x))) AS n_stop,
         length(regexp_replace(text, '[^!?.,;:]', '', 'g')) AS n_punct
  FROM documents
),
scores AS (
  SELECT doc_id,
         LEAST(n_chars / 500.0, 1.0) AS len_score,
         CASE WHEN n_toks > 0 AND (n_chars / n_toks) >= 3 AND (n_chars / n_toks) <= 12
              THEN 1.0 ELSE 0.3 END AS word_score,
         CASE WHEN (CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 1.0 END) <= 0.2
              THEN 1.0
              ELSE 1.0 - (CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 1.0 END) END AS punct_score,
         LEAST((CASE WHEN n_toks > 0 THEN n_stop / n_toks ELSE 0.0 END) * 5.0, 1.0) AS stop_score
  FROM feat
)
SELECT doc_id,
       ROUND(0.3 * len_score + 0.2 * word_score + 0.2 * punct_score + 0.3 * stop_score, 4) AS quality
FROM scores
"""


# --------------------------------------------------------------------------
# fetch-politeness kernel: independent reference simulation -> VALUES
# --------------------------------------------------------------------------

def simulate_fetch_reference(rows: list[dict], threads: int, duration_ms: int,
                             server_delay_ms: int, max_crawl_delay_ms: int,
                             max_exc: int, t0: int,
                             max_redirect: int = 0,
                             chains: dict[str, list[dict]] | None = None,
                             ignore_external: bool = False,
                             thr_pages: int = -1, thr_retries: int = 5,
                             thr_check_after: int = -1) -> list[tuple]:
    """Naive single-'process' reimplementation of the Fetcher politeness
    discipline (fetcher/Fetcher.java:306-573 semantics): per-host FIFO
    queues in first-appearance order, first-eligible-queue-in-order
    selection, thread = earliest free (tie: lowest id), queue ready =
    fetch end + crawl delay, robots/delay gating, per-queue exception purge.
    Independent of the numpy two-heap kernel; used to generate its oracle.

    max_redirect > 0 + chains enables in-thread redirect following
    (Fetcher.java:826-942): chains[url] = ordered hop dicts (url, host,
    page_status, redirect_to, crawl_delay, robots_allowed) — each hop is
    fetched immediately by the redirecting thread and pushes the target
    host's queue clock. thr_pages > 0 enables the throughput kill-switch
    (Fetcher.java:1330-1386): one check per virtual second, cumulative
    violations, queues emptied at thr_retries.

    rows must already be in fetchlist order. Returns
    (url, host, fetch_status, seq, fetch_ts) tuples in emit order.
    """
    from nutch_spark import schemas as S

    chains = chains or {}
    order: list[str] = []
    queues: dict[str, list[int]] = {}
    for i, r in enumerate(rows):
        h = r.get("host") or ""
        if h not in queues:
            queues[h] = []
            order.append(h)
        queues[h].append(i)
    delay = {}
    for h in order:
        first = rows[queues[h][0]]
        cd = first.get("crawl_delay")
        delay[h] = int(cd * 1000) if cd is not None else server_delay_ms
    ready = {h: t0 for h in order}
    exc = {h: 0 for h in order}
    threads_free = [t0] * max(1, threads)
    # chain continuation per thread: [hops, idx, prev_url, prev_host,
    # temp_prev, count]
    chain_state: dict[int, list] = {}

    def gated(r):
        cd = r.get("crawl_delay")
        if cd is not None and cd * 1000 > max_crawl_delay_ms:
            return True
        return not bool(r.get("robots_allowed", False))

    def map_status(ps):
        return {
            None: S.STATUS_FETCH_GONE,
            "ok": S.STATUS_FETCH_SUCCESS,
            "redir_perm": S.STATUS_FETCH_REDIR_PERM,
            "redir_temp": S.STATUS_FETCH_REDIR_TEMP,
            "notmodified": S.STATUS_FETCH_NOTMODIFIED,
            "gone": S.STATUS_FETCH_GONE,
        }.get(ps, S.STATUS_FETCH_RETRY)

    def status_of(r):
        return S.STATUS_FETCH_GONE if gated(r) else map_status(r.get("page_status"))

    def ensure_queue(h, cd_ms):
        if h not in queues:
            queues[h] = []
            order.append(h)
            delay[h] = int(cd_ms) if cd_ms is not None else server_delay_ms
            ready[h] = t0
            exc[h] = 0
        elif cd_ms is not None:
            delay[h] = int(cd_ms)

    out: list[tuple] = []
    remaining = len(rows)
    pages_total = pages_prev = violations = 0
    next_tick = t0 + 1000
    thr = thr_pages
    while remaining > 0 or chain_state:
        ti = min(range(len(threads_free)), key=lambda t: (threads_free[t], t))
        now = threads_free[ti]
        if thr > 0:
            while next_tick <= now:
                if thr_check_after < 0 or next_tick - t0 >= thr_check_after:
                    if pages_total - pages_prev < thr:
                        violations += 1
                        if violations >= thr_retries:
                            thr = -1
                            remaining = 0
                            for h in order:
                                queues[h].clear()
                            break
                pages_prev = pages_total
                next_tick += 1000
            if remaining == 0 and not chain_state:
                break
        st = chain_state.pop(ti, None)
        if st is not None:
            hops, idx, prev_url, prev_host, temp_prev, count = st
            if idx >= len(hops):
                continue
            ent = hops[idx]
            t_url, t_host = ent["url"], ent["host"]
            if t_url is None or t_url == prev_url:
                continue
            if ignore_external and t_host != prev_host:
                continue
            count += 1
            if count > max_redirect:
                out.append((t_url, t_host or "", int(S.STATUS_FETCH_GONE), len(out), now))
                continue
            cd = ent.get("crawl_delay")
            cd_ms = cd * 1000 if cd is not None else None
            if not bool(ent.get("robots_allowed", False)) or (
                cd_ms is not None and cd_ms > max_crawl_delay_ms
            ):
                out.append((t_url, t_host or "", int(S.STATUS_FETCH_GONE), len(out), now))
                continue
            ensure_queue(t_host or "", cd_ms)
            ps = ent.get("page_status")
            out.append((t_url, t_host or "", int(map_status(ps)), len(out), now))
            if ps == "ok":
                pages_total += 1
            en = now + duration_ms
            threads_free[ti] = en
            h = t_host or ""
            ready[h] = max(ready[h], en + delay[h])
            if ps is not None and ps not in ("ok", "redir_perm", "redir_temp", "notmodified", "gone"):
                exc[h] += 1
                if max_exc >= 0 and exc[h] >= max_exc:
                    remaining -= len(queues[h])
                    queues[h].clear()
            if ps in ("redir_perm", "redir_temp"):
                chain_state[ti] = [hops, idx + 1, t_url, t_host,
                                   ps == "redir_temp", count]
            continue
        if remaining == 0:
            threads_free[ti] = now + duration_ms
            continue
        pick = None
        for h in order:
            if queues[h] and ready[h] <= now:
                pick = h
                break
        if pick is None:
            nxts = [ready[h] for h in order if queues[h]]
            threads_free[ti] = min(nxts) if nxts else now + duration_ms
            continue
        i = queues[pick].pop(0)
        r = rows[i]
        remaining -= 1
        out.append((r["url"], r.get("host") or "", int(status_of(r)), len(out), now))
        if gated(r):
            continue  # no fetch happened: thread + queue untouched
        end = now + duration_ms
        threads_free[ti] = end
        ps = r.get("page_status")
        if ps == "ok":
            pages_total += 1
        if ps is not None and ps not in ("ok", "redir_perm", "redir_temp", "notmodified", "gone"):
            exc[pick] += 1
            if max_exc >= 0 and exc[pick] >= max_exc:
                remaining -= len(queues[pick])
                queues[pick].clear()
        ready[pick] = end + delay[pick]
        if (max_redirect > 0 and ps in ("redir_perm", "redir_temp")
                and chains.get(r["url"])):
            chain_state[ti] = [chains[r["url"]], 0, r["url"],
                               r.get("host") or "", ps == "redir_temp", 0]
    return out


def _sql_str(v) -> str:
    if v is None:
        return "NULL"
    return "'" + str(v).replace("'", "''") + "'"


def sql_fetch_kernel(rows: list[dict], **sim_kwargs) -> str:
    """Render the independent scheduler simulation as a SQL VALUES oracle.
    Accepts every simulate_fetch_reference knob (redirect chains,
    throughput kill-switch, ...)."""
    sim = simulate_fetch_reference(rows, **sim_kwargs)
    vals = ", ".join(
        f"({_sql_str(u)}, {_sql_str(h)}, {st}, {seq}, {ts})"
        for u, h, st, seq, ts in sim
    )
    return f"""
SELECT url, host, CAST(fetch_status AS BIGINT) AS fetch_status,
       CAST(seq AS BIGINT) AS seq, CAST(fetch_ts AS BIGINT) AS fetch_ts
FROM (VALUES {vals}) t(url, host, fetch_status, seq, fetch_ts)
"""


# --------------------------------------------------------------------------
# span extraction: corpus ground-truth segments -> VALUES
# --------------------------------------------------------------------------

def sql_span_extraction(n_hosts: int, pages_per_host: int, mega_factor: int) -> str:
    """The corpus's ordered segment lists ARE the ground truth the parser
    must reproduce (corpus.expected_spans_rows; independent of the regex
    parse kernel)."""
    from nutch_spark.corpus import SyntheticWeb

    web = SyntheticWeb(n_hosts=n_hosts, pages_per_host=pages_per_host,
                       mega_factor=mega_factor)
    vals = ", ".join(
        f"({_sql_str(r['doc_id'])}, {r['offset']}, {_sql_str(r['kind'])}, "
        f"{_sql_str(r['text'])}, {_sql_str(r['media_ref'])})"
        for r in web.expected_spans_rows()
    )
    return f"""
SELECT doc_id, CAST("offset" AS INTEGER) AS "offset", kind, text, media_ref
FROM (VALUES {vals}) t(doc_id, "offset", kind, text, media_ref)
"""


# --------------------------------------------------------------------------
# regex URL normalization (RegexURLNormalizer rules as an RE2 chain)
# --------------------------------------------------------------------------

def regex_normalize_expr(col_expr: str) -> str:
    """DuckDB regexp_replace fold over the ported default rules (the RE2
    dialect column of DEFAULT_REGEX_RULES; verified pair-for-pair against
    plugin/urlnormalizer-regex/sample/regex-normalize-default.test)."""
    from nutch_spark.functions.normalizers import DEFAULT_REGEX_RULES

    def esc(s: str) -> str:
        return s.replace("'", "''")

    expr = col_expr
    for _jp, _js, pp, ps in DEFAULT_REGEX_RULES:
        expr = f"regexp_replace({expr}, '{esc(pp)}', '{esc(ps)}', 'g')"
    return expr


def sql_regex_normalize() -> str:
    """Oracle for q_regex_normalize: the same deterministic messy-URL
    derivation + the RE2-dialect rule chain."""
    url = """CASE CAST(o_orderkey % 4 AS INTEGER)
      WHEN 0 THEN base || 'foo.php?PHPSESSID=' || md5(CAST(o_orderkey AS VARCHAR))
      WHEN 1 THEN base || 'a/index.html'
      WHEN 2 THEN base || 'p.html#anchor?x=' || CAST(o_orderkey AS VARCHAR)
      ELSE base || 'q.html?a=1&&b=' || CAST(o_orderkey AS VARCHAR)
    END"""
    return f"""
WITH u AS (
  SELECT {url} AS url FROM (
    SELECT o_orderkey,
           'http://h' || CAST(o_custkey % 50 AS VARCHAR) || '.example.com/' AS base
    FROM orders
  )
)
SELECT url, {regex_normalize_expr("url")} AS normalized FROM u
"""


# --------------------------------------------------------------------------
# item extraction: corpus item ground truth -> VALUES
# --------------------------------------------------------------------------

def sql_items(n_hosts: int, pages_per_host: int, mega_factor: int) -> str:
    """Ground-truth items planted by the corpus generator (independent of
    the span parser + extractor under test)."""
    from nutch_spark.corpus import SyntheticWeb

    web = SyntheticWeb(n_hosts=n_hosts, pages_per_host=pages_per_host,
                       mega_factor=mega_factor)
    vals = ", ".join(
        f"({_sql_str(e['doc_id'])}, {_sql_str(e['platform'])}, "
        f"{_sql_str(e['item_id'])}, {_sql_str(e['name'])}, "
        f"{_sql_str(' > '.join(e['category']))}, {e['price']!r}, "
        f"{_sql_str(e['photo_ref'])})"
        for e in web.expected_items_rows()
    )
    return f"""
SELECT doc_id, platform, item_id, name, category_path,
       ROUND(CAST(price AS DOUBLE), 2) AS price, photo_ref
FROM (VALUES {vals}) t(doc_id, platform, item_id, name, category_path, price, photo_ref)
"""
