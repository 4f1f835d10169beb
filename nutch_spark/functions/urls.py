"""URL kernels: normalization, filtering, host/domain extraction, hashes.

These are determinism-critical — the URL-seen set is keyed by the normalized
URL, so two runs (or two cluster sizes) must normalize identically.

Semantics reproduced from the reference (cited per function):
- BasicURLNormalizer rules (plugin/urlnormalizer-basic/.../BasicURLNormalizer.java:88-197)
- Regex +/- filter, first match decides (plugin/lib-regex-filter/.../RegexURLFilterBase.java)
- fetchlist ordering hash (crawl/Generator.java:389-397)

All batch kernels are pandas-vectorized where possible and exposed both as
plain Python (for tests/driver code) and as pandas UDFs (for DataFrames).
Per-row Python exists only inside Arrow-batched UDFs, never as Spark
row-at-a-time UDFs.
"""

from __future__ import annotations

import re
from functools import lru_cache
from urllib.parse import urlsplit, urlunsplit

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, IntegerType, StringType

# ---------------------------------------------------------------------------
# Normalization (reference: BasicURLNormalizer.java:88-197)
# ---------------------------------------------------------------------------

_DEFAULT_PORTS = {"http": 80, "https": 443, "ftp": 21}
_SLASH_DOT_RE = re.compile(r"/\./")            # "/./" -> "/"
_DOUBLE_SLASH_RE = re.compile(r"(?<!:)//+")     # "//" in path -> "/"
_UP_DIR_RE = re.compile(r"/[^/]+/\.\./")        # "/aa/../" -> "/"


@lru_cache(maxsize=1 << 16)
def normalize_url(url: str) -> str | None:
    """Normalize one URL; returns None for malformed input.

    Rules (BasicURLNormalizer.java:88-197): lowercase scheme and host, strip
    default port, strip fragment, empty path -> '/', resolve '/./', '/../'
    and collapse duplicate slashes in the path.
    """
    if url is None:
        return None
    url = url.strip()
    if not url:
        return None
    try:
        parts = urlsplit(url)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if not scheme or not parts.netloc:
        return None
    host = parts.hostname
    if not host:
        return None
    host = host.lower().rstrip(".")
    port = None
    try:
        port = parts.port
    except ValueError:
        return None
    netloc = host
    if port is not None and port != _DEFAULT_PORTS.get(scheme):
        netloc = f"{host}:{port}"
    path = parts.path or "/"
    # iteratively resolve ./ and ../ and // (the reference loops until fixpoint)
    prev = None
    while prev != path:
        prev = path
        path = _SLASH_DOT_RE.sub("/", path)
        path = _UP_DIR_RE.sub("/", path)
        path = _DOUBLE_SLASH_RE.sub("/", path)
    # leading "/../" segments cannot be resolved; drop them
    while path.startswith("/../"):
        path = path[3:]
    return urlunsplit((scheme, netloc, path, parts.query, ""))


# Fast-path detector: URLs that normalization provably maps to themselves
# (lowercase scheme+host, no port, no fragment, no trailing host dot, a path
# with no '//', '/./' or '/../', not ending in a bare '?' — urlunsplit drops
# an empty query). Everything else takes the exact slow path. The Python side
# uses fullmatch (so a trailing newline can't hide behind '$'); the JVM rlike
# variant appends Java's absolute-end anchor '\z' for the same reason.
_FAST_OK_PATTERN = r"^(?:http|https|ftp)://[a-z0-9-]+(?:\.[a-z0-9-]+)*/(?:[^\s#]*[^\s#?])?"
_FAST_OK_RE = re.compile(_FAST_OK_PATTERN)
_NEEDS_WORK_RE = re.compile(r"(?<!:)//|/\./|/\.\.(?:/|$)")


def normalize_url_series(urls: pd.Series) -> pd.Series:
    fast = (
        urls.str.fullmatch(_FAST_OK_RE, na=False)
        & ~urls.str.contains(_NEEDS_WORK_RE, regex=True, na=False)
    )
    if bool(fast.all()):
        return urls.copy()
    out = urls.copy()
    slow = ~fast
    out[slow] = urls[slow].map(normalize_url)
    return out


def is_normal_form_col(url_col):
    """Native (JVM, codegen) test that normalization maps a URL to itself —
    the same predicate pair as the pandas fast path (Java regex semantics
    match for these patterns). Lets normalize_inline run the Python
    normalizer only on the rows that fail it."""
    return url_col.rlike(_FAST_OK_PATTERN + r"\z") & ~url_col.rlike(_NEEDS_WORK_RE.pattern)


def normalize_inline(df, in_col: str, out_col: str):
    """Single-pass split-normalize, the basic stage of
    normalizers.normalize_chain_split: already-normal rows pass through
    JVM-side, and the plan stays one linear scan (a filter/union split
    re-evaluates the upstream subtree once per branch). The Python
    normalizer only does real work on the weird rows: its input is NULLed
    out for already-normal rows, so the Arrow exchange ships ~only the
    weird rows' bytes and the pandas kernel passes nulls through. NULL
    in_col rows yield NULL out_col.

    The is-normal rlike pair rides a named column so it is evaluated ONCE
    per row: inlining `fast` into both branch tests made the pair run
    twice (pre-Arrow for the UDF input projection, post-Arrow for the
    branch pick) — measured 8.7 -> 5.3 s on the 3.8M-outlink bench leg."""
    c = F.col(in_col)
    tmp = f"__isnorm_{out_col}"
    d = df.withColumn(tmp, is_normal_form_col(c))
    fast = F.col(tmp)
    slow_out = normalize_url_udf(F.when(~fast, c))
    return d.withColumn(out_col, F.when(fast, c).otherwise(slow_out)).drop(tmp)


@F.pandas_udf(StringType())
def normalize_url_udf(urls: pd.Series) -> pd.Series:
    return normalize_url_series(urls)


# ---------------------------------------------------------------------------
# Host / domain extraction (reference: util/URLUtil.java:153-193)
# ---------------------------------------------------------------------------

_HOST_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)")

# full public-suffix set generated from the reference's public data file
# conf/domain-suffixes.xml (tools/gen_suffixes.py; 2675 entries — IANA TLDs
# + the Mozilla/publicsuffix.org effective-TLD list)
from nutch_spark.functions.suffixes import DOMAIN_SUFFIXES

_IP_RE = re.compile(r"(\d{1,3}\.){3}\d{1,3}")  # URLUtil.java:144 IP_PATTERN


def extract_host_series(urls: pd.Series) -> pd.Series:
    """Vectorized host extraction (lowercased)."""
    return urls.str.extract(_HOST_RE, expand=False).str.lower()


def extract_host(url: str | None) -> str | None:
    """Scalar host extraction (lowercased) — same regex as the vectorized
    form, for sequential kernels where building a 1-element pd.Series per
    row would dominate (e.g. the OutlinkDb greedy walk)."""
    if url is None:
        return None
    m = _HOST_RE.match(url)
    return m.group(1).lower() if m else None


@lru_cache(maxsize=1 << 16)
def registered_domain(host: str | None) -> str | None:
    """host -> registered domain: exact port of the left-shrinking walk in
    util/URLUtil.getDomainName (URLUtil.java:153-172) over the full suffix
    table — the part after the first dot is tested against the suffix set;
    first hit wins; IPs and bare labels pass through."""
    if host is None:
        return None
    host = host.lower()
    if host.endswith("."):
        host = host[:-1]
    if _IP_RE.fullmatch(host):
        return host
    candidate = host
    while True:
        i = candidate.find(".")
        sub = candidate[i + 1:]  # i == -1 -> the whole candidate
        if sub in DOMAIN_SUFFIXES or i < 0:
            return candidate
        candidate = sub


@lru_cache(maxsize=1 << 16)
def domain_suffix(host: str | None) -> str | None:
    """host -> its matched public suffix (URLUtil.getDomainSuffix:196-213
    analogue: the first suffix-set hit while shrinking from the left); None
    when the host has no recognized suffix (or is an IP)."""
    if host is None:
        return None
    host = host.lower()
    if host.endswith("."):
        host = host[:-1]
    if _IP_RE.fullmatch(host):
        return None
    candidate = host
    while True:
        i = candidate.find(".")
        if i < 0:
            return candidate if candidate in DOMAIN_SUFFIXES else None
        candidate = candidate[i + 1:]
        if candidate in DOMAIN_SUFFIXES:
            return candidate


def top_level_domain(host: str | None) -> str | None:
    """host -> top-level domain = last label of its suffix
    (URLUtil.getTopLevelDomainName:188-201)."""
    sfx = domain_suffix(host)
    if sfx is None:
        return None
    return sfx.rsplit(".", 1)[-1]


def extract_domain_series(urls: pd.Series) -> pd.Series:
    # na_action: a URL the host regex can't match yields NaN, and
    # registered_domain(float) would raise, killing the whole Arrow batch
    # (the same guard suffix_udf already carries)
    return extract_host_series(urls).map(registered_domain, na_action="ignore")


@F.pandas_udf(StringType())
def domain_udf(urls: pd.Series) -> pd.Series:
    return extract_domain_series(urls)


@F.pandas_udf(StringType())
def suffix_udf(urls: pd.Series) -> pd.Series:
    return extract_host_series(urls).map(domain_suffix, na_action="ignore")


@F.pandas_udf(StringType())
def tld_udf(urls: pd.Series) -> pd.Series:
    return extract_host_series(urls).map(top_level_domain, na_action="ignore")


def host_col(url_col):
    """Native-expression host extraction for hot paths (JVM-side).

    parse_url is codegen'd; the pandas UDF variants above are for parity
    tests. Keep this in shuffles/joins so plans stay whole-stage-codegen.
    """
    return F.lower(F.parse_url(url_col, F.lit("HOST")))


# ---------------------------------------------------------------------------
# Regex URL filter (reference: RegexURLFilterBase.java; rules:
# conf/regex-urlfilter.txt:26-137 — first matching +/- rule decides,
# no match -> reject)
# ---------------------------------------------------------------------------

DEFAULT_FILTER_RULES: list[tuple[str, str]] = [
    ("-", r"^(?:file|ftp|mailto|javascript|data):"),
    ("-", r"\.(?:gif|jpe?g|png|ico|css|sit|eps|wmf|zip|ppt|mpg|gz|rpm|tgz|mov|exe|bmp|js)$"),
    ("-", r"[?*!@=].*[?*!@=]"),  # skip URLs with repeated dynamic markers
    ("+", r"^https?://"),
]


class RegexUrlFilter:
    """Ordered +/- regex rule list; first match decides; no match rejects."""

    def __init__(self, rules: list[tuple[str, str]] | None = None):
        self.rules = [(sign, re.compile(pat)) for sign, pat in (rules or DEFAULT_FILTER_RULES)]

    def accepts(self, url: str | None) -> bool:
        if url is None:
            return False
        for sign, pat in self.rules:
            if pat.search(url):
                return sign == "+"
        return False

    def accepts_series(self, urls: pd.Series) -> pd.Series:
        # per-row search, as str.contains does for object columns, but
        # stopping at the first matching rule and without its per-call
        # warning on rules with capturing groups
        return pd.Series([isinstance(u, str) and self.accepts(u) for u in urls],
                         index=urls.index, dtype=bool)

    def udf(self):
        rules = [(s, p.pattern) for s, p in self.rules]

        @F.pandas_udf(BooleanType())
        def _accepts(urls: pd.Series) -> pd.Series:
            return RegexUrlFilter(rules).accepts_series(urls)

        return _accepts

    def col(self, url_col):
        """Native first-match-decides chain (JVM rlike when-cascade) — for
        hot paths; the default rule patterns are Java-regex compatible.
        Python-re-only constructs would need the pandas udf() instead."""
        expr = F.lit(False)  # no match -> reject
        for sign, pat in reversed(self.rules):
            expr = F.when(url_col.rlike(pat.pattern), F.lit(sign == "+")).otherwise(expr)
        return url_col.isNotNull() & expr


# ---------------------------------------------------------------------------
# fetchlist ordering hash (reference: crawl/Generator.java:389-397)
#   hash = 1; for i = len-1 .. 0: hash = 31*hash + (int)(signed byte)bytes[i]
# Java int32 wraparound; bytes are the UTF-8 encoding of the URL.
# ---------------------------------------------------------------------------

def fetch_order_hash(url: str) -> int:
    h = np.int32(1)
    b = np.frombuffer(url.encode("utf-8"), dtype=np.int8)
    with np.errstate(over="ignore"):
        for v in b[::-1]:
            h = np.int32(31) * h + np.int32(v)
    return int(h)


def fetch_order_hash_series(urls: pd.Series) -> pd.Series:
    """Vectorized Horner over reversed bytes with int32 wraparound.

    Same recurrence as fetch_order_hash (tests assert elementwise equality):
    instead of looping bytes per string, loop byte POSITIONS (bounded by the
    longest URL) over numpy column slices — ~60 vector ops for any batch.
    """
    n = len(urls)
    if n == 0:
        return pd.Series([], dtype="object")
    enc = [u.encode("utf-8") if isinstance(u, str) else None for u in urls]
    lens = np.array([len(b) if b is not None else -1 for b in enc], dtype=np.int64)
    maxlen = int(lens.max()) if n else 0
    if maxlen <= 0:
        # all-empty/None batch: empty string hashes to 1 (the Horner seed),
        # matching the scalar fetch_order_hash(''); None only for non-strings
        return pd.Series([1 if b is not None else None for b in enc],
                         index=urls.index, dtype="object")
    mat = np.zeros((n, maxlen), dtype=np.int8)
    for i, b in enumerate(enc):
        if b:
            mat[i, : len(b)] = np.frombuffer(b, dtype=np.int8)[::-1]
    h = np.ones(n, dtype=np.int32)
    with np.errstate(over="ignore"):
        for j in range(maxlen):
            active = lens > j
            h[active] = np.int32(31) * h[active] + mat[active, j].astype(np.int32)
    out = pd.Series(h, index=urls.index, dtype="object")
    out[lens < 0] = None
    return out


@F.pandas_udf(IntegerType())
def fetch_order_hash_udf(urls: pd.Series) -> pd.Series:
    return fetch_order_hash_series(urls).astype("Int32")


# ---------------------------------------------------------------------------
# repr URL on redirects (reference: util/URLUtil.java:343-449, simplified
# deterministic subset: permanent redirect -> target; temporary -> source
# unless target is "more canonical" = shorter netloc+path)
# ---------------------------------------------------------------------------

def choose_repr_url(src: str, dst: str, temp: bool) -> str:
    """Exact port of URLUtil.chooseRepr (URLUtil.java:343-449):
    cross-DOMAIN redirects keep dst; permanent keeps src only when src is
    the root page; temp prefers the root side, else (same host) the side
    with fewer path segments / shorter file, else the shorter hostname.
    `file` is path+query (java.net.URL.getFile); the segment counts use
    Java split semantics (trailing empty strings dropped)."""
    try:
        s, d = urlsplit(src), urlsplit(dst)
        if not s.scheme or not d.scheme:
            return dst
    except ValueError:
        return dst  # malformed -> dst (:352-354)

    def jsplit_len(text: str, sep: str) -> int:
        parts = text.split(sep)
        while parts and parts[-1] == "":
            parts.pop()
        return len(parts)

    # java.net.URL.getHost(): no port, no userinfo — netloc keeps both, so
    # comparing netloc skipped the same-host rule whenever one side carried
    # an explicit :80 or user@ (e.g. src 'http://h/a/b/c' vs dst
    # 'http://h:80/d' must take the same-host fewer-segments branch).
    # CASE-PRESERVING, unlike urlsplit().hostname (which lowercases):
    # the reference's srcHost.equals(dstHost) is case-sensitive, so
    # 'WWW.a.com' vs 'www.a.com' must take the different-hosts branch
    def jhost(u) -> str:
        h = (u.netloc or "").rsplit("@", 1)[-1]
        if h.startswith("["):  # IPv6 literal: Java getHost keeps brackets
            return h.split("]", 1)[0] + "]" if "]" in h else h
        return h.split(":", 1)[0]

    src_host, dst_host = jhost(s), jhost(d)
    src_file = s.path + (f"?{s.query}" if s.query else "")
    dst_file = d.path + (f"?{d.query}" if d.query else "")
    src_root = src_file in ("/", "")
    dst_root = dst_file in ("/", "")
    if registered_domain(s.hostname or "") != registered_domain(d.hostname or ""):
        return dst  # 1) different domain -> dst (:396-398)
    if not temp:
        return src if src_root else dst  # 2)/3)/4) (:401-410)
    if src_root and not dst_root:
        return src  # 5)
    if not src_root and dst_root:
        return dst  # 6)
    if not src_root and not dst_root and src_host == dst_host:
        # 7) same host: fewer path segments wins, then shorter file (:425-436)
        n_src, n_dst = jsplit_len(src_file, "/"), jsplit_len(dst_file, "/")
        if n_src != n_dst:
            return dst if n_dst < n_src else src
        return dst if len(dst_file) < len(src_file) else src
    # 8) different hosts (or both root): fewer host labels wins (:439-443)
    return dst if jsplit_len(dst_host, ".") < jsplit_len(src_host, ".") else src
