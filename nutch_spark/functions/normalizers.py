"""Scoped URL-normalizer chains: Basic -> Host-alias -> Regex.

Reference semantics:
- RegexURLNormalizer (plugin/urlnormalizer-regex/.../RegexURLNormalizer.java:64+,
  core loop :182-191): ordered regex substitution rules, each applied once
  with replaceAll; per-scope rule sets fall back to the default set. The
  shipped default rules are ported from
  plugin/urlnormalizer-regex/sample/regex-normalize-default.xml (session-id
  stripping, default-page collapsing, anchor removal, query cleanup) and
  verified against regex-normalize-default.test pair-for-pair.
- Host-alias normalizer (plugin/urlnormalizer-host, conf/host-urlnormalizer.txt):
  "host target" lines, '*.domain' wildcards; rewrites the URL's host.
- Scopes (net/URLNormalizers.java:81-99): default, partition,
  generate_host_count, fetcher, crawldb, linkdb, inject, outlink, indexer;
  chain per scope; unknown scope -> default rules (URLNormalizers.java:132+).

Every rule ships in BOTH dialects: the Java pattern/substitution feeds
Spark's native regexp_replace (JVM Matcher semantics = the reference's,
whole-stage codegen, zero Python), and a hand-ported Python re equivalent
(scoped (?i:...) groups, \\N backrefs) feeds the scalar/pandas paths used by
tests and driver-side code. Rule tuples: (java_pat, java_sub, py_pat, py_sub).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

SCOPES = (
    "default", "partition", "generate_host_count", "fetcher",
    "crawldb", "linkdb", "inject", "outlink", "indexer",
)

# regex-normalize-default.xml, in file order (order matters)
DEFAULT_REGEX_RULES: list[tuple[str, str, str, str]] = [
    # strip session ids (sid/phpsessid/sessionid with optional l/j/bv_ prefix)
    (r"([;_]?((?i)l|j|bv_)?((?i)sid|phpsessid|sessionid)=.*?)(\?|&|#|$)", r"$4",
     r"([;_]?((?i:l|j|bv_))?((?i:sid|phpsessid|sessionid))=.*?)(\?|&|#|$)", r"\4"),
    # collapse default pages (index.html, default.asp, ...) to the directory
    (r"/((?i)index|default)\.((?i)js[pf]{1}?[afx]?|cgi|cfm|asp[x]?|[psx]?htm[l]?|php[3456]?)(\?|&|#|$)", r"/$3",
     r"/((?i:index|default))\.((?i:js[pf]{1}?[afx]?|cgi|cfm|asp[x]?|[psx]?htm[l]?|php[3456]?))(\?|&|#|$)", r"/\3"),
    # drop interpage anchors (keep a following query)
    (r"#.*?(\?|&|$)", r"$1", r"#.*?(\?|&|$)", r"\1"),
    # '?&' -> '?'
    (r"\?&", r"\?", r"\?&", r"?"),
    # '&&&' -> '&'
    (r"&{2,}", r"&", r"&{2,}", r"&"),
    # trailing '?', '&' or '.'
    (r"[\?&\.]$", r"", r"[\?&\.]$", r""),
]

# regex-normalize-scope1.xml: reduce any URL to its registered-domain root
# (the sample per-scope override used by the reference's scope tests)
SCOPE1_SAMPLE_RULES: list[tuple[str, str, str, str]] = [
    (r"(^[a-z]{3,5}://)([\w]+\.)*?(\w+\.\w+)[/$].*", r"$1$3/",
     r"(^[a-z]{3,5}://)([\w]+\.)*?(\w+\.\w+)[/$].*", r"\1\3/"),
]


# one combined pre-test that is a SUPERSET of "any default rule matches":
# sid-family param, default-page segment, anchor, '?&', '&&', trailing
# [?&.] — if it fails, every rule is a no-op on the original string (and
# with no first rewrite there is no cascade), so the whole replace chain
# can be skipped. Measured ~2x on the outlink stream at 5% dirty rows and
# break-even at 40% (tools/probe_regex_guard.py).
DEFAULT_REGEX_GUARD = (
    r"(?i:sid|phpsessid|sessionid)=|/(?i:index|default)\.|#|\?&|&{2,}|[?&.]$"
)


class RegexURLNormalizer:
    """Ordered substitution chain (one replaceAll pass per rule)."""

    def __init__(self, rules: list[tuple[str, str, str, str]] | None = None):
        self.rules = rules if rules is not None else DEFAULT_REGEX_RULES
        self._compiled = [(re.compile(py_p), py_s) for _jp, _js, py_p, py_s in self.rules]
        # the guard is derived from the DEFAULT rule set only; custom scope
        # rule sets run unguarded (correctness over speed for overrides)
        self.guard = DEFAULT_REGEX_GUARD if self.rules is DEFAULT_REGEX_RULES else None

    def normalize(self, url: str | None) -> str | None:
        if url is None:
            return None
        for pat, sub in self._compiled:
            url = pat.sub(sub, url)
        return url

    def series(self, urls: pd.Series) -> pd.Series:
        out = urls
        for pat, sub in self._compiled:
            out = out.str.replace(pat, sub, regex=True)
        return out

    def col(self, url_col: Column) -> Column:
        """Native regexp_replace fold — Java Matcher semantics match the
        reference exactly; stays inside whole-stage codegen. With the
        default rule set, a single combined rlike guard lets rule-free URLs
        (the steady-state majority of outlinks) skip all six replaces."""
        out = url_col
        for java_pat, java_sub, _pp, _ps in self.rules:
            out = F.regexp_replace(out, java_pat, java_sub)
        if self.guard is not None:
            return F.when(url_col.rlike(self.guard), out).otherwise(url_col)
        return out


class HostAliasNormalizer:
    """host->target alias map with '*.domain' wildcards
    (conf/host-urlnormalizer.txt format)."""

    _URL_RE = re.compile(r"^([a-zA-Z][a-zA-Z0-9+.-]*://)([^/:?#]+)(.*)$", re.S)

    def __init__(self, aliases: dict[str, str] | None = None):
        self.exact = {h: t for h, t in (aliases or {}).items() if not h.startswith("*.")}
        self.wild = {h[2:]: t for h, t in (aliases or {}).items() if h.startswith("*.")}

    @classmethod
    def from_text(cls, text: str) -> "HostAliasNormalizer":
        aliases = {}
        for line in text.splitlines():
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            parts = line.split()
            if len(parts) == 2:
                aliases[parts[0]] = parts[1]
        return cls(aliases)

    def _target(self, host: str) -> str | None:
        if host in self.exact:
            return self.exact[host]
        for dom, tgt in self.wild.items():
            if host == dom or host.endswith("." + dom):
                return tgt
        return None

    def normalize(self, url: str | None) -> str | None:
        if url is None:
            return None
        m = self._URL_RE.match(url)
        if not m:
            return url
        tgt = self._target(m.group(2).lower())
        return url if tgt is None else m.group(1) + tgt + m.group(3)

    def series(self, urls: pd.Series) -> pd.Series:
        if not self.exact and not self.wild:
            return urls
        return urls.map(self.normalize, na_action="ignore")

    def col(self, url_col: Column) -> Column:
        """Native SINGLE-lookup rewrite with first-match semantics — the
        same resolution _target() does (exact map first, then wildcards
        in declaration order, at most ONE rewrite). A sequential
        regexp_replace chain here once let a rewritten host be rewritten
        AGAIN by a later wildcard rule, so the distributed path produced
        different normalized urls than the scalar/driver path whenever an
        alias target overlapped another rule. Splicing the literal target
        column also sidesteps replacement-string '$'/'\\' escaping."""
        if not self.exact and not self.wild:
            return url_col
        parts = "(?s)" + self._URL_RE.pattern  # re.S travels as an inline flag
        pre = F.regexp_extract(url_col, parts, 1)
        h = F.regexp_extract(url_col, parts, 2)
        rest = F.regexp_extract(url_col, parts, 3)
        hl = F.lower(h)
        conds: list[tuple[Column, str]] = []
        for host, tgt in self.exact.items():
            conds.append((hl == host, tgt))
        for dom, tgt in self.wild.items():
            conds.append(((hl == dom) | hl.endswith("." + dom), tgt))
        tgt_col: Column = F.lit(None).cast("string")
        for cond, tgt in reversed(conds):
            tgt_col = F.when(cond, F.lit(tgt)).otherwise(tgt_col)
        return F.when(
            (pre != "") & tgt_col.isNotNull(), F.concat(pre, tgt_col, rest)
        ).otherwise(url_col)


class ScopedNormalizers:
    """Per-scope chains (URLNormalizers.java:81-99,132+): Basic ->
    Host-alias -> Regex, with per-scope regex rule overrides falling back to
    the default set (RegexURLNormalizer.regexNormalize scope fallback)."""

    def __init__(self,
                 regex_rules_by_scope: dict[str, list] | None = None,
                 host_aliases: dict[str, str] | None = None,
                 loop_count: int = 1):
        self.regex_by_scope = regex_rules_by_scope or {}
        self.host = HostAliasNormalizer(host_aliases)
        self._default_regex = RegexURLNormalizer(
            self.regex_by_scope.get("default", DEFAULT_REGEX_RULES))
        self._scope_regex: dict[str, RegexURLNormalizer] = {}
        # urlnormalizer.loop.count (URLNormalizers.java:138,279-293)
        self.loop_count = max(1, loop_count)

    def regex_for(self, scope: str) -> RegexURLNormalizer:
        if scope in self.regex_by_scope:
            # cache per scope: constructing a RegexURLNormalizer compiles
            # the whole rule list, and the scalar normalize() path calls
            # this per URL
            cached = self._scope_regex.get(scope)
            if cached is None:
                cached = self._scope_regex[scope] = RegexURLNormalizer(
                    self.regex_by_scope[scope])
            return cached
        return self._default_regex

    def normalize(self, url: str | None, scope: str = "default") -> str | None:
        """Full chain, repeated up to loop_count times until the url is
        stable (URLNormalizers.normalize, URLNormalizers.java:279-293)."""
        from nutch_spark.functions.urls import normalize_url

        regex = self.regex_for(scope)
        for _ in range(self.loop_count):
            prev = url
            url = normalize_url(url)
            if url is None:
                return None
            url = regex.normalize(self.host.normalize(url))
            if url == prev:
                break
        return url

    def post_basic_col(self, url_col: Column, scope: str = "default") -> Column:
        """The native Host+Regex tail of the chain, which
        normalize_chain_split (the one DataFrame path) runs after the basic
        stage. loop_count > 1 composes the tail that many times — equivalent
        to the reference's break-at-fixpoint loop because re-applying a
        chain to a stable url is a no-op (the basic stage is not repeated
        here: its output is idempotent, and a regex rule rewriting into
        basic-unnormal form is a rule-authoring bug; the scalar `normalize`
        path repeats the full chain exactly)."""
        regex = self.regex_for(scope)
        col = url_col
        for _ in range(self.loop_count):
            col = regex.col(self.host.col(col))
        return col


_CHAINS_BY_LOOP_COUNT: dict[int, "ScopedNormalizers"] = {}


def normalizers_for_loop_count(loop_count: int) -> "ScopedNormalizers":
    """Default chain honoring urlnormalizer.loop.count
    (URLNormalizers.java:138,279-293), cached per count — construction
    compiles the rule tables, so operators reuse one instance per cfg
    value instead of hard-wiring the loop_count=1 module default."""
    lc = max(1, int(loop_count))
    ns = _CHAINS_BY_LOOP_COUNT.get(lc)
    if ns is None:
        ns = _CHAINS_BY_LOOP_COUNT[lc] = ScopedNormalizers(loop_count=lc)
    return ns


def with_column_once(df: DataFrame, name: str, expr: Column) -> DataFrame:
    """withColumn, but pins `expr` behind a Generate barrier so Catalyst
    cannot inline it into downstream predicates. CollapseProject + filter
    pushdown substitute a projected expression into every reference; for
    the 6-regexp normalizer tail feeding a 4-rule rlike filter cascade that
    re-evaluates the chain ~7x per row (measured 93s vs 2.8s at bench
    scale). explode(array(e)) is row-preserving — a 1-element array is
    never null/empty and null elements yield null rows — and filters on
    the generated attribute stay above the Generate node, so the chain
    runs exactly once per row."""
    cols = [c for c in df.columns if c != name]
    return df.select(*cols, F.explode(F.array(expr)).alias(name))


def normalize_chain_split(df: DataFrame, in_col: str, out_col: str,
                          scope: str, loop_count: int = 1) -> DataFrame:
    """The one DataFrame path for the full scoped chain
    (URLNormalizers(conf, scope).normalize): basic normalization via the
    single-pass fast/slow path (urls.normalize_inline), then the
    host+regex tail as native regexp_replace pinned behind a Generate
    barrier — already-normal URLs never cross into Python, and the regexp
    chain runs exactly once per row however many filter rules read it.
    Callers: inject (prepare_seeds, scope inject), outlinks (run_parse,
    scope outlink), redirect targets (build_redirect_chains and run_parse's
    redirect and meta-refresh linked rows, scope fetcher) and ARC import
    (arc_to_segment, scope fetcher). loop_count is urlnormalizer.loop.count.
    NULL or rejected in_col rows yield NULL out_col."""
    from nutch_spark.functions.urls import normalize_inline

    ns = normalizers_for_loop_count(loop_count)
    out = normalize_inline(df, in_col, out_col)
    return with_column_once(out, out_col, ns.post_basic_col(F.col(out_col), scope))
