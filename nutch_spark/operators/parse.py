"""Parse stage: content -> spans + parse_text + outlinks + frontier updates.

Reference semantics:
- ParseSegment (parse/ParseSegment.java:74-141): map over content, skip
  non-success and truncated records, dispatch by MIME, compute signature.
- HTML text extraction (parse-html/.../DOMContentUtils.java:160-221): DFS
  walk emitting text nodes in document order, whitespace-collapsed — here the
  corpus's mini-HTML is scanned by one ordered regex pass, producing the
  interleaved span sequence (kind, text, media_ref, offset). Span order = the
  walk order; this is the per-row invariant verified against fixtures.
- outlink pipeline (parse/ParseOutputFormat.java:219-250,293-325): per page
  normalize+filter, self-link drop, dedupe, cap db.max.outlinks.per.page.
- OPIC score distribution (scoring/opic/OPICScoringFilter.java:111-152):
  child score = page score / outlink count x internal/external factor.
- signature + linked + redirect rows -> crawl_parse analogue
  (parse/ParseOutputFormat.java:127-290).

One parse path: every record is parsed once, by one mapInPandas kernel
(extract_documents_by_mime) that groups each Arrow batch by content_type
family and emits nested documents (doc_id, title, directives, meta, spans)
— html walks the DOM scan, plain/js assemble their own rows, and every
binary family (zip, pdf, rtf/odf, swf) shares one row assembler over a
per-family extract adapter. Flat span rows, documents and parse_text are
narrow projections of that nested output (explode_spans); everything
downstream (outlink dedupe/cap, score distribution) is native Catalyst.
"""

from __future__ import annotations

import functools
import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

from nutch_spark import schemas
from nutch_spark.config import CrawlConfig
from nutch_spark.functions.normalizers import normalize_chain_split
from nutch_spark.functions.signatures import make_text_profile_udf
from nutch_spark.functions.urls import RegexUrlFilter, host_col
from nutch_spark.operators.officeparse import extract_odf, extract_rtf
from nutch_spark.operators.pdfparse import extract_pdf, extract_text_outlinks
from nutch_spark.operators.swfparse import extract_swf

# one ordered scan = the document-order DOM walk (DOMContentUtils.getText /
# getOutlinks, parse-html/.../DOMContentUtils.java:160-221,369-452). The
# link-bearing tag set and per-tag target attribute mirror the linkParams
# registry (DOMContentUtils.java:124-135): a/area/link->href, form->action,
# frame/iframe/script->src, img->src. Attribute order is free; values may
# be double-/single-/un-quoted; rel=nofollow and method=post suppress the
# link (:425-436); empty anchors fall back to inner img alt text
# (:380-404); targets resolve against the page URL (URLUtil.resolveURL ==
# urljoin, parity-tested vs the reference's RFC3986 table).
_SCAN_RE = re.compile(
    r"<!--.*?-->"
    r"|<(?P<btag>title|p)(?:\s[^>]*)?>"
    r"|<(?P<ltag>area|a|form|frame|iframe|script|link|img)"
    r"(?=[\s/>])(?P<attrs>(?:\s[^>]*?)?)\s*(?P<selfclose>/)?>",
    re.S | re.I,
)
# block closes are searched positionally from each open tag (never with a
# backtracking `.*?` inner): one failed search memoizes "no close ahead",
# keeping the scan LINEAR on pathological pages (e.g. thousands of
# unclosed <p> tags — real crawls hit those; the naive inner-group regex
# rescans the tail per occurrence, 4 orders of magnitude slower)
_BLOCK_STOP_RES = {
    "title": re.compile(r"</title\s*>", re.I),
    "p": re.compile(r"</p\s*>", re.I),
}
_LINK_TAG_ATTR = {
    "a": "href", "area": "href", "link": "href", "form": "action",
    "frame": "src", "iframe": "src", "script": "src", "img": "src",
}
_ATTR_KV_RE = re.compile(
    r"""([a-zA-Z][-\w:.]*)\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]+))""")
# anchor inner text ends at the close tag OR the next anchor open — the
# reference's DOM builder splits nested anchors the same way (the fixup
# behavior TestDOMContentUtils.java:60-66 relies on)
_A_STOP_RE = re.compile(r"</a\s*>|<a(?=[\s/>])", re.I)
_FORM_STOP_RE = re.compile(r"</form\s*>", re.I)
_HTML_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)

_WS_RE = re.compile(r"\s+")

# meta directives (X6/X7: parse-html/.../HTMLMetaProcessor.java:38-165);
# scanned over the head only (the reference walk stops at <body>,
# HTMLMetaProcessor.java:55-57). Tag/attribute names are case-insensitive
# and attribute order is free, matching the DOM walk (:60-76); values may
# be double- or single-quoted.
_META_TAG_RE = re.compile(r"<meta\s[^>]*>", re.I)
_BODY_OPEN_RE = re.compile(r"<body[\s>]", re.I)
_META_ATTR_RE = re.compile(
    r"""(name|http-equiv|content)\s*=\s*(?:"([^"]*)"|'([^']*)')""", re.I)


# headings plugin (plugin/headings HeadingsParseFilter.java:47-106): first
# matching element in doc order; value = DIRECT text children only (nested
# element subtrees excluded, getNodeValue:94-106). Reference quirk kept: the
# value is stored UNtrimmed — `heading.trim()` discards its result
# (HeadingsParseFilter.java:51) — and emptiness is checked on the raw value.
# Keys land in parse meta under the reserved `heading.` prefix; the indexer
# exposes the configured subset (cfg.headings).
_HEADING_TAGS = ("h1", "h2")
_HEADING_RES = {
    h: re.compile(rf"<{h}[^>]*>(?P<inner>.*?)</{h}>", re.S | re.I)
    for h in _HEADING_TAGS
}
_NESTED_EL_RE = re.compile(r"<(\w+)[^>]*>.*?</\1>", re.S)
_ANY_TAG_RE = re.compile(r"<[^>]*>")

# microformats-reltag (plugin/microformats-reltag RelTagParser.java:96-139):
# <a rel="tag" href=...> anchors; tag = url-decoded last path segment of an
# ABSOLUTE href (relative hrefs fail `new URL` and are skipped); TreeSet ->
# sorted unique. Stored tab-joined under the reserved `rel-tag` meta key.
_RELTAG_A_RE = re.compile(r"<a\b[^>]*\brel=[\"']?tag[\"']?[^>]*>", re.I)
_HREF_ATTR_RE = re.compile(r"\bhref=[\"']([^\"']*)[\"']", re.I)


def _heading_value(inner: str) -> str:
    """Direct text children: strip nested element subtrees, then any
    remaining unpaired tags."""
    prev = None
    while prev != inner:
        prev = inner
        inner = _NESTED_EL_RE.sub("", inner)
    return _ANY_TAG_RE.sub("", inner)


def _rel_tags(content: str) -> list[str]:
    from urllib.parse import unquote, urlparse

    tags = set()
    for a in _RELTAG_A_RE.finditer(content):
        m = _HREF_ATTR_RE.search(a.group(0))
        if not m:
            continue
        u = urlparse(m.group(1))
        if not u.scheme or not u.netloc:
            continue  # relative href: new URL() throws -> tag skipped
        tag = unquote(u.path.rsplit("/", 1)[-1])
        if tag:
            tags.add(tag)
    return sorted(tags)


# language-identifier DOM walk (plugin/language-identifier
# HTMLLanguageParser.java:245-280): the first element in document order
# whose `lang` attribute parses to a known ISO-639-1 code sets the
# html-attribute language (highest-priority declaration; xml:lang and
# *-lang attributes are NOT the DOM `lang` attribute and don't match).
_LANG_ATTR_RE = re.compile(
    r"""<[a-zA-Z][^>]*?\slang\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>"']+))""",
    re.I,
)
# cheap case-insensitive pre-test (a literal-substring scan, no copy) — a
# case-SENSITIVE `in content` guard would skip '<HTML LANG="fr">' pages
# entirely while the DOM getAttribute the reference walks is
# case-insensitive
_LANG_SUBSTR_RE = re.compile("lang", re.I)


def extract_lang_attr(content: str, general: dict) -> None:
    """Mutates `general` with the reserved `lang.` key — the parsed html
    `lang` attribute (quoted or unquoted, like DOM getAttribute);
    substring pre-test keeps lang-less pages fast."""
    if _LANG_SUBSTR_RE.search(content) is None:
        return
    from nutch_spark.functions.text import parse_language

    for m in _LANG_ATTR_RE.finditer(content):
        val = next((g for g in m.groups() if g is not None), None)
        code = parse_language(val)
        if code is not None:
            general["lang."] = code
            return


def extract_heading_reltag_meta(content: str, general: dict) -> None:
    """Mutates `general` with heading.<tag> and rel-tag entries. Substring
    pre-tests keep the common no-headings/no-reltag page on the fast path."""
    if "<h" in content or "<H" in content:
        for h in _HEADING_TAGS:
            m = _HEADING_RES[h].search(content)
            if m:
                val = _heading_value(m.group("inner"))
                if len(val) > 0:
                    general[f"heading.{h}"] = val
    if "rel=" in content:
        tags = _rel_tags(content)
        if tags:
            general["rel-tag"] = "\t".join(tags)


# creativecommons plugin (plugin/creativecommons CCParseFilter.java:62-280):
# license detection priority rdf > rel=license anchor > plain CC anchor
# (Walker.walk:71-83, locations "rdf"/"rel"/"a"); anchors must resolve to
# http://creativecommons.org/licenses/<non-empty> (findLicenseUrl:127-156);
# RDF rides HTML comments mentioning "RDF" + the cc namespace
# (findRdf:176-256). Meta keys reserved: license-url / license-location /
# work-type (CreativeCommons metadata names, lowercased like our other keys).
_CC_NS = "http://web.resource.org/cc/"
_DC_NS = "http://purl.org/dc/elements/1.1/"
_RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
_CC_WORK_TYPES = {  # CCParseFilter.java:259-269
    "http://purl.org/dc/dcmitype/MovingImage": "video",
    "http://purl.org/dc/dcmitype/StillImage": "image",
    "http://purl.org/dc/dcmitype/Sound": "audio",
    "http://purl.org/dc/dcmitype/Text": "text",
    "http://purl.org/dc/dcmitype/Interactive": "interactive",
    "http://purl.org/dc/dcmitype/Software": "software",
    "http://purl.org/dc/dcmitype/Image": "image",
}
_COMMENT_RE = re.compile(r"<!--(.*?)-->", re.S)
_A_TAG_RE = re.compile(r"<a\b[^>]*>", re.I)
_REL_ATTR_RE = re.compile(r"\brel=[\"']([^\"']*)[\"']", re.I)


def extract_cc_meta(content: str, base_url: str, general: dict) -> None:
    """Mutates `general` with the CC license meta; substring pre-test keeps
    unlicensed pages on the fast path."""
    if "creativecommons.org" not in content and _CC_NS not in content:
        return
    from urllib.parse import urljoin, urlparse
    from xml.etree import ElementTree as ET

    rel_license = anchor_license = rdf_license = work_type = None
    for a in _A_TAG_RE.finditer(content):
        tag = a.group(0)
        m = _HREF_ATTR_RE.search(tag)
        if not m:
            continue
        try:
            u = urljoin(base_url, m.group(1))
        except ValueError:
            continue  # malformed urls ignored (findLicenseUrl:155)
        p = urlparse(u)
        if (
            p.scheme.lower() == "http"
            and p.netloc.lower() == "creativecommons.org"
            and p.path.startswith("/licenses/")
            and len(p.path) > len("/licenses/")
        ):
            rm = _REL_ATTR_RE.search(tag)
            if rm and rm.group(1) == "license" and rel_license is None:
                rel_license = u
            elif anchor_license is None:
                anchor_license = u
    for cm in _COMMENT_RE.finditer(content):
        c = cm.group(1)
        if "RDF" not in c or _CC_NS not in c:
            continue
        try:
            doc = ET.fromstring(c.strip())
        except ET.ParseError:
            continue  # unparseable RDF skipped (findRdf:190-196)
        roots = ([doc] if doc.tag == f"{{{_RDF_NS}}}RDF" else []) + doc.findall(
            f".//{{{_RDF_NS}}}RDF"
        )
        if len(roots) != 1:
            continue
        rdf = roots[0]
        for lic in rdf.iter(f"{{{_CC_NS}}}License"):
            about = lic.get(f"{{{_RDF_NS}}}about")
            if about is not None:
                rdf_license = about  # last License wins (loop overwrite, :211)
        if any(True for _ in rdf.iter(f"{{{_CC_NS}}}Work")):
            # reference quirk kept: dc:type is searched under the RDF root,
            # not under the Work element (findRdf:247-253), first type wins
            for t in rdf.iter(f"{{{_DC_NS}}}type"):
                res = t.get(f"{{{_RDF_NS}}}resource")
                if res is not None:
                    work_type = _CC_WORK_TYPES.get(res)
                break
    if rdf_license is not None:
        url, loc = rdf_license, "rdf"
    elif rel_license is not None:
        url, loc = rel_license, "rel"
    elif anchor_license is not None:
        url, loc = anchor_license, "a"
    else:
        url = loc = None
    if url is not None:
        general["license-url"] = url
        general["license-location"] = loc
    if work_type is not None:
        general["work-type"] = work_type


def parse_meta_directives(content: str, base_url: str):
    """-> (noindex, nofollow, refresh_to, general_tags) with the reference's
    directive semantics: 'none' sets both, substring matches for
    noindex/nofollow (HTMLMetaProcessor.java:82-112); refresh content is
    'N[;url=U]' with an int time and relative-URL resolution
    (HTMLMetaProcessor.java:120-165)."""
    from urllib.parse import urljoin

    noindex = nofollow = False
    refresh_to = None
    general: dict[str, str] = {}
    # case-insensitive body cut: the reference walk stops at <body>
    # whatever its case (HTMLMetaProcessor.java:55-57); a literal split
    # let a meta directive INSIDE an uppercase <BODY> wrongly mark the
    # page noindex/nofollow
    c = content or ""
    m_body = _BODY_OPEN_RE.search(c)
    head = c[:m_body.start()] if m_body else c
    for tag in _META_TAG_RE.finditer(head):
        attrs: dict[str, str] = {}
        for am in _META_ATTR_RE.finditer(tag.group(0)):
            v = am.group(2) if am.group(2) is not None else am.group(3)
            attrs[am.group(1).lower()] = v
        text = attrs.get("content")
        if text is None:
            continue  # name/equiv without content -> ignored (:78-79,119-120)
        name = attrs.get("name")
        if name is not None:
            name = name.lower()
            general[name] = text
            if name == "robots":
                d = text.lower()
                if "none" in d:
                    noindex = nofollow = True
                if "noindex" in d:
                    noindex = True
                if "nofollow" in d:
                    nofollow = True
                if "noarchive" in d:
                    general["nocache."] = "1"  # setNoCache (:109-111)
        equiv = attrs.get("http-equiv")
        if equiv is None:
            continue
        equiv = equiv.lower()
        # httpEquivTags live in their own map in the reference (:121-123);
        # kept under a reserved prefix here so they can't shadow name-metas
        general[f"http-equiv.{equiv}"] = text
        if equiv == "pragma" and "no-cache" in text.lower():
            general["nocache."] = "1"  # setNoCache (:124-129)
        if equiv == "refresh":
            idx = text.find(";")
            time_part = text if idx == -1 else text[:idx]
            try:
                int(time_part)
            except ValueError:
                continue  # unparseable time -> no refresh (reference skips)
            if idx != -1:
                low = text.lower()
                u = low.find("url=")
                pos = idx + 1 if u == -1 else u + 4
                try:
                    refresh_to = urljoin(base_url, text[pos:])
                except ValueError:
                    refresh_to = None
    return noindex, nofollow, refresh_to, general

DOCS_NESTED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("noindex", T.BooleanType(), False),
        T.StructField("nofollow", T.BooleanType(), False),
        T.StructField("refresh_to", T.StringType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("kind", T.StringType(), False),
                        T.StructField("text", T.StringType(), True),
                        T.StructField("media_ref", T.StringType(), True),
                        T.StructField("offset", T.IntegerType(), False),
                    ]
                )
            ),
            False,
        ),
    ]
)


def _parse_attrs(raw: str) -> dict[str, str]:
    """Lowercased attr-name -> value (first occurrence wins, DOM-style)."""
    attrs: dict[str, str] = {}
    for am in _ATTR_KV_RE.finditer(raw):
        name = am.group(1).lower()
        if name not in attrs:
            v = am.group(2)
            if v is None:
                v = am.group(3)
            if v is None:
                v = am.group(4)
            attrs[name] = v
    return attrs


def _resolve_target(base_url: str, target: str) -> str | None:
    """URLUtil.resolveURL analogue (urljoin, parity-tested); None on a
    malformed pair — the reference's MalformedURLException skip. Already-
    absolute targets skip urljoin (urljoin returns an absolute reference
    verbatim — no dot-segment or case normalization — so the fast path is
    exact; the hot crawl path is ~all absolute)."""
    from urllib.parse import urljoin

    target = target.strip()
    if target[:7] == "http://" or target[:8] == "https://" \
            or target[:6] == "ftp://":
        return target
    try:
        return urljoin(base_url, target)
    except ValueError:
        return None


def _clean_inner_text(inner: str) -> str:
    """getText over an element subtree: comments out, tags become
    whitespace, runs collapsed (DOMContentUtils.java:160-221)."""
    if "<" in inner:
        inner = _ANY_TAG_RE.sub(" ", _HTML_COMMENT_RE.sub("", inner))
    return _WS_RE.sub(" ", inner).strip()


_MAX_SCAN_DEPTH = 16  # unclosed-<form> chains recurse per level; cap them


def _emit_link_tag(content: str, m, base_url: str, events: list,
                   ignore_tags: tuple, form_use_action: bool,
                   depth: int = 0) -> int:
    """Handle one link-family open tag; returns the resume position.
    Mirrors getOutlinks (DOMContentUtils.java:369-452): element first, then
    its children — the inner subtree of <a>/<form> is scanned recursively
    so nested imgs/anchors still emit their own spans."""
    tag = m.group("ltag").lower()
    attrs = _parse_attrs(m.group("attrs") or "")
    end = m.end()
    inner = None
    resume = end
    if tag in ("a", "form") and not m.group("selfclose"):
        stop = (_A_STOP_RE if tag == "a" else _FORM_STOP_RE).search(content, end)
        if stop:
            inner = content[end:stop.start()]
            resume = stop.end() if stop.group(0).startswith("</") else stop.start()
        else:
            inner = content[end:]
            resume = len(content)

    target = attrs.get(_LINK_TAG_ATTR[tag])
    suppressed = (
        tag in ignore_tags
        or (tag == "form" and not form_use_action)
        or attrs.get("rel", "").lower() == "nofollow"
        or attrs.get("method", "").lower() == "post"
    )
    if target is not None and not suppressed:
        resolved = _resolve_target(base_url, target)
        if resolved is not None:
            if tag == "img":
                events.append({"kind": "media", "text": None,
                               "media_ref": resolved})
            else:
                anchor = _clean_inner_text(inner) if inner is not None else ""
                if not anchor and inner and "<" in inner:
                    # empty anchor: inner img alt fallback (:380-404)
                    alts = [
                        _parse_attrs(im.group("attrs") or "").get("alt", "")
                        for im in _SCAN_RE.finditer(inner)
                        if im.group("ltag") and im.group("ltag").lower() == "img"
                    ]
                    anchor = _WS_RE.sub(
                        " ", " ".join(a for a in alts if a.strip())).strip()
                events.append({"kind": "link", "text": anchor,
                               "media_ref": resolved})
    if inner and "<" in inner and depth < _MAX_SCAN_DEPTH:
        _scan_links(inner, base_url, events, ignore_tags, form_use_action,
                    depth + 1)
    return resume


def _scan_links(segment: str, base_url: str, events: list,
                ignore_tags: tuple, form_use_action: bool,
                depth: int = 0) -> None:
    """Full scan of an element subtree (inside <p>/<a>/<form> inners).

    Handles BOTH link-family tags and nested block text: the reference's
    DOM walk collects text regardless of the enclosing element
    (DOMContentUtils.getText), so a <p> inside a <form> — or after an
    unclosed <a>, whose captured inner runs to end-of-document — must
    still yield its text span (and a <title> there still registers). A
    link-only subtree scan silently dropped that text from parse_text,
    signatures and the index. Nested same-tag duplication is structurally
    impossible: the enclosing block's capture stops at the FIRST close
    tag, so a nested open inside the captured inner never has a close in
    segment and memoizes as dead."""
    pos = 0
    dead_closes: set[str] = set()
    while True:
        m = _SCAN_RE.search(segment, pos)
        if not m:
            return
        btag = m.group("btag")
        if btag is not None:
            btag = btag.lower()
            stop = None if btag in dead_closes else \
                _BLOCK_STOP_RES[btag].search(segment, m.end())
            if stop is None:
                dead_closes.add(btag)
                pos = m.end()
                continue
            inner = segment[m.end():stop.start()]
            pos = stop.end()
            if btag == "title":
                events.append(("title", _WS_RE.sub(" ", inner).strip()))
            else:
                events.append({"kind": "text",
                               "text": _clean_inner_text(inner),
                               "media_ref": None})
                if "<" in inner and depth < _MAX_SCAN_DEPTH:
                    _scan_links(inner, base_url, events, ignore_tags,
                                form_use_action, depth + 1)
        elif m.group("ltag"):
            pos = _emit_link_tag(segment, m, base_url, events,
                                 ignore_tags, form_use_action, depth)
        else:
            pos = m.end()


def _scan_html(content: str, base_url: str, ignore_tags: tuple = (),
               form_use_action: bool = True) -> list:
    """One document-order pass -> events: ('title', str) tuples interleaved
    with span dicts (kind/text/media_ref, offsets assigned by callers).
    Delegates to _scan_links at depth 0 — ONE implementation of the walk
    (a former verbatim copy of the loop here had already drifted: it
    re-entered nested subtrees with the depth counter reset, weakening the
    recursion cap the copy in _scan_links enforces)."""
    events: list = []
    _scan_links(content, base_url, events, ignore_tags, form_use_action, 0)
    return events


def extract_documents_pdf(pdf: pd.DataFrame, ignore_tags: tuple = (),
                          form_use_action: bool = True) -> pd.DataFrame:
    """One document-order pass per page -> nested (doc_id, title, spans).

    Emitting the nested form directly avoids the groupBy+collect_list
    shuffle that re-assembling flat span rows would need; flat rows are
    recovered downstream with a narrow explode.
    """
    ids: list[str] = []
    titles: list[str | None] = []
    span_lists: list[list[dict]] = []
    noindexes: list[bool] = []
    nofollows: list[bool] = []
    refreshes: list[str | None] = []
    metas: list[dict] = []
    for url, content in zip(pdf["url"], pdf["content"]):
        title = None
        spans: list[dict] = []
        off = 0
        for ev in _scan_html(content or "", url, ignore_tags, form_use_action):
            if isinstance(ev, tuple):
                title = ev[1]
                continue
            ev["offset"] = off
            spans.append(ev)
            off += 1
        noindex, nofollow, refresh_to, general = parse_meta_directives(content or "", url)
        extract_lang_attr(content or "", general)
        extract_heading_reltag_meta(content or "", general)
        extract_cc_meta(content or "", url, general)
        ids.append(url)
        titles.append(title)
        span_lists.append(spans)
        noindexes.append(noindex)
        nofollows.append(nofollow)
        refreshes.append(refresh_to)
        metas.append(general)
    return pd.DataFrame({
        "doc_id": ids, "title": titles, "noindex": noindexes,
        "nofollow": nofollows, "refresh_to": refreshes, "meta": metas,
        "spans": span_lists,
    })


def _plain_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """parse-text analogue: the whole body is one text span, no outlinks,
    no meta (plugin parse-text TextParser semantics)."""
    return pd.DataFrame({
        "doc_id": pdf["url"],
        "title": [None] * len(pdf),
        "noindex": [False] * len(pdf),
        "nofollow": [False] * len(pdf),
        "refresh_to": [None] * len(pdf),
        "meta": [{} for _ in range(len(pdf))],
        "spans": [
            [{"kind": "text", "text": _WS_RE.sub(" ", c or "").strip(),
              "media_ref": None, "offset": 0}]
            for c in pdf["content"]
        ],
    })


# --- parse-js (X12: plugin parse-js JSParseFilter.java:175-240) -----------
# string literals scanned with STRING_PATTERN; each candidate must FULLY
# match URI_PATTERN (Perl matcher.matches()); 'www.' hosts get http://,
# everything else resolves against the base URL; '&amp;' unescaped last.
_JS_STRING_RE = re.compile(r"(\\*(?:\"|'))([^\s\"']+?)\1", re.I | re.M)
_JS_URI_RE = re.compile(r"(^|\s*?)/?\S+?[/.]\S+($|\s*)", re.I | re.M)


def extract_js_links(script: str, base_url: str) -> list[str]:
    """Ordered JS outlink extraction (JSParseFilter.getJSLinks:185-240)."""
    from urllib.parse import urljoin

    out: list[str] = []
    for m in _JS_STRING_RE.finditer(script or ""):
        cand = m.group(2)
        if not _JS_URI_RE.fullmatch(cand):
            continue
        if cand.startswith("www."):
            url = "http://" + cand
        else:
            try:
                url = urljoin(base_url, cand)
            except ValueError:
                continue
        out.append(url.replace("&amp;", "&"))
    return out


def _js_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """parse-js as a MIME parser: the script body is the parse text (the
    reference sets ParseImpl(script, ...)), JS-literal links become link
    spans in scan order."""
    rows = []
    for url, content in zip(pdf["url"], pdf["content"]):
        spans = [{"kind": "text", "text": _WS_RE.sub(" ", content or "").strip(),
                  "media_ref": None, "offset": 0}]
        for i, link in enumerate(extract_js_links(content or "", url)):
            spans.append({"kind": "link", "text": "", "media_ref": link,
                          "offset": i + 1})
        rows.append({
            "doc_id": url, "title": None, "noindex": False,
            "nofollow": False, "refresh_to": None, "meta": {},
            "spans": spans,
        })
    return pd.DataFrame(rows)


# --- parse-zip (X12: plugin parse-zip ZipParser.java:56-109 +
# ZipTextExtractor.java:79-134; stdlib zipfile, no external deps) ----------
def extract_zip_parse(data: bytes, url: str):
    """Walk zip members in entry order; each non-directory member whose
    name contains a '.' (ZipTextExtractor.java:98 lastIndexOf check) is
    MIME-resolved by filename extension and recursively parsed by the
    registered member parser; text accumulates as '<name> <member text> '
    (ZipTextExtractor.java:119 resultText concatenation) and member
    outlinks are collected in entry order. Members with no registered
    parser are skipped (the per-member ParseException path). Returns
    (text, outlinks) or None for an unreadable archive
    (ParseStatus.FAILED -> empty parse result). The reference's
    content-length truncation gate (ZipParser.java:72-77) is honored
    upstream by the F11 truncated filter in run_parse. Like the main
    parse, <img> members count as media, not outlinks."""
    import io
    import zipfile

    from nutch_spark.functions.content import url_extension_type

    text_parts: list[str] = []
    outlinks: list[tuple[str, str]] = []
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            for info in zf.infolist():
                if info.is_dir():
                    continue
                fname = info.filename
                if "." not in fname:
                    continue
                mime = url_extension_type(fname) or ""
                try:
                    body = zf.read(info).decode("utf-8", errors="replace")
                except Exception:
                    continue
                member_text = None
                if mime in ("text/html", "application/xhtml+xml"):
                    texts = []
                    for ev in _scan_html(body, url + "/" + fname):
                        if isinstance(ev, tuple):
                            continue  # member titles don't join the text
                        if ev["kind"] == "text":
                            texts.append(ev["text"])
                        elif ev["kind"] == "link":
                            outlinks.append((ev["media_ref"], ev["text"]))
                    member_text = " ".join(texts)
                elif mime == "text/plain":
                    member_text = _WS_RE.sub(" ", body).strip()
                elif mime in ("application/javascript", "text/javascript"):
                    for link in extract_js_links(body, url + "/" + fname):
                        outlinks.append((link, ""))
                    member_text = _WS_RE.sub(" ", body).strip()
                if member_text is None:
                    continue
                text_parts.append(fname + " " + member_text + " ")
    except Exception:
        return None
    return "".join(text_parts), outlinks


def _binary_family(extract):
    """One ParseResult row assembler for every binary MIME family (the
    parse-tika / parse-zip / parse-swf analogues). `extract(data, url)`
    returns (title, text, [(to_url, anchor)]) or None; the row is one text
    span followed by the link spans in extractor order. Content arrives
    binary or as a latin-1 string; None content and None results (the
    FAILED parse path) produce no document."""
    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for url, content in zip(pdf["url"], pdf["content"]):
            if content is None:
                continue
            data = (bytes(content) if isinstance(content, (bytes, bytearray))
                    else content.encode("latin-1", "ignore"))
            parsed = extract(data, url)
            if parsed is None:
                continue
            title, text, links = parsed
            spans = [{"kind": "text", "text": text, "media_ref": None, "offset": 0}]
            spans += [{"kind": "link", "text": anchor, "media_ref": to, "offset": i}
                      for i, (to, anchor) in enumerate(links, 1)]
            rows.append({"doc_id": url, "title": title, "noindex": False,
                         "nofollow": False, "refresh_to": None, "meta": {},
                         "spans": spans})
        return pd.DataFrame(rows)
    return build


def _zip_doc(data: bytes, url: str):
    """parse-zip: member texts concatenated in entry order are the parse
    text; member outlinks keep their anchors; title is ''."""
    parsed = extract_zip_parse(data, url)
    if parsed is None:
        return None
    text, links = parsed
    return "", text, links


def _pdf_doc(data: bytes, url: str):
    """parse-tika analogue for application/pdf (operators/pdfparse.py;
    TikaParser.java:71-171): extracted text and title; since a PDF yields
    no DOM anchors, outlinks are the OutlinkExtractor regex sweep over the
    text (TikaParser.java:157-161). Headerless bodies are the FAILED path."""
    parsed = extract_pdf(data)
    if parsed is None:
        return None
    title, text, links = parsed
    return title, text, [(to, "") for to in links]


def _office_doc(extract):
    """RTF/ODF (operators/officeparse.py): the PDF family's contract —
    title + text + OutlinkExtractor regex links over the text."""
    def doc(data: bytes, url: str):
        parsed = extract(data)
        if parsed is None:
            return None
        title, text = parsed
        return title, text, [(to, "") for to in extract_text_outlinks(text)]
    return doc


def _swf_doc(data: bytes, url: str):
    """parse-swf analogue (SWFParser.java:85-130): text from edit-text
    fields, glyph runs and action strings; outlinks = the GetURL urls
    FIRST, then the OutlinkExtractor regex over the text (:102-110); title
    is always ''. Unreadable bodies (bad magic/deflate, LZMA) are the
    FAILED path."""
    parsed = extract_swf(data)
    if parsed is None:
        return None
    text, urls = parsed
    return "", text, [(to, "") for to in urls + extract_text_outlinks(text)]


def _feed_pdf_lazy(pdf: pd.DataFrame) -> pd.DataFrame:
    from nutch_spark.operators.feedparse import _feed_pdf

    return _feed_pdf(pdf)


_HTML_FAMILIES = ("text/html", "application/xhtml")

# MIME dispatch registry (X2; parse/ParseSegment.java:110-141 plugin
# dispatch by contentType): content_type prefix -> per-frame extractor.
# Unregistered types are skipped, like ParseSegment's ParserNotFound path.
# First matching prefix wins (iteration order).
MIME_PARSERS = {
    # html families run with default outlink options here; the dispatch
    # kernel rebinds them to the crawl config's options
    **dict.fromkeys(_HTML_FAMILIES, extract_documents_pdf),
    "text/plain": _plain_pdf,
    "application/javascript": _js_pdf,
    "text/javascript": _js_pdf,
    "application/x-javascript": _js_pdf,
    "application/zip": _binary_family(_zip_doc),
    # parse-tika PDF analogue (conf/parse-plugins.xml maps application/pdf
    # to parse-tika); stdlib extractor in operators/pdfparse.py
    "application/pdf": _binary_family(_pdf_doc),
    # parse-feed (plugin/feed FeedParser.java): one parse per entry + the
    # feed doc itself; see operators/feedparse.py
    "application/rss": _feed_pdf_lazy,
    "application/atom": _feed_pdf_lazy,
    "text/xml": _feed_pdf_lazy,
    # parse-tika office slice without the library (operators/officeparse.py):
    # RTF control-word walk; OpenDocument zip+content.xml (covers .text /
    # .spreadsheet / .presentation via the family prefix)
    **dict.fromkeys(("application/rtf", "text/rtf"),
                    _binary_family(_office_doc(extract_rtf))),
    "application/vnd.oasis.opendocument": _binary_family(_office_doc(extract_odf)),
    # parse-swf analogue (operators/swfparse.py): FWS/CWS containers,
    # edit-text + glyph-run + ActionScript text, GetURL outlinks
    "application/x-shockwave-flash": _binary_family(_swf_doc),
}

_DOCS_NESTED_COLS = ["doc_id", "title", "noindex", "nofollow",
                     "refresh_to", "meta", "spans"]


def _make_dispatch_kernel(ignore_tags: tuple = (), form_use_action: bool = True):
    """Group each Arrow batch by registered MIME family and run the family
    extractor vectorized over its group — one pass over the content stream
    with no per-row Python dispatch (family count is tiny; rows per batch
    are large). The html families' outlink options are bound here, once."""
    html = functools.partial(extract_documents_pdf, ignore_tags=ignore_tags,
                             form_use_action=form_use_action)
    parsers = {**MIME_PARSERS, **dict.fromkeys(_HTML_FAMILIES, html)}

    def family(ct):
        if ct:
            for m in parsers:
                if ct.startswith(m):
                    return m
        return ""

    def _dispatch_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            fams = pdf["content_type"].map(family)
            for fam, grp in pdf.groupby(fams, sort=False):
                if not fam:
                    continue  # unregistered type: ParserNotFound, no documents
                res = parsers[fam](grp.reset_index(drop=True))
                if len(res):
                    yield res[_DOCS_NESTED_COLS]
    return _dispatch_kernel


def extract_documents_by_mime(content_df: DataFrame, ignore_tags: tuple = (),
                              form_use_action: bool = True) -> DataFrame:
    """Dispatch (url, content, content_type) to the registered extractor per
    MIME family; unregistered types produce no documents. The one parse
    path: run_parse and every parse gate query go through it. A single
    mapInPandas pass with group-wise family dispatch inside the kernel:
    the upstream scan/join executes ONCE (the old one-slice-per-family
    design re-executed the whole content subtree once per registered
    family — 7 joins per cycle), while each family's extractor still runs
    vectorized over its group."""
    return content_df.select("url", "content", "content_type").mapInPandas(
        _make_dispatch_kernel(ignore_tags, form_use_action), DOCS_NESTED_SCHEMA)


def explode_spans(docs_nested: DataFrame) -> DataFrame:
    """Nested documents -> flat span rows (doc_id, offset, kind, text,
    media_ref, title) by a narrow posexplode: no shuffle."""
    return docs_nested.select(
        "doc_id", "title", F.posexplode("spans").alias("_pos", "s")
    ).select(
        "doc_id",
        F.col("s.offset").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        "title",
    )


def run_parse(
    fetch_out: DataFrame,
    raw_content: DataFrame,
    cfg: CrawlConfig,
    url_meta: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Full parse stage over this cycle's successful fetches.

    raw_content must carry (url, content, content_type): the type picks
    the MIME family parser.

    Returns dict with: span_rows, documents, parse_text, parse_data,
    parse_updates (linked/signature rows for updatedb).

    url_meta (url, urlmeta map): the urlmeta plugin's page-side slice —
    each fetching page's datum metadata restricted to cfg.urlmeta_tags
    (URLMetaScoringFilter.java:63-85 passScoreBeforeParsing →
    distributeScoreToOutlinks). When given, every linked row carries the
    parent's tag map in a `metadata` column so updatedb can seed new
    children with it; when None (plugin off) the column is absent and the
    parse_updates shuffle stays narrow.

    CACHE CONTRACT: the returned `docs_nested` frame is .cache()d (it
    feeds multiple outputs). Every caller that materializes any output
    MUST unpersist it once done with the cycle's results — crawl_cycle
    does; ad-hoc callers (bench/queries/tests) must too, or cached blocks
    leak across a long run.
    """
    ok = fetch_out.filter(
        F.col("fetch_status") == schemas.STATUS_FETCH_SUCCESS
    )
    if cfg.parse_skip_truncated:  # ParseSegment.java:149-178
        ok = ok.filter(~F.coalesce(F.col("truncated"), F.lit(False)))

    # only url survives into the join: score/signature ride on `ok` for the
    # sig/linked paths, and carrying them here would widen the join shuffle.
    # distinct: fetch_out can carry a url twice with SUCCESS (a fetchlist
    # row AND an in-thread redirect hop landing on it — the same
    # duplication updatedb/indexer dedupe); raw duplicate join keys would
    # parse the page twice, double documents/parse_text rows, and emit
    # every linked row twice (updatedb SUMS linked scores -> 2x OPIC mass)
    content = ok.select("url").distinct().join(raw_content, "url", "inner")
    docs_nested = extract_documents_by_mime(  # X2 dispatch
        content, tuple(cfg.parser_html_outlinks_ignore_tags),
        cfg.parser_html_form_use_action).cache()
    # the committed documents table keeps only pages with >=1 span (matching
    # the pre-nested-extractor semantics: span-free pages contribute nothing)
    documents = docs_nested.filter(F.size("spans") > 0).select("doc_id", "spans")
    # flat span rows via narrow explode (no shuffle); parse_text is a pure
    # array fold over the nested column
    span_rows = explode_spans(docs_nested)
    ptext = docs_nested.select(
        F.col("doc_id").alias("url"),
        F.array_join(
            F.transform(
                F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("text")),
                lambda s: s["text"],
            ),
            " ",
        ).alias("text"),
    )

    # --- outlink pipeline (X8): link spans -> normalize/filter/dedupe/cap ---
    # split-normalize: already-normal targets never cross into Python
    # (at steady state that is ~all of them); the filter chain is a native
    # rlike cascade — the whole hot path stays in whole-stage codegen
    # robots-nofollow pages contribute NO outlinks (X6,
    # HTMLMetaProcessor directives consumed by HtmlParser.getParse)
    nofollow_docs = docs_nested.filter(F.col("nofollow")).select("doc_id")
    # parser.html.outlinks.ignore_tags (DOMContentUtils.java:138-142) is
    # applied per-tag inside the extraction kernel (bound above)
    # broadcast is CYCLE-scoped and bounded: nofollow_docs ⊆ this cycle's
    # fetched pages (topN-capped), and only the robots-nofollow fraction of
    # them — unlike a frontier-scoped set this cannot grow with the crawl
    raw_links = (
        span_rows.filter(F.col("kind") == "link")
        .join(F.broadcast(nofollow_docs), "doc_id", "left_anti")
        .select(
            F.col("doc_id").alias("url"),
            F.col("offset"),
            F.col("media_ref"),
            F.substring(F.col("text"), 1, cfg.db_max_anchor_length).alias("anchor"),
        )
    )
    # scope='outlink' chain (ParseOutputFormat.java:119 URLNormalizers
    # SCOPE_OUTLINK), materialized once so the filter cascade below reads
    # the column instead of re-evaluating the regexp chain per rule
    if cfg.parse_normalize_urls:  # ParseOutputFormat.java:99 (-noNormalize)
        links = normalize_chain_split(
            raw_links, "media_ref", "to_url", "outlink",
            cfg.urlnormalizer_loop_count).drop("media_ref")
    else:
        links = raw_links.withColumnRenamed("media_ref", "to_url")
    links = (
        links
        .filter(F.col("to_url").isNotNull())
        .filter(F.col("to_url") != F.col("url"))  # self-link drop
    )
    if cfg.parse_filter_urls:  # ParseOutputFormat.java:95 (-noFilter)
        links = links.filter(RegexUrlFilter().col(F.col("to_url")))
    if cfg.db_ignore_external_links:
        links = links.filter(host_col(F.col("to_url")) == host_col(F.col("url")))
    # dedupe (first occurrence) + per-page cap share ONE exchange: hash
    # placement on url alone satisfies the (url, to_url) aggregation's
    # clustered distribution (subset rule) AND the cap window's, so the
    # explicit repartition is the only shuffle in the whole outlink tail —
    # the previous shape exchanged twice (pair-keyed dedupe, then url-keyed
    # window). Trade-off: the single exchange ships pre-dedupe rows without
    # map-side combining, which only loses if a page repeats the same
    # target >2x on average (the two-exchange shape ships the deduped set
    # twice); crawl corpora sit well under that.
    links = links.repartition("url").groupBy("url", "to_url").agg(
        F.min("offset").alias("offset"),
        F.min_by("anchor", "offset").alias("anchor"),
    )
    # cap per page in document order + outlink count, one exchange: both
    # window specs share the partition key so Catalyst reuses the shuffle
    w_url = Window.partitionBy("url")
    links = (
        links.withColumn("link_rank", F.row_number().over(w_url.orderBy("offset")))
        .filter(F.col("link_rank") <= cfg.db_max_outlinks_per_page)
        .withColumn("n_out", F.count("*").over(w_url))
    )
    if cfg.db_score_count_filtered:
        # db.score.count.filtered (OPICScoringFilter.java distribute:
        # countFiltered divides by allCount — the PRE-filter outlink total
        # ParseOutputFormat passes in — instead of the surviving targets)
        n_all = raw_links.groupBy("url").agg(F.count("*").alias("n_div"))
        links = links.join(n_all, "url")
    else:
        links = links.withColumn("n_div", F.col("n_out"))
    # parse_data: title + meta directives + ordered outlinks per page
    # `meta` (general meta tags) rides into parse_data for the
    # parse-metatags -> index-metadata handoff (indexer._metatags_col)
    # caching.forbidden (HtmlParser.java:222-226 + HTMLMetaProcessor.java:
    # 109-111,124-129): robots 'noarchive' OR http-equiv pragma 'no-cache'
    # set the noCache flag (surfaced as the reserved `nocache.` meta key);
    # carried as a narrow column instead of widening `meta`
    cache_col = F.when(
        F.element_at(F.col("meta"), F.lit("nocache.")) == "1",
        F.lit(cfg.parser_caching_forbidden_policy),
    )
    titles = docs_nested.select("doc_id", "title", "noindex", "nofollow",
                                "meta", cache_col.alias("cache"))
    parse_data = (
        links.groupBy("url")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("offset", "to_url", "anchor")),
                lambda a, b: a["offset"] - b["offset"],
            ).alias("ordered")
        )
        .select(
            "url",
            F.transform(F.col("ordered"), lambda s: F.struct(
                s["to_url"].alias("to_url"), s["anchor"].alias("anchor"))).alias("outlinks"),
        )
        .join(titles.withColumnRenamed("doc_id", "url"), "url", "right_outer")
    )

    # --- OPIC distribution (X9) + linked rows ---
    page_host = host_col(F.col("url"))
    to_host = host_col(F.col("to_url"))
    parents = ok.select("url", F.col("score").alias("page_score"))
    if url_meta is not None:
        # same join key as the score join: Catalyst plans one exchange
        parents = parents.join(
            url_meta.select("url", F.col("urlmeta").alias("_urlmeta")),
            "url", "left")
    linked = (
        links.join(parents, "url")
        .withColumn(
            "child_score",
            (F.col("page_score") / F.col("n_div"))
            * F.when(to_host == page_host, F.lit(cfg.db_score_link_internal)).otherwise(
                F.lit(cfg.db_score_link_external)
            ),
        )
        .select(
            F.col("to_url").alias("url"),
            F.lit(schemas.STATUS_LINKED).alias("kind"),
            F.col("child_score").cast("float").alias("score"),
            F.lit(None).cast("string").alias("signature"),
            F.col("anchor"),
            F.col("url").alias("from_url"),
            *([F.col("_urlmeta").alias("metadata")] if url_meta is not None else []),
        )
    )

    # signature rows (ParseOutputFormat.java:127-129). signature_impl
    # selects the SignatureFactory class: md5 keeps the fetch-side content
    # digest (MD5Signature.java:33-37); text_profile recomputes from the
    # parse text (TextProfileSignature.java:40-170), falling back to the
    # content MD5 when the page yields no text (:64-72 `fallback`).
    if cfg.signature_impl == "text_profile":
        tp = ptext.select(
            "url",
            make_text_profile_udf(
                cfg.signature_text_profile_min_token_len,
                cfg.signature_text_profile_quant_rate,
            )(F.col("text")).alias("_tp_sig")
        )
        sig_rows = (
            ok.select("url", "signature")
            .join(tp, "url", "left")
            .select(
                "url",
                F.lit(schemas.STATUS_SIGNATURE).alias("kind"),
                F.lit(None).cast("float").alias("score"),
                F.coalesce(F.col("_tp_sig"), F.col("signature")).alias("signature"),
                F.lit(None).cast("string").alias("anchor"),
                F.lit(None).cast("string").alias("from_url"),
            )
        )
    else:
        sig_rows = ok.select(
            "url",
            F.lit(schemas.STATUS_SIGNATURE).alias("kind"),
            F.lit(None).cast("float").alias("score"),
            F.col("signature"),
            F.lit(None).cast("string").alias("anchor"),
            F.lit(None).cast("string").alias("from_url"),
        )

    # redirect and meta-refresh targets -> linked rows (ParseOutputFormat.java
    # :168-204 analogue; X7: HTMLMetaProcessor refresh -> ParseStatus
    # SUCCESS_REDIRECT -> linked datum), through the crawl's one URL path:
    # the fetcher-scope chain and the URL filter, and a target equal to its
    # source is dropped (handleRedirect, Fetcher.java:963-1024, same-url
    # stop at :985)
    def targets(df: DataFrame, src: str, raw: str) -> DataFrame:
        t = normalize_chain_split(df, raw, "url", "fetcher", cfg.urlnormalizer_loop_count)
        return t.filter(RegexUrlFilter().col(F.col("url")) & (F.col("url") != F.col(src)))

    link_cols = [F.lit(schemas.STATUS_LINKED).alias("kind"), F.col("score"),
                 F.lit(None).cast("string").alias("signature"),
                 F.lit(None).cast("string").alias("anchor")]
    redirs = targets(
        fetch_out.filter(F.col("redirect_to").isNotNull())
        .select(F.col("url").alias("from_url"), "redirect_to", "score"),
        "from_url", "redirect_to",
    ).select("url", *link_cols, "from_url")
    refreshes = (
        targets(docs_nested.filter(F.col("refresh_to").isNotNull())
                .select("doc_id", "refresh_to"), "doc_id", "refresh_to")
        .join(ok.select(F.col("url").alias("doc_id"), F.col("score")), "doc_id")
        .select("url", *link_cols, F.col("doc_id").alias("from_url"))
    )

    # parse-meta passthrough rows (X10, ParseOutputFormat.java:154-166):
    # configured keys from the page's general meta tags ride to the crawldb
    keys = list(cfg.db_parsemeta_to_crawldb)
    if keys:
        parse_meta = (
            docs_nested.select(
                F.col("doc_id").alias("url"),
                F.map_filter(
                    F.coalesce(F.col("meta"), F.create_map().cast("map<string,string>")),
                    lambda k, _: k.isin(*keys),
                ).alias("parse_meta"),
            )
            .filter(F.size(F.map_keys(F.col("parse_meta"))) > 0)
        )
    else:
        parse_meta = None

    # sig/redirect/refresh rows never carry urlmeta (the reference attaches
    # it only to outlink targets) — null-pad when the column is live
    parse_updates = linked.unionByName(
        sig_rows.unionByName(redirs).unionByName(refreshes),
        allowMissingColumns=url_meta is not None,
    )
    return {
        "parse_meta": parse_meta,
        "docs_nested": docs_nested,  # cached — caller unpersists after the cycle
        "span_rows": span_rows,
        "links": links,
        "documents": documents,
        "parse_text": ptext,
        "parse_data": parse_data,
        "parse_updates": parse_updates,
    }
