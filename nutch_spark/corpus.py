"""Deterministic synthetic web corpus (seed-fixed; no network, no external data).

Mirrors the reference's test fixtures (src/testresources/fetch-test-site/:
index, pagea, pageb, dup_of_pagea, nested_spider_trap, exception, robots.txt
— used by src/test/org/apache/nutch/fetcher/TestFetcher.java:75-168) plus
the skew/robots/redirect cases FIXTURES.md §2 requires:

- a mega host with ~100x the median page count (exercises skewed partitions),
- a duplicate page pair (same signature_seed -> same digest),
- a nested spider trap (self-deepening chain),
- an exception URL, redirect chains longer than http.redirect.max,
- per-host robots rules incl. one Crawl-Delay > fetcher.max.crawl.delay,
- e-commerce platform hosts with item detail pages (photo/price/category)
  for the item-extractor UDFs (fork plugins, DOMContentUtils.java:455-2134).

Pages are generated as an ordered segment list (the ground truth for
span-sequence equality), rendered to a mini-HTML string for the parse kernel.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np

from nutch_spark import schemas

WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu amber basalt cobalt dune ember flint garnet heath iris"
).split()

# 15 simulated e-commerce platforms — one per fork ItemParser plugin; URL
# shapes mirror each plugin's accept pattern on '-sim' hosts
# (plugin/parse-html/.../​*ItemParser.java accept regexes; Taobao via
# parse-url/.../TaobaoItemIndexProcessor.java:66-72 query-param id)
PLATFORMS = {
    "taobao": {"host": "item.taobao-sim.com", "url_tpl": "http://item.taobao-sim.com/item.htm?id={iid}"},
    "jingdong": {"host": "www.jd-sim.com", "url_tpl": "http://www.jd-sim.com/product/{iid}.html"},
    "amazon": {"host": "www.amazon-sim.com", "url_tpl": "http://www.amazon-sim.com/dp/{iid}"},
    "suning": {"host": "www.suning-sim.com", "url_tpl": "http://www.suning-sim.com/item/{iid}.html"},
    "dangdang": {"host": "product.dangdang-sim.com", "url_tpl": "http://product.dangdang-sim.com/{iid}.html"},
    "coo8": {"host": "www.coo8-sim.com", "url_tpl": "http://www.coo8-sim.com/product/{iid}.html"},
    "efeihu": {"host": "www.efeihu-sim.com", "url_tpl": "http://www.efeihu-sim.com/Product/{iid}.html"},
    "five1buy": {"host": "item.51buy-sim.com", "url_tpl": "http://item.51buy-sim.com/item-{iid}.html"},
    "gome": {"host": "www.gome-sim.com.cn", "url_tpl": "http://www.gome-sim.com.cn/ec/homeus/jump/product/{iid}.html"},
    "lusen": {"host": "www.lusen-sim.com", "url_tpl": "http://www.lusen-sim.com/Product/ProductInfo.aspx?id={iid}"},
    "new7": {"host": "www.new7-sim.com", "url_tpl": "http://www.new7-sim.com/product/{iid}.html"},
    "newegg": {"host": "www.newegg-sim.com.cn", "url_tpl": "http://www.newegg-sim.com.cn/Product/{iid}.htm"},
    "no1shop": {"host": "www.yihaodian-sim.com", "url_tpl": "http://www.yihaodian-sim.com/product/{iid}"},
    "ouku": {"host": "www.ouku-sim.com", "url_tpl": "http://www.ouku-sim.com/goods{iid}/"},
    "redbaby": {"host": "www.redbaby-sim.com.cn", "url_tpl": "http://www.redbaby-sim.com.cn/yingyang/{iid}.html"},
}
CATEGORIES = [
    ["home", "electronics", "phone"],
    ["home", "electronics", "laptop"],
    ["home", "appliance", "fridge"],
    ["home", "books", "novel"],
    ["home", "fashion", "shoes"],
]


@dataclass
class Page:
    url: str
    host: str
    status: str = "ok"                        # ok|redir_perm|redir_temp|gone|exception|notmodified
    redirect_to: str | None = None
    segments: list = field(default_factory=list)  # ordered (kind, text, media_ref)
    outlinks: list = field(default_factory=list)  # (to_url, anchor) doc order
    signature_seed: int = 0
    truncated: bool = False
    title: str = ""
    item: dict | None = None                  # platform item ground truth
    robots_meta: str | None = None            # <meta name="robots" content=...>
    refresh_meta: str | None = None           # <meta http-equiv="refresh" content=...>
    meta_tags: dict = field(default_factory=dict)  # generic <meta name= content=>


def _txt(rng: np.random.Generator, n: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n))


def render_html(p: Page) -> str:
    """Render segments to the mini-HTML the parse kernel consumes."""
    head = [f"<title>{p.title}</title>"]
    if p.robots_meta is not None:
        head.append(f'<meta name="robots" content="{p.robots_meta}">')
    if p.refresh_meta is not None:
        head.append(f'<meta http-equiv="refresh" content="{p.refresh_meta}">')
    for name, content in p.meta_tags.items():
        head.append(f'<meta name="{name}" content="{content}">')
    out = ["<html><head>" + "".join(head) + "</head><body>"]
    for kind, text, media_ref in p.segments:
        if kind == "text":
            out.append(f"<p>{text}</p>")
        elif kind == "media":
            out.append(f'<img src="{media_ref}">')
        elif kind == "link":
            out.append(f'<a href="{media_ref}">{text}</a>')
    out.append("</body></html>")
    return "".join(out)


def page_signature(seed: int) -> str:
    return hashlib.md5(f"sig:{seed}".encode()).hexdigest()


class SyntheticWeb:
    """Build the corpus in memory; expose rows for each table."""

    def __init__(self, n_hosts: int = 12, pages_per_host: int = 6, mega_factor: int = 50, seed: int = 42):
        self.rng = np.random.default_rng(seed)
        self.pages: dict[str, Page] = {}
        self.robots_rows: list[dict] = []
        self.price_images: list[dict] = []
        self.n_hosts = n_hosts
        self.pages_per_host = pages_per_host
        self.mega_factor = mega_factor
        self._build()

    # -- construction ------------------------------------------------------
    def _add(self, p: Page) -> Page:
        self.pages[p.url] = p
        return p

    def _fill_content(self, p: Page, n_paras: int, media: int = 1, links: list | None = None):
        rng = self.rng
        off_links = list(links or [])
        p.title = _txt(rng, 3)
        for k in range(n_paras):
            p.segments.append(("text", _txt(rng, int(rng.integers(5, 15))), None))
            if k < media:
                ref = f"http://img.example-cdn.com/{hashlib.md5((p.url + str(k)).encode()).hexdigest()[:12]}.jpg"
                p.segments.append(("media", None, ref))
        for to_url, anchor in off_links:
            p.segments.append(("link", anchor, to_url))
            p.outlinks.append((to_url, anchor))
        p.signature_seed = int(
            int.from_bytes(hashlib.md5(("content:" + p.url).encode()).digest()[:6], "big")
        )

    def _host_pages(self, host: str, n: int) -> list[str]:
        return [f"http://{host}/page/{j}.html" for j in range(n)]

    def _build(self):
        rng = self.rng
        hosts = [f"h{i:03d}.example.com" for i in range(self.n_hosts)]
        counts = [self.pages_per_host] * self.n_hosts
        counts[0] = self.pages_per_host * self.mega_factor  # mega host (skew)

        all_urls: dict[str, list[str]] = {h: self._host_pages(h, c) for h, c in zip(hosts, counts)}

        # ordinary pages with intra/cross-host links
        for hi, h in enumerate(hosts):
            urls = all_urls[h]
            for j, u in enumerate(urls):
                p = self._add(Page(url=u, host=h))
                links = []
                n_links = int(rng.integers(1, 4))
                for _ in range(n_links):
                    links.append((urls[int(rng.integers(0, len(urls)))], _txt(rng, 2)))
                if rng.random() < 0.3:  # cross-host link
                    oh = hosts[int(rng.integers(0, len(hosts)))]
                    links.append((all_urls[oh][int(rng.integers(0, len(all_urls[oh])))], _txt(rng, 2)))
                self._fill_content(p, n_paras=int(rng.integers(2, 5)), media=1, links=links)

        # special cases (reference fetch-test-site analogues)
        h1 = hosts[1 % self.n_hosts]
        a, b = all_urls[h1][0], all_urls[h1][1]
        self.pages[b].segments = list(self.pages[a].segments)       # dup_of_pagea
        self.pages[b].outlinks = list(self.pages[a].outlinks)
        self.pages[b].signature_seed = self.pages[a].signature_seed
        self.pages[b].title = self.pages[a].title

        h2 = hosts[2 % self.n_hosts]
        trap_urls = [f"http://{h2}/trap/{d}.html" for d in range(10)]
        for d, u in enumerate(trap_urls):                            # nested_spider_trap
            p = self._add(Page(url=u, host=h2))
            nxt = trap_urls[d + 1] if d + 1 < len(trap_urls) else f"http://{h2}/trap/{d + 1}.html"
            self._fill_content(p, n_paras=1, media=0, links=[(nxt, "deeper")])
        self.pages[all_urls[h2][0]].outlinks.append((trap_urls[0], "trap"))
        self.pages[all_urls[h2][0]].segments.append(("link", "trap", trap_urls[0]))

        h3 = hosts[3 % self.n_hosts]
        self._add(Page(url=f"http://{h3}/exception.html", host=h3, status="exception"))

        h4 = hosts[4 % self.n_hosts]                                  # redirect chain len 5
        chain = [f"http://{h4}/redir/{d}.html" for d in range(6)]
        for d in range(5):
            self._add(Page(url=chain[d], host=h4, status="redir_perm" if d % 2 == 0 else "redir_temp",
                           redirect_to=chain[d + 1]))
        pend = self._add(Page(url=chain[5], host=h4))
        self._fill_content(pend, n_paras=2, media=0, links=[])
        self.pages[all_urls[h4][0]].outlinks.append((chain[0], "moved"))
        self.pages[all_urls[h4][0]].segments.append(("link", "moved", chain[0]))

        h6 = hosts[6 % self.n_hosts]                                  # gone + notmodified
        self._add(Page(url=f"http://{h6}/gone.html", host=h6, status="gone"))
        nm = self._add(Page(url=f"http://{h6}/cached.html", host=h6, status="notmodified"))
        self._fill_content(nm, n_paras=1, media=0)

        # meta-directive pages (X6/X7: HTMLMetaProcessor.java:38-165)
        h9 = hosts[self.n_hosts - 1]
        pni = self._add(Page(url=f"http://{h9}/meta/noindex.html", host=h9,
                             robots_meta="noindex"))
        self._fill_content(pni, n_paras=1, media=0,
                           links=[(all_urls[h9][0], "home")])
        pnf = self._add(Page(url=f"http://{h9}/meta/nofollow.html", host=h9,
                             robots_meta="nofollow"))
        self._fill_content(pnf, n_paras=1, media=0,
                           links=[(all_urls[h9][0], "home"),
                                  (all_urls[hosts[0]][0], "mega")])
        pno = self._add(Page(url=f"http://{h9}/meta/none.html", host=h9,
                             robots_meta="none"))
        self._fill_content(pno, n_paras=1, media=0,
                           links=[(all_urls[h9][0], "home")])
        prf = self._add(Page(url=f"http://{h9}/meta/refresh.html", host=h9,
                             refresh_meta=f"3;url=http://{h9}/meta/target.html"))
        self._fill_content(prf, n_paras=1, media=0)
        ptg = self._add(Page(url=f"http://{h9}/meta/target.html", host=h9))
        self._fill_content(ptg, n_paras=1, media=0)
        pau = self._add(Page(url=f"http://{h9}/meta/tagged.html", host=h9,
                             meta_tags={"author": "sim-bot", "keywords": "alpha,beta"}))
        self._fill_content(pau, n_paras=1, media=0)

        h7 = hosts[7 % self.n_hosts]                                  # robots-disallowed pages
        for j in range(3):
            p = self._add(Page(url=f"http://{h7}/private/{j}.html", host=h7))
            self._fill_content(p, n_paras=1, media=0)
        self.pages[all_urls[h7][0]].outlinks.append((f"http://{h7}/private/0.html", "secret"))
        self.pages[all_urls[h7][0]].segments.append(("link", "secret", f"http://{h7}/private/0.html"))

        # robots: host5 delay 40s (> max 30 -> gone), host6 delay 2s, host7 disallow /private/
        self.robots_rows = [
            {"host": hosts[5 % self.n_hosts], "agent": "*", "disallow": [], "allow": [], "crawl_delay": 40.0},
            {"host": h6, "agent": "*", "disallow": [], "allow": [], "crawl_delay": 2.0},
            {"host": h7, "agent": "*", "disallow": ["/private/"], "allow": [], "crawl_delay": None},
        ]

        # e-commerce platform items (fork extractors)
        iid = 10000
        for pf, meta in PLATFORMS.items():
            n_items = 4
            for k in range(n_items):
                iid += 7
                url = meta["url_tpl"].format(iid=iid)
                cat = CATEGORIES[(iid + k) % len(CATEGORIES)]
                price = round(float(rng.integers(100, 99999)) / 100.0, 2)
                photo = f"http://img.{meta['host']}/photo/{iid}.jpg"
                p = self._add(Page(url=url, host=meta["host"]))
                p.title = f"{pf} item {iid}"
                name = f"{_txt(rng, 2)} model-{iid}"
                p.segments.append(("text", " > ".join(cat), None))
                p.segments.append(("text", name, None))
                p.segments.append(("media", None, photo))
                if k == n_items - 1:
                    # price only via price-image (OCR analogue: media_ref lookup,
                    # DOMContentUtils.java:2140-2195)
                    pref = f"http://img.{meta['host']}/price/{iid}.png"
                    p.segments.append(("media", None, pref))
                    self.price_images.append({"media_ref": pref, "price": price})
                else:
                    p.segments.append(("text", f"price: {price:.2f} yuan", None))
                p.signature_seed = int(int.from_bytes(hashlib.md5(url.encode()).digest()[:6], "big"))
                p.item = {
                    "doc_id": url, "platform": pf, "item_id": str(iid), "name": name,
                    "category": cat, "price": price, "photo_ref": photo,
                }
            # link platform index page from the mega host
            self.pages[all_urls[hosts[0]][0]].outlinks.append((url, pf))
            self.pages[all_urls[hosts[0]][0]].segments.append(("link", pf, url))

    # -- table rows ----------------------------------------------------------
    def web_graph_rows(self) -> list[dict]:
        rows = []
        for p in self.pages.values():
            html = render_html(p) if p.status in ("ok", "notmodified") else ""
            declared = len(html)
            if p.truncated:
                declared = len(html) + 1000
            rows.append(
                {
                    "url": p.url, "host": p.host, "status": p.status,
                    "redirect_to": p.redirect_to,
                    "outlinks": [{"to_url": t, "anchor": a} for t, a in p.outlinks],
                    "content_length": len(html), "declared_length": declared,
                    "signature_seed": p.signature_seed,
                }
            )
        return rows

    def raw_content_rows(self) -> list[dict]:
        return [
            {"url": p.url, "host": p.host, "content": render_html(p),
             "content_type": "text/html", "base_url": p.url}
            for p in self.pages.values()
            if p.status in ("ok", "notmodified")
        ]

    def robots(self) -> list[dict]:
        return self.robots_rows

    def seeds_rows(self) -> list[dict]:
        seeds = []
        hosts = sorted({p.host for p in self.pages.values() if p.host.startswith("h")})
        for h in hosts:
            seeds.append({"url": f"http://{h}/page/0.html", "metadata": {}})
        seeds.append({"url": f"http://{hosts[0]}/page/1.html", "metadata": {"nutch.score": "10.0"}})
        for meta in PLATFORMS.values():
            # platform index seed points at a real item page
            pf_urls = [u for u, p in self.pages.items() if p.host == meta["host"]]
            seeds.append({"url": sorted(pf_urls)[0], "metadata": {}})
        return seeds

    def expected_spans_rows(self) -> list[dict]:
        """Ground-truth span sequences (the per-row invariant)."""
        rows = []
        for p in self.pages.values():
            if p.status not in ("ok", "notmodified"):
                continue
            for off, (kind, text, ref) in enumerate(p.segments):
                rows.append(
                    {"doc_id": p.url, "offset": off, "kind": kind,
                     "text": " ".join(text.split()) if text is not None and kind == "text" else (text if kind == "link" else None),
                     "media_ref": ref}
                )
        return rows

    def expected_items_rows(self) -> list[dict]:
        return [p.item for p in self.pages.values() if p.item]

    # -- spark loaders -------------------------------------------------------
    def to_spark(self, spark):
        """Return dict of DataFrames for all corpus tables."""
        from pyspark.sql import types as T

        raw_schema = T.StructType([
            T.StructField("url", T.StringType(), False),
            T.StructField("host", T.StringType(), False),
            T.StructField("content", T.StringType(), False),
            T.StructField("content_type", T.StringType(), False),
            T.StructField("base_url", T.StringType(), False),
        ])
        price_schema = T.StructType([
            T.StructField("media_ref", T.StringType(), False),
            T.StructField("price", T.DoubleType(), False),
        ])
        return {
            "web_graph": spark.createDataFrame(self.web_graph_rows(), schema=schemas.WEB_GRAPH_SCHEMA),
            "raw_content": spark.createDataFrame(self.raw_content_rows(), schema=raw_schema),
            "robots": spark.createDataFrame(self.robots(), schema=schemas.ROBOTS_SCHEMA),
            "seeds": spark.createDataFrame(self.seeds_rows(), schema=schemas.SEEDS_SCHEMA),
            "price_images": spark.createDataFrame(
                self.price_images or [{"media_ref": "none", "price": 0.0}], schema=price_schema
            ),
        }
