"""protocol-file tests (plugin/protocol-file FileResponse.java status walk,
directory listing format, content-limit truncation; TestProtocolFile's
status-based assertions re-expressed over real temp files)."""

import os

import pytest
from pyspark.sql import functions as F

from nutch_spark import schemas as S
from nutch_spark.config import CrawlConfig
from nutch_spark.sources.fileproto import fetch_file_protocol


@pytest.fixture()
def tree(tmp_path):
    (tmp_path / "page.html").write_text(
        "<html><head><title>F</title></head><body>hello</body></html>")
    (tmp_path / "big.bin").write_bytes(b"x" * 200_000)
    sub = tmp_path / "sub"
    sub.mkdir()
    (sub / "inner.txt").write_text("inner")
    os.symlink(tmp_path / "page.html", tmp_path / "alias.html")
    return tmp_path


def _fetch(spark, urls, cfg=None, mt=None):
    if mt is None:
        df = spark.createDataFrame([(u,) for u in urls], "url string")
    else:
        df = spark.createDataFrame(list(zip(urls, mt)),
                                   "url string, modified_time long")
    rows = fetch_file_protocol(df, cfg or CrawlConfig()).collect()
    return {r.url: r for r in rows}


def test_file_fetch_success_and_mime(spark, tree):
    u = f"file://{tree}/page.html"
    r = _fetch(spark, [u])[u]
    assert r.code == 200 and r.fetch_status == S.STATUS_FETCH_SUCCESS
    assert b"hello" in r.content
    assert r.content_type == "text/html"
    assert r.truncated is False


def test_file_fetch_missing_is_404_gone(spark, tree):
    u = f"file://{tree}/nope.html"
    r = _fetch(spark, [u])[u]
    assert r.code == 404 and r.fetch_status == S.STATUS_FETCH_GONE


def test_file_fetch_symlink_redirects_to_canonical(spark, tree):
    u = f"file://{tree}/alias.html"
    r = _fetch(spark, [u])[u]
    assert r.code == 300 and r.fetch_status == S.STATUS_FETCH_REDIR_PERM
    assert r.redirect_to == f"file://{os.path.realpath(tree / 'page.html')}"


def test_file_fetch_dotdot_redirects_to_canonical(spark, tree):
    """'..'-spelled paths are non-canonical (FileResponse.java:152 compares
    the RAW path, which java.io.File leaves unresolved, to the canonical
    one) — a normpath-based compare used to collapse the '..' itself and
    serve the same file 200 under many URL spellings, defeating dedup."""
    u = f"file://{tree}/sub/../page.html"
    r = _fetch(spark, [u])[u]
    assert r.code == 300 and r.fetch_status == S.STATUS_FETCH_REDIR_PERM
    assert r.redirect_to == f"file://{os.path.realpath(tree / 'page.html')}"


def test_file_fetch_trailing_slash_dir_is_canonical(spark, tree):
    """java.io.File strips trailing separators before the canonical
    compare, so 'file:///dir/' serves the listing directly, no redirect."""
    u = f"file://{tree}/sub/"
    r = _fetch(spark, [u])[u]
    assert r.code == 200
    assert b"inner.txt" in r.content


def test_fetch_one_filesystem_races_become_statuses(tree, monkeypatch):
    """A file vanishing (or losing permission) between the existence check
    and a stat/read must come back as a per-url status, not an exception
    out of the kernel — the reference converts these to ProtocolStatus(e)
    (File.java:96-98); an uncaught error here would fail the task and,
    after retries, abort a fetch stage over millions of urls."""
    from nutch_spark.sources import fileproto as fp

    u = f"file://{tree}/page.html"
    for exc, code in ((FileNotFoundError("gone"), 404),
                      (PermissionError("denied"), 401),
                      (OSError("io"), 500)):
        def boom(_p, _e=exc):
            raise _e
        monkeypatch.setattr(fp.os.path, "getmtime", boom)
        r = fp._fetch_one(u, 0, CrawlConfig())
        assert r["code"] == code, (exc, r["code"])
        assert r["fetch_status"] == S.STATUS_FETCH_GONE


def test_file_fetch_not_modified(spark, tree):
    u = f"file://{tree}/page.html"
    future = int(os.path.getmtime(tree / "page.html") * 1000) + 10_000
    r = _fetch(spark, [u], mt=[future])[u]
    assert r.code == 304 and r.fetch_status == S.STATUS_FETCH_NOTMODIFIED
    # mtime AFTER the datum's modified time still fetches
    r2 = _fetch(spark, [u], mt=[1_000])[u]
    assert r2.code == 200


def test_file_fetch_truncation_keeps_full_length_header(spark, tree):
    u = f"file://{tree}/big.bin"
    r = _fetch(spark, [u], cfg=CrawlConfig(file_content_limit=1024))[u]
    assert r.truncated is True
    assert len(r.content) == 1024
    assert r.content_length == 200_000  # FileResponse.java:215 full size
    r2 = _fetch(spark, [u], cfg=CrawlConfig(file_content_limit=-1))[u]
    assert r2.truncated is False and len(r2.content) == 200_000


def test_file_fetch_directory_listing(spark, tree):
    u = f"file://{tree}/sub"
    r = _fetch(spark, [u])[u]
    assert r.code == 200 and r.content_type == "text/html"
    body = r.content.decode()
    assert f"<title>Index of {tree}/sub</title>" in body
    assert "<a href='../'>../</a>\t-\t-\t-" in body  # file.crawl.parent
    assert "<a href='inner.txt'>inner.txt</a>\t" in body
    assert body.rstrip().endswith("</pre></body></html>")
    # crawl-parent off: no ../ entry (FileResponse.java:231-235)
    r2 = _fetch(spark, [u], cfg=CrawlConfig(file_crawl_parent=False))[u]
    assert "../" not in r2.content.decode()


def test_file_fetch_non_file_scheme_rejected(spark, tree):
    u = "http://example.com/"
    r = _fetch(spark, [u])[u]
    assert r.code == 500 and r.fetch_status == S.STATUS_FETCH_GONE


def test_listing_outlinks_feed_the_parser(spark, tree):
    """The listing is real HTML: the parse kernel extracts its entries as
    outlinks, so a file:// crawl walks directories like the reference."""
    from nutch_spark.operators.parse import extract_documents_by_mime

    # trailing slash: listing hrefs are relative, and (like the reference)
    # a slashless directory URL resolves children against its PARENT —
    # the listing itself emits child dirs as 'name/' so the walk keeps
    # slashed directory URLs from here on
    u = f"file://{tree}/sub/"
    fetched = fetch_file_protocol(
        spark.createDataFrame([(u,)], "url string"), CrawlConfig())
    content = fetched.select(
        "url", F.col("content").cast("string").alias("content"),
        "content_type")  # the listing is typed text/html
    docs = extract_documents_by_mime(content).collect()
    links = [s["media_ref"] for d in docs for s in d.spans
             if s["kind"] == "link"]
    assert f"file://{tree}/sub/inner.txt" in links
