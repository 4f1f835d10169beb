"""Span-sequence equality — THE per-row invariant (input_hint):
extractor output must equal the corpus ground truth in (kind, text,
media_ref, order). Analogue of parse-html TestDOMContentUtils. Checked on
the frames run_parse returns, i.e. the path the crawl runs."""

import pandas as pd
from pyspark.sql import functions as F

from nutch_spark.operators.parse import extract_documents_pdf


def test_span_sequence_equality_all_docs(corpus, corpus_parsed):
    """Every page: extracted spans == generation ground truth, in order."""
    got = (
        corpus_parsed["span_rows"]
        .select("doc_id", "offset", "kind", "text", "media_ref")
        .collect()
    )
    got_by_doc: dict = {}
    for r in got:
        got_by_doc.setdefault(r.doc_id, []).append((r.offset, r.kind, r.text, r.media_ref))
    for doc in got_by_doc.values():
        doc.sort()

    expected: dict = {}
    for r in corpus.expected_spans_rows():
        expected.setdefault(r["doc_id"], []).append(
            (
                r["offset"],
                r["kind"],
                # link spans carry anchor text; media spans carry ref only
                r["text"] if r["kind"] in ("text", "link") else None,
                r["media_ref"],
            )
        )
    for doc in expected.values():
        doc.sort()

    assert set(got_by_doc) == set(expected)
    for doc_id in expected:
        assert got_by_doc[doc_id] == expected[doc_id], doc_id


def test_extractor_whitespace_collapse():
    pdf = pd.DataFrame(
        {
            "url": ["http://x.com/a"],
            "content": ['<html><head><title>T</title></head><body><p>a   b\n\tc</p><img src="http://i/x.jpg"><a href="http://y.com/">link  text</a></body></html>'],
        }
    )
    out = extract_documents_pdf(pdf)
    assert out["title"].iloc[0] == "T"
    spans = out["spans"].iloc[0]
    assert [s["kind"] for s in spans] == ["text", "media", "link"]
    assert spans[0]["text"] == "a b c"
    assert spans[1]["media_ref"] == "http://i/x.jpg"
    assert spans[2]["text"] == "link text"
    assert [s["offset"] for s in spans] == [0, 1, 2]


def test_documents_table_shape(corpus_parsed):
    """documents(doc_id, spans) matches the input_hint schema exactly."""
    docs = corpus_parsed["documents"]
    schema = docs.schema
    assert docs.columns == ["doc_id", "spans"]
    assert schema["doc_id"].dataType.typeName() == "string"
    spans_t = schema["spans"].dataType
    assert spans_t.typeName() == "array"
    names = [f.name for f in spans_t.elementType.fields]
    assert names == ["kind", "text", "media_ref", "offset"]
    # only pages with >= 1 span are committed
    assert docs.filter(F.size("spans") == 0).count() == 0
    # offsets are dense 0..n-1 per doc
    bad = docs.select(
        F.size("spans").alias("n"),
        F.transform("spans", lambda s: s["offset"]).alias("offs"),
    ).filter(
        F.col("offs") != F.sequence(F.lit(0), F.col("n") - 1)
    )
    assert bad.count() == 0


def test_parse_text_document_order(corpus, corpus_parsed):
    pt = {r.url: r.text for r in corpus_parsed["parse_text"].collect()}
    # pick a known multi-paragraph page and verify exact order-preserving join
    page = next(p for p in corpus.pages.values() if len([s for s in p.segments if s[0] == "text"]) >= 2)
    want = " ".join(" ".join(s[1].split()) for s in page.segments if s[0] == "text")
    assert pt[page.url] == want


def test_mime_dispatch(spark):
    """X2 (ParseSegment.java:110-141 dispatch): html -> span walk, plain ->
    single text span, unregistered types skipped."""
    from nutch_spark.operators.parse import extract_documents_by_mime

    df = spark.createDataFrame(
        [
            ("http://a.com/h", "<html><head><title>t</title></head><body><p>hello  world</p></body></html>", "text/html"),
            ("http://a.com/p", "plain   body text", "text/plain; charset=utf-8"),
            # image/png has no registered parser (pdf gained one in round 4)
            ("http://a.com/b", "\x89PNG...", "image/png"),
        ],
        "url string, content string, content_type string",
    )
    got = {r.doc_id: r for r in extract_documents_by_mime(df).collect()}
    assert set(got) == {"http://a.com/h", "http://a.com/p"}  # png skipped
    assert got["http://a.com/h"].title == "t"
    assert [s["text"] for s in got["http://a.com/h"].spans] == ["hello world"]
    p = got["http://a.com/p"]
    assert p.title is None and len(p.spans) == 1
    assert p.spans[0]["kind"] == "text" and p.spans[0]["text"] == "plain body text"
