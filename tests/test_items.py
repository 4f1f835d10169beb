"""Item-extractor parity: extracted items == corpus ground truth
(analogue of the fork's 15 ItemParser plugins; FIXTURES.md expected_items),
over the documents frame run_parse commits."""

from nutch_spark.operators.items import extract_items


def test_items_match_ground_truth(corpus, corpus_tables, corpus_parsed):
    docs = corpus_parsed["documents"]
    got = {
        r.doc_id: r.asDict()
        for r in extract_items(docs, corpus_tables["price_images"]).collect()
    }
    expected = {e["doc_id"]: e for e in corpus.expected_items_rows()}
    assert set(got) == set(expected)
    for doc_id, e in expected.items():
        g = got[doc_id]
        assert g["platform"] == e["platform"], doc_id
        assert g["item_id"] == e["item_id"], doc_id
        assert g["name"] == e["name"], doc_id
        assert list(g["category"]) == e["category"], doc_id
        assert abs(g["price"] - e["price"]) < 1e-9, doc_id  # incl. price-image OCR lookups
        assert g["photo_ref"] == e["photo_ref"], doc_id
