"""Single-URL checker tools: `bin/nutch parsechecker` and `indexchecker`.

- ParserChecker (parse/ParserChecker.java:36-144): fetch one URL, resolve
  its content type (honoring `-forceAs mimeType`), run the parser chain,
  compute the SignatureFactory signature, and print url / contentType /
  signature / ParseData (+ ParseText under `-dumpText`).
- IndexingFiltersChecker (indexer/IndexingFiltersChecker.java:49-130):
  same fetch+parse, then run the indexing-filter chain on the resulting
  NutchDocument and print each field name with the first 100 characters of
  its value.

Both are debug surfaces over the production kernels, not new computation:
they call the same run_parse / build_index paths the crawl cycle uses, so
what they display IS what the pipeline would commit. Input is a content
DataFrame (url, content, content_type) — the sandbox's simulated-fetch
convention (SURVEY §2.1 S10); with a real protocol stack the content rows
would come from the fetcher.

Scale note: these run over a handful of URLs by design (the reference is
strictly single-URL). The result is checkpointed (checkpoints.
iter_checkpoint) so the parse kernel's CACHE CONTRACT frames can be
unpersisted before returning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from nutch_spark import schemas
from nutch_spark.checkpoints import iter_checkpoint
from nutch_spark.config import CrawlConfig
from nutch_spark.functions.content import resolve_mime_udf
from nutch_spark.functions.signatures import md5_signature_col
from nutch_spark.operators.parse import run_parse


def _fabricate_fetch(content: DataFrame) -> DataFrame:
    """ParserChecker feeds the parser a fresh CrawlDatum + fetched Content
    (ParserChecker.java:75-79): successful, untruncated, default score."""
    return content.select(
        "url",
        F.lit(schemas.STATUS_FETCH_SUCCESS).alias("fetch_status"),
        F.lit(False).alias("truncated"),
        F.lit(1.0).cast("float").alias("score"),
        md5_signature_col(F.col("content")).alias("signature"),
        F.lit(None).cast("string").alias("redirect_to"),
        F.lit(0).cast("long").alias("fetch_ts"),
        F.length("content").cast("long").alias("content_length"),
    )


def _resolved_content(content: DataFrame,
                      force_content_type: str | None) -> DataFrame:
    """-forceAs override, else the protocol layer's MIME resolution
    (declared header + url extension + magic — the same path fetch uses);
    shared by both checkers so they dispatch identically."""
    if force_content_type is not None:  # -forceAs (ParserChecker.java:58-60,86-88)
        return content.withColumn("content_type", F.lit(force_content_type))
    return content.withColumn(
        "content_type",
        resolve_mime_udf(
            F.col("content_type"), F.col("url"),
            F.col("content").cast("binary"),
        ),
    )


def check_parse(
    content: DataFrame,
    cfg: CrawlConfig | None = None,
    force_content_type: str | None = None,
    dump_text: bool = False,
) -> DataFrame:
    """ParserChecker (parse/ParserChecker.java:45-120). One row per input
    URL: url, content_type, signature, title, n_outlinks (+ text when
    dump_text, the `-dumpText` flag)."""
    cfg = cfg or CrawlConfig()
    content = _resolved_content(content, force_content_type)
    fetch_out = _fabricate_fetch(content)
    res = run_parse(fetch_out, content, cfg)
    sig = res["parse_updates"].filter(
        F.col("kind") == schemas.STATUS_SIGNATURE
    ).select("url", "signature")
    pdata = res["parse_data"].select(
        "url", "title",
        F.when(F.col("outlinks").isNull(), F.lit(0))
        .otherwise(F.size("outlinks")).alias("n_outlinks"),
    )
    out = content.select("url", "content_type").join(
        sig, "url", "left").join(pdata, "url", "left")
    if dump_text:
        out = out.join(
            res["parse_text"].select("url", "text"), "url", "left")
    out = iter_checkpoint(out)  # materialize, then honor the CACHE CONTRACT
    res["docs_nested"].unpersist()
    return out


def check_index(
    content: DataFrame,
    cfg: CrawlConfig | None = None,
    force_content_type: str | None = None,
) -> DataFrame:
    """IndexingFiltersChecker (indexer/IndexingFiltersChecker.java:57-130):
    fetch + parse + indexing-filter chain over a fresh CrawlDatum with no
    inlinks, melted to (url, field, value) rows with values truncated to
    the reference's 100-char display window (:119-123). Content type goes
    through the same resolution as check_parse (the reference stores
    content.getContentType() into the datum, :84-86)."""
    from nutch_spark.operators.indexer import build_index

    cfg = cfg or CrawlConfig()
    content = _resolved_content(content, force_content_type)
    fetch_out = _fabricate_fetch(content)
    res = run_parse(fetch_out, content, cfg)
    # blank datum (IndexingFiltersChecker.java:77): unfetched-equivalent
    # state, default score/interval; signature from the parse
    sig = res["parse_updates"].filter(
        F.col("kind") == schemas.STATUS_SIGNATURE
    ).select("url", "signature")
    frontier = content.select(
        "url",
        F.lit(schemas.STATUS_DB_FETCHED).alias("status"),
        F.lit(1.0).cast("float").alias("score"),
        F.lit(0).cast("long").alias("fetch_time"),
    ).join(sig, "url", "left")
    idx = build_index(
        frontier, fetch_out, res["parse_text"], res["parse_data"],
        None, cfg,
    )
    # NutchDocument fields: scalar columns are fields themselves; map
    # columns (static_fields, metatags, …) hold plugin sub-fields — flatten
    # their entries so the display matches doc.getFieldNames()
    from pyspark.sql.types import MapType

    parts = []
    for f_ in idx.schema.fields:
        if f_.name == "url":
            continue
        if isinstance(f_.dataType, MapType):
            parts.append(F.transform(
                F.map_entries(F.coalesce(
                    F.col(f_.name),
                    F.create_map().cast("map<string,string>"))),
                lambda e: F.struct(
                    e["key"].alias("field"),
                    e["value"].cast("string").alias("value")),
            ))
        else:
            parts.append(F.array(F.struct(
                F.lit(f_.name).alias("field"),
                F.col(f_.name).cast("string").alias("value"))))
    out = iter_checkpoint(
        idx.select("url", F.explode(F.concat(*parts)).alias("fv"))
        .select(
            "url", F.col("fv.field").alias("field"),
            F.substring(F.col("fv.value"), 1, 100).alias("value"))
        .filter(F.col("value").isNotNull())
    )
    res["docs_nested"].unpersist()
    return out
