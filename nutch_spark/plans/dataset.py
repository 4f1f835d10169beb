"""End-to-end training-dataset build: the composed pipeline a 100-TB crawl
store runs to turn raw crawled documents into a training mix.

This is the integration layer over the individual LLM-pipeline operators —
each step is the SAME function the per-operator gate queries verify, chained
in the order a production pipeline runs them:

    language ID          functions/text.detect_language   (lang gate)
    quality gate         doc-quality length/punct exprs   (heuristic filter)
    exact dedup          operators/dedup.dedup_exact_keep_first
    decontamination      operators/dedup.ngram_contamination (optional)
    PII scrub            functions/pii.scrub_pii
    domain quota         operators/sampling.domain_quota_sample
    train/val split      operators/sampling.train_val_split

Composition is the point at scale: every step is either a map pass (lang,
quality, scrub, split — they fuse into the parquet scan's projection under
whole-stage codegen, zero Exchange) or a hash aggregate / window top-K
keyed on a uniform hash (dedup by md5(text), quota by source) — so the
whole build is scan -> one dedup shuffle -> one quota shuffle, regardless
of corpus size. Nothing here collects to the driver; the output is a
manifest DataFrame (one row per surviving doc) ready to feed the packing
step (operators/packing.pack_sequences).

Crawl-side analogue: none in the reference (Nutch stops at the index);
this surface exists for the training-data half of the north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from nutch_spark.functions.normalizers import with_column_once
from nutch_spark.functions.pii import scrub_pii
from nutch_spark.functions.text import detect_language, token_count
from nutch_spark.operators.dedup import (
    dedup_exact_keep_first,
    ngram_contamination,
)
from nutch_spark.operators.sampling import domain_quota_sample, train_val_split


def build_dataset(
    documents: DataFrame,
    *,
    langs: tuple[str, ...] = ("en",),
    min_chars: int = 80,
    punct_permille_max: int = 200,
    quota: int = 20,
    val_frac: float = 0.05,
    benchmark: DataFrame | None = None,
    contamination_n: int = 8,
) -> DataFrame:
    """Run the full filter -> dedup -> scrub -> sample -> split pipeline.

    Returns the dataset manifest: (doc_id, source, lang_pred, n_chars,
    n_tokens, split) — n_chars over the ORIGINAL text (the quality gate's
    feature), n_tokens over the SCRUBBED text (what training would see).

    The quality threshold is integer arithmetic (n_punct * 1000 <=
    punct_permille_max * n_chars) so the kept set is bit-exact across
    engines — no float-boundary ambiguity in an oracle comparison.
    """
    # 1. language gate (map-only). detect_language is an interpreted-HOF
    # expression (CodegenFallback, no CSE): pin it behind a Generate
    # barrier so the filter references the computed column instead of
    # re-inlining the whole stopword vote into the predicate (PLANS §4.10
    # / §6.25 — the same blowup measured at 7x+ on the normalizer chain).
    d = with_column_once(documents, "lang_pred", detect_language(F.col("text")))
    d = d.filter(F.col("lang_pred").isin(*langs))

    # 2. quality gate (map-only, integer-exact)
    n_chars = F.length("text")
    n_punct = F.length(F.regexp_replace(F.col("text"), r"[^!?.,;:]", ""))
    d = d.withColumn("n_chars", n_chars.cast("long")).filter(
        (F.col("n_chars") >= min_chars)
        & (n_punct * 1000 <= F.lit(punct_permille_max) * n_chars)
    )

    # 3. exact dedup, keep lowest doc_id (map-side-combining hash agg)
    d = dedup_exact_keep_first(d)

    # 3b. benchmark decontamination (optional): drop any doc sharing a
    # word n-gram with the held-out benchmark set. The benchmark side is
    # broadcast inside ngram_contamination, so the training side takes no
    # extra shuffle; the flagged-id anti-join side is tiny (AQE broadcasts)
    if benchmark is not None:
        bad = ngram_contamination(
            d, benchmark, n=contamination_n
        ).select("doc_id")
        d = d.join(bad, "doc_id", "left_anti")

    # 4. PII scrub (map-only regexp chain)
    d = d.withColumn("text", scrub_pii(F.col("text")))

    # 5. per-source quota (one window top-K)
    d = domain_quota_sample(d, quota=quota)

    # 6. deterministic hash-bucket split (map-only)
    d = train_val_split(d, val_frac=val_frac)

    return d.select(
        "doc_id",
        "source",
        "lang_pred",
        "n_chars",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        "split",
    )
