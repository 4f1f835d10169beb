"""Corpus sampling for training-data pipelines: deterministic per-domain
quota sampling — the domain-mixing / rebalancing step that caps how much
of any one source (a mega-host, a boilerplate farm) enters the training
mix. Crawl-side analogue: the generator's per-host cap (G4,
crawl/Generator.java:277-313) applied corpus-wide instead of per cycle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def domain_quota_sample(documents: DataFrame, quota: int,
                        key_col: str = "source", id_col: str = "doc_id") -> DataFrame:
    """Keep at most ``quota`` documents per ``key_col`` group, chosen by a
    deterministic md5 priority — uniform pseudo-random but fully
    reproducible, so the sampled corpus is stable across runs and engines.

    One ``row_number`` window per key under a ``<= quota`` filter, which
    Spark plans with a Partial ``WindowGroupLimit`` before the one shuffle:
    each map task forwards at most ``quota`` rows per key, so a
    mega-domain never ships or sorts its whole slice on one task. Priority
    ties are impossible (md5 over the unique doc id), so the kept set is
    exactly reproducible.
    """
    # coalesce, not concat_ws's silent null-skip: a NULL key must hash the
    # same in both engines (DuckDB's || propagates NULL, concat_ws drops
    # the field), and the priority string must always carry the ':'
    # separator so the documented md5('key:id') shape holds for every row
    pri = F.md5(F.concat(
        F.coalesce(F.col(key_col).cast("string"), F.lit("")),
        F.lit(":"), F.col(id_col).cast("string")))
    w_key = Window.partitionBy(key_col).orderBy("_pri")
    return (
        documents
        .withColumn("_pri", pri)
        .withColumn("_r", F.row_number().over(w_key))
        .filter(F.col("_r") <= quota)
        .drop("_r", "_pri")
    )


def split_bucket_col(id_col: Column, n_buckets: int = 10000,
                     salt: str = "split") -> Column:
    """Deterministic bucket in [0, n_buckets) from the first 12 md5 hex
    chars of (salt, id) — engine-neutral (conv/md5 exist everywhere, no
    xxhash), uniform, and stable across runs/engines/partitionings, so a
    doc's split assignment never changes as the corpus grows (the property
    rand()-based splits lack). 48 bits of hash keep the modulo bias below
    2^-34 for any n_buckets <= 10^6."""
    h = F.conv(F.substring(F.md5(F.concat_ws(":", F.lit(salt),
                                             id_col.cast("string"))), 1, 12),
               16, 10).cast("long")
    return F.pmod(h, F.lit(n_buckets)).cast("int")


def train_val_split(documents: DataFrame, val_frac: float = 0.01,
                    id_col: str = "doc_id", salt: str = "split",
                    n_buckets: int = 10000) -> DataFrame:
    """Tag every row 'train' or 'val' by deterministic hash bucket: the
    ceil(val_frac * n_buckets) lowest buckets are validation. Map-only
    (zero Exchange) — at 100 TB the split is a scan-composed projection,
    and membership can be recomputed from the id alone (no split table to
    join). val_frac resolution is 1/n_buckets."""
    import math

    if not 0 <= val_frac <= 1:
        raise ValueError("val_frac must be in [0, 1]")
    cut = math.ceil(val_frac * n_buckets)
    bucket = split_bucket_col(F.col(id_col), n_buckets, salt)
    return documents.withColumn(
        "split", F.when(bucket < cut, F.lit("val")).otherwise(F.lit("train")))
