import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nutch_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("nutch-spark-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus():
    from nutch_spark.corpus import SyntheticWeb

    return SyntheticWeb(n_hosts=10, pages_per_host=4, mega_factor=10, seed=42)


@pytest.fixture(scope="session")
def corpus_tables(spark, corpus):
    tables = corpus.to_spark(spark)
    for df in tables.values():
        df.cache().count()
    return tables


@pytest.fixture(scope="session")
def corpus_parsed(corpus_tables):
    """run_parse over every corpus page as a successful fetch: the crawl's
    own span_rows / documents / parse_text frames."""
    from pyspark.sql import functions as F

    from nutch_spark import schemas
    from nutch_spark.config import CrawlConfig
    from nutch_spark.operators.parse import run_parse

    raw = corpus_tables["raw_content"]
    fetch_out = raw.select(
        "url",
        F.lit(schemas.STATUS_FETCH_SUCCESS).alias("fetch_status"),
        F.lit(False).alias("truncated"),
        F.lit(1.0).cast("float").alias("score"),
        F.lit(None).cast("string").alias("signature"),
        F.lit(None).cast("string").alias("redirect_to"),
    )
    parsed = run_parse(fetch_out, raw, CrawlConfig())
    yield parsed
    parsed["docs_nested"].unpersist()
    parsed["links"].unpersist()
