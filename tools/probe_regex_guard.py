"""A/B: 6-rule regexp_replace chain vs a single combined-rlike guard that
lets clean URLs (steady-state majority) skip all replaces.

Usage: python tools/probe_regex_guard.py CORES [DIRTY_PCT]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GUARD = r"(?i:sid|phpsessid|sessionid)=|/(?i:index|default)\.|#|\?&|&{2,}|[?&.]$"


def main() -> None:
    cores = int(sys.argv[1])
    dirty_pct = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    import pyspark.sql.functions as F

    from nutch_spark.functions.normalizers import RegexURLNormalizer
    from nutch_spark.session import get_spark

    spark = get_spark("probe-guard", master=f"local[{cores}]",
                      shuffle_partitions=max(2 * cores, 16))
    n = 4_000_000
    base = spark.range(n).select(
        F.concat(
            F.lit("http://h"), (F.col("id") % 4000).cast("string"),
            F.lit(".example.com/cat"), (F.col("id") % 97).cast("string"),
            F.lit("/page"), F.col("id").cast("string"),
            F.when(F.col("id") % 100 < dirty_pct,
                   F.lit(".html;jsessionid=abc123?a=1&&b=2#frag"))
            .otherwise(F.lit(".html?a=1&b=2")),
        ).alias("url")
    ).cache()
    base.count()

    norm = RegexURLNormalizer()
    chain = norm.col(F.col("url"))
    guarded = F.when(F.col("url").rlike(GUARD), chain).otherwise(F.col("url"))

    t = {}
    for label, expr in (("chain", chain), ("guarded", guarded),
                        ("guarded2", guarded), ("chain2", chain)):
        t0 = time.time()
        base.select(expr.alias("u")).write.format("noop").mode("overwrite").save()
        t[label] = round(time.time() - t0, 2)
    # equivalence check on the dirty sample
    diff = base.select(
        chain.alias("a"), guarded.alias("b")).filter(F.col("a") != F.col("b")).count()
    print(json.dumps({"cores": cores, "dirty_pct": dirty_pct, "mismatches": diff, **t}))
    spark.stop()


if __name__ == "__main__":
    main()
