"""ABBA probe: _folds with ONE reference to rep_lens (combined
dup_chars+n_dup fold, the shipped form) vs the previous TWO-reference
form (one aggregate + one size(filter)) over the sf0.1 documents table.

Interpreted HOFs get no CSE, so the two-reference form evaluates the
slice/zip_with repeat-length chain twice per row; this probe measures the
actual wall delta on the bench corpus. Run on an otherwise-idle host:

    python tools/probe_repfold.py [A B A B reps, default 2]
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window, functions as F  # noqa: E402

from nutch_spark.functions.normalizers import with_column_once  # noqa: E402
from nutch_spark.functions.text import (  # noqa: E402
    _lines_expr,
    _rep_fold_expr,
    _rep_lens_expr,
)
from nutch_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


def plan(df, combined: bool):
    text = F.col("text")
    df = with_column_once(df, "_lines", _lines_expr(text))
    n_lines = F.size("_lines")
    df = with_column_once(df, "_ls", F.array_sort("_lines"))
    rep_lens = _rep_lens_expr(F.col("_ls"), n_lines)
    zero = F.lit(0).cast("long")
    if combined:
        folds = F.struct(_rep_fold_expr(rep_lens).alias("rep"))
        df = with_column_once(df, "_folds", folds)
        f = F.col("_folds")
        dup_chars, n_dup = f["rep"]["dup_chars"], f["rep"]["n_dup"]
    else:  # the pre-fix shape: rep_lens referenced twice
        folds = F.struct(
            F.aggregate(rep_lens, zero, lambda a, x: a + x).alias("dup_chars"),
            F.size(F.filter(rep_lens, lambda x: x > 0)).alias("n_dup"),
        )
        df = with_column_once(df, "_folds", folds)
        f = F.col("_folds")
        dup_chars, n_dup = f["dup_chars"], f["n_dup"]
    return df.select("doc_id", dup_chars.alias("dc"), n_dup.alias("nd"))


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    spark = get_spark("probe-repfold", master="local[32]",
                      shuffle_partitions=32)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    docs.write.format("noop").mode("overwrite").save()  # warm the scan
    for r in range(reps):
        for name, combined in (("one-ref", True), ("two-ref", False)):
            t0 = time.time()
            plan(docs, combined).write.format("noop").mode("overwrite").save()
            print(f"rep {r} {name}: {time.time() - t0:.2f}s", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
