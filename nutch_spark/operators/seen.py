"""URL-seen set: partitioned bloom sidecar + exact anti-join.

The reference has no explicit seen-set — a URL is "seen" iff it has a
frontier row, enforced implicitly by the updatedb group-by
(crawl/CrawlDbReducer.java:183-198). At 10^10 URLs the implicit version
means every cycle's candidate outlinks join against the full frontier.
The north_rule demands the explicit performance layer:

- a partitioned bloom bitmap (numpy uint8, k hashes via h1 + i*h2
  double-hashing over two JVM-computed xxhash64 lanes — the lanes are
  whole-stage-codegen columns, so NO per-row Python hashing crosses the
  Arrow boundary), one bitmap row per bucket, built and UPDATED
  incrementally with a cogroup kernel — each cycle ORs only the new URLs
  into the previous cycle's bitmaps (no full-frontier rebuild);
- probe: COGROUP candidates with the sketch on bucket — the bucket's
  bitmap crosses into the Arrow kernel ONCE PER BUCKET, never per row
  (a per-row attach is ~bitmap_size x n_rows of Arrow traffic);
- routing: bloom-NEGATIVE candidates are definitely new (no join needed);
  bloom-POSITIVE candidates go to the exact left-anti join against the
  frontier, so bloom false positives are recovered, never dropped. The
  frontier anti-join's left side shrinks by the novelty rate.

Who reads it: the crawl loop writes the sketch every cycle (A4), but no
crawl stage reads it; updatedb finds new URLs through its own merge with
the frontier. The readers are the callers of `probe_seen_flags` and
`new_urls`: perfbench's no-false-negative check and the tests.

Sizing: `SketchParams.for_urls(n)` takes a capacity that is a power of two
>= 2n (at least 64) at 8 bits per slot, so a sketch holds >= 16 bits per
URL (bloom FP <= ~0.14 % at k = 5), in bitmaps of at most 2^22 bits (512 KiB
per Arrow row): one bucket up to 2^18 URLs. A cycle ORs into the previous
sketch while `for_urls` of the new frontier equals its parameters and
rebuilds it otherwise; capacity doubles on each rebuild, so rebuilds are
amortized. Rows carry (fmt, buckets, bits, k), and so does the sketch's
snapshot-log entry (`SketchParams.summary`), which the crawl loop compares
without reading the sketch; a sketch older than fmt 3 (md5 lanes, or no
parameter columns) or an entry without them reads as unusable and is
rebuilt.

Determinism: hashes are seed-fixed; bitmaps are pure functions of the
inserted URL set and the parameters, so N-core and 4N-core runs build
identical sketches.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from nutch_spark.schemas import empty_frame

SKETCH_FMT = 3

SKETCH_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("bitmap", T.BinaryType(), False),
        T.StructField("n_urls", T.LongType(), False),
        T.StructField("fmt", T.IntegerType(), False),
        T.StructField("buckets", T.IntegerType(), False),
        T.StructField("bits", T.LongType(), False),
        T.StructField("k", T.IntegerType(), False),
    ]
)

# lane seeds are distinct from the bucket seed (1): with a shared seed the
# low bits of h1 are constant within a bucket (bucket = h mod buckets) and
# the k probe positions correlate, inflating the false-positive rate
_SEED_H1, _SEED_H2 = 1042, 2043

_K = 5
_MIN_CAPACITY = 64
_BITS_PER_SLOT = 8
_MAX_BUCKET_BITS = 1 << 22


@dataclass(frozen=True)
class SketchParams:
    """`buckets` bitmaps of `bits` bits, `k` hashes. A URL's positions depend
    on all three: OR-ing or probing under other parameters than the
    sketch's own gives false negatives."""
    buckets: int
    bits: int
    k: int

    @classmethod
    def for_urls(cls, n: int) -> SketchParams:
        """Parameters for a sketch holding up to n URLs (see module doc)."""
        capacity = max(_MIN_CAPACITY, 1 << (2 * n - 1).bit_length())
        total_bits = capacity * _BITS_PER_SLOT
        buckets = max(1, total_bits // _MAX_BUCKET_BITS)
        return cls(buckets, total_bits // buckets, _K)

    def summary(self) -> dict:
        """These parameters with the row format, as recorded in the
        snapshot-log entry of a sketch built at them."""
        return {"fmt": SKETCH_FMT, "buckets": self.buckets, "bits": self.bits,
                "k": self.k}

    @classmethod
    def from_summary(cls, summary: dict | None) -> SketchParams | None:
        """Inverse of `summary`; None for an entry that records no
        parameters or another format than SKETCH_FMT."""
        if not summary or summary.get("fmt") != SKETCH_FMT:
            return None
        return cls(summary["buckets"], summary["bits"], summary["k"])


def _bucket_col(buckets: int):
    return F.pmod(F.xxhash64(F.col("url"), F.lit(1)), F.lit(buckets)).cast("int")


def _lane_cols():
    """The two 64-bit hash lanes as JVM expressions (codegen, no Python).
    h2 is forced odd so the double-hash stride is coprime with 2^64."""
    u = F.coalesce(F.col("url"), F.lit(""))
    return [
        F.xxhash64(u, F.lit(_SEED_H1)).alias("_h1"),
        F.xxhash64(u, F.lit(_SEED_H2)).bitwiseOR(F.lit(1)).alias("_h2"),
    ]


def _positions_from_lanes(h1: pd.Series, h2: pd.Series, bits: int, k: int) -> np.ndarray:
    """(k, n) bit positions from the JVM lanes — pure vectorized uint64
    wraparound arithmetic, no per-row work."""
    u1 = h1.to_numpy(dtype=np.int64).view(np.uint64)
    u2 = h2.to_numpy(dtype=np.int64).view(np.uint64)
    ks = np.arange(k, dtype=np.uint64)[:, None]
    return ((u1[None, :] + ks * u2[None, :]) % np.uint64(bits)).astype(np.int64)


def update_seen_sketch(sketch: DataFrame | None, new_urls_df: DataFrame,
                       params: SketchParams) -> DataFrame:
    """OR new URLs' bits into the previous sketch (incremental), which must
    have been built at `params`. With sketch=None this is the full build.
    One cogroup kernel call per bucket; buckets without new URLs pass their
    bitmap through untouched."""
    bits, k = params.bits, params.k
    if sketch is None:
        sketch = empty_frame(new_urls_df.sparkSession, SKETCH_SCHEMA)
    urls_b = (new_urls_df.select("url", *_lane_cols())
              .withColumn("bucket", _bucket_col(params.buckets)))

    def build(key, url_pdf: pd.DataFrame, sk_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(sk_pdf):
            bitmap = np.frombuffer(sk_pdf["bitmap"].iat[0], dtype=np.uint8).copy()
            n_prev = int(sk_pdf["n_urls"].iat[0])
        else:
            bitmap = np.zeros(bits // 8, dtype=np.uint8)
            n_prev = 0
        if len(url_pdf):
            pos = _positions_from_lanes(url_pdf["_h1"], url_pdf["_h2"], bits, k).ravel()
            np.bitwise_or.at(bitmap, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
        return pd.DataFrame(
            {"bucket": [int(key[0])], "bitmap": [bitmap.tobytes()],
             "n_urls": [n_prev + len(url_pdf)], "fmt": [SKETCH_FMT],
             "buckets": [params.buckets], "bits": [bits], "k": [k]}
        )

    return (
        urls_b.groupBy("bucket")
        .cogroup(sketch.groupBy("bucket"))
        .applyInPandas(build, SKETCH_SCHEMA)
    )


def sketch_params(sketch: DataFrame | None) -> SketchParams | None:
    """The parameters `sketch` was built at, read from one row (one small
    Spark job). None for no sketch, an empty one, or one in another format
    than SKETCH_FMT: its positions cannot be reproduced, so OR-ing into it
    or probing it would give false negatives."""
    if sketch is None or not {"fmt", "buckets", "bits", "k"} <= set(sketch.columns):
        return None
    row = sketch.limit(1).collect()
    if not row or row[0]["fmt"] != SKETCH_FMT:
        return None
    r = row[0]
    return SketchParams(r["buckets"], r["bits"], r["k"])


def build_seen_sketch(urls: DataFrame, params: SketchParams) -> DataFrame:
    """Full build: urls -> (bucket, bitmap, n_urls, ...), one row per bucket."""
    return update_seen_sketch(None, urls, params)


def probe_seen_flags(candidates: DataFrame, sketch: DataFrame, _cfg=None) -> DataFrame:
    """candidates + boolean `maybe_seen`. False = DEFINITELY new (bloom has
    no false negatives); True = needs the exact check. The cogroup ships
    each bucket's bitmap into the kernel once — probe cost per candidate is
    k bit tests on JVM-precomputed hash lanes, independent of bitmap size.
    The parameters come from the sketch (`sketch_params`); without them
    every candidate needs the exact check. The third argument is unused,
    kept for callers that still pass a config positionally."""
    params = sketch_params(sketch)
    if params is None:
        return candidates.withColumn("maybe_seen", F.lit(True))
    bits, k = params.bits, params.k
    cand = (candidates.select("*", *_lane_cols())
            .withColumn("bucket", _bucket_col(params.buckets)))
    cols = candidates.columns
    out_schema = T.StructType(
        list(candidates.schema.fields) + [T.StructField("maybe_seen", T.BooleanType(), False)]
    )

    def probe(key, cand_pdf: pd.DataFrame, sk_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(cand_pdf):
            return pd.DataFrame(columns=cols + ["maybe_seen"])
        out = cand_pdf[cols].copy()
        if not len(sk_pdf) or sk_pdf["bitmap"].iat[0] is None:
            out["maybe_seen"] = False  # bucket never inserted -> all new
            return out
        arr = np.frombuffer(sk_pdf["bitmap"].iat[0], dtype=np.uint8)
        pos = _positions_from_lanes(cand_pdf["_h1"], cand_pdf["_h2"], bits, k)  # (k, n)
        hit = (arr[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
        out["maybe_seen"] = np.all(hit, axis=0)
        return out

    return (
        cand.groupBy("bucket")
        .cogroup(sketch.groupBy("bucket"))
        .applyInPandas(probe, out_schema)
    )


def new_urls(candidates: DataFrame, frontier: DataFrame,
             sketch: DataFrame | None = None) -> DataFrame:
    """Exact novelty. With a sketch: bloom-negatives short-circuit (definite
    new, no join); bloom-positives — true hits AND false positives — take
    the exact left-anti join, so the result equals the sketchless anti-join
    exactly while the join's left side shrinks by the novelty rate."""
    if sketch is None:
        return candidates.join(frontier.select("url"), "url", "left_anti")
    flagged = probe_seen_flags(candidates, sketch)
    definite_new = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    needs_check = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    checked = needs_check.join(frontier.select("url"), "url", "left_anti")
    return definite_new.unionByName(checked)
