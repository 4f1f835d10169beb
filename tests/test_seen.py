"""Bloom seen-set: no false negatives; anti-join exactness; determinism."""

from pyspark.sql import functions as F

from nutch_spark.operators.seen import (SketchParams, build_seen_sketch, new_urls,
                                        probe_seen_flags, sketch_params)

P = SketchParams(buckets=4, bits=1 << 16, k=5)


def mk(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "url string")


def test_no_false_negatives(spark):
    seen = [f"http://h{i % 7}.com/p/{i}.html" for i in range(500)]
    frontier = mk(spark, seen)
    sketch = build_seen_sketch(frontier, P).cache()
    assert sketch.count() <= 4
    # every seen URL must be flagged maybe_seen by the probe
    out = probe_seen_flags(mk(spark, seen), sketch).filter(~F.col("maybe_seen"))
    assert out.count() == 0


def test_new_urls_exact(spark):
    seen = [f"http://h{i % 7}.com/p/{i}.html" for i in range(300)]
    novel = [f"http://new{i}.com/x.html" for i in range(50)]
    frontier = mk(spark, seen)
    sketch = build_seen_sketch(frontier, P)
    got = {r.url for r in new_urls(mk(spark, seen + novel), frontier, sketch).collect()}
    assert got == set(novel)


def test_sketch_deterministic(spark):
    urls = [f"http://h{i % 5}.com/p/{i}.html" for i in range(200)]
    s1 = {(r.bucket, bytes(r.bitmap)) for r in build_seen_sketch(mk(spark, urls), P).collect()}
    s2 = {(r.bucket, bytes(r.bitmap)) for r in
          build_seen_sketch(mk(spark, urls).repartition(7), P).collect()}
    assert s1 == s2


def test_incremental_update_equals_full_build(spark):
    """OR-ing new URLs into a prior sketch == building from the union
    (the per-cycle incremental path is exact)."""
    from nutch_spark.operators.seen import update_seen_sketch

    first = [f"http://h{i % 7}.com/p/{i}.html" for i in range(200)]
    second = [f"http://n{i % 3}.com/q/{i}.html" for i in range(80)]
    s1 = build_seen_sketch(mk(spark, first), P)
    s2 = update_seen_sketch(s1, mk(spark, second), P)
    full = build_seen_sketch(mk(spark, first + second), P)
    got = {(r.bucket, bytes(r.bitmap)) for r in s2.collect()}
    want = {(r.bucket, bytes(r.bitmap)) for r in full.collect()}
    assert got == want


def test_probe_flags_route_positives_to_exact_check(spark):
    """new_urls must equal the exact sketchless anti-join even when the
    bloom fires false positives (tiny bitmap forces FPs)."""
    tiny = SketchParams(buckets=2, bits=1 << 8, k=2)  # 256-bit bitmaps -> many FPs
    seen = [f"http://h{i}.com/a.html" for i in range(120)]
    novel = [f"http://x{i}.com/b.html" for i in range(60)]
    frontier = mk(spark, seen)
    sketch = build_seen_sketch(frontier, tiny)
    flagged = probe_seen_flags(mk(spark, seen + novel), sketch)
    # invariant: every truly-seen URL must be flagged maybe_seen (no false negs)
    assert flagged.filter(~F.col("maybe_seen")).join(
        frontier, "url", "inner").count() == 0
    # some novel URL should STILL be flagged maybe_seen here (the FP case)…
    n_fp = flagged.filter(F.col("maybe_seen")).join(
        frontier, "url", "left_anti").count()
    assert n_fp > 0, "fixture did not produce bloom FPs; shrink the bitmap"
    # …and new_urls must nevertheless return exactly the novel set
    got = {r.url for r in new_urls(mk(spark, seen + novel), frontier, sketch).collect()}
    assert got == set(novel)


def test_legacy_sketch_format_rejected(spark):
    """A v1 sketch (no fmt column, md5-lane positions) must not be OR'd into:
    sketch_params returns None so callers rebuild from the frontier, and a
    probe flags every candidate for the exact check. A current sketch reads
    back the parameters it was built at."""
    from pyspark.sql import types as T

    v1_schema = T.StructType([
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("bitmap", T.BinaryType(), False),
        T.StructField("n_urls", T.LongType(), False),
    ])
    v1 = spark.createDataFrame([(0, bytearray(8192), 10)], v1_schema)
    assert sketch_params(v1) is None
    assert sketch_params(None) is None
    # a probe of an unusable sketch sends every candidate to the exact check
    flags = probe_seen_flags(mk(spark, ["http://b.com/"]), v1).collect()
    assert [r.maybe_seen for r in flags] == [True]
    cur = build_seen_sketch(mk(spark, ["http://a.com/"]), P)
    assert sketch_params(cur) == P


def test_sketch_parameter_mismatch_rejected(spark):
    """A sketch built under different (buckets, bits, k) maps URLs to
    different bit positions; OR-ing or probing it yields bloom FALSE
    negatives. Each changed parameter must compare unequal to the sketch's
    own, so the crawl rebuilds instead of OR-ing into it (fmt=2 lacked the
    parameter columns entirely and a resumed crawl silently accepted
    incompatible bitmaps)."""
    sk = build_seen_sketch(mk(spark, ["http://a.com/"]), P)
    assert sketch_params(sk) == P
    for changed in (
        SketchParams(buckets=8, bits=1 << 16, k=5),
        SketchParams(buckets=4, bits=1 << 15, k=5),
        SketchParams(buckets=4, bits=1 << 16, k=7),
    ):
        assert sketch_params(sk) != changed


def test_sketch_params_for_urls():
    """for_urls sizes a sketch for n URLs: capacity >= 2n slots of 8 bits
    (>= 16 bits per URL), power-of-two buckets of at most 2^22 bits each,
    and never smaller for a larger n."""
    ns = [0, 1, 2, 3, 24, 31, 32, 33, 57, 88, 4680, 1 << 18, (1 << 18) + 1,
          10 ** 6, 10 ** 10]
    prev = None
    for n in ns:
        p = SketchParams.for_urls(n)
        total = p.buckets * p.bits
        assert total // 8 >= 2 * n, (n, p)
        assert p.buckets & (p.buckets - 1) == 0, (n, p)
        assert 0 < p.bits <= 1 << 22 and p.bits % 8 == 0, (n, p)
        assert p.k == 5
        if prev is not None:
            assert p.buckets >= prev.buckets and total >= prev.buckets * prev.bits, (n, p)
        prev = p
    assert SketchParams.for_urls(1 << 18).buckets == 1
    assert SketchParams.for_urls((1 << 18) + 1).buckets == 2


def test_sketch_build_runs_no_python_scan(spark):
    """The empty base of a full build is planned in the JVM: no
    `Scan ExistingRDD` (a PythonRDD job of its own), and the same bitmaps
    as a build over a `createDataFrame([])` base."""
    from nutch_spark.operators.seen import SKETCH_SCHEMA, update_seen_sketch

    urls = spark.range(300).select(
        F.concat(F.lit("http://h"), (F.col("id") % 7).cast("string"),
                 F.lit(".com/p/"), F.col("id").cast("string")).alias("url"))
    sketch = build_seen_sketch(urls, P)
    plan = sketch._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" not in plan, plan
    rows = {(r.bucket, bytes(r.bitmap), r.n_urls) for r in sketch.collect()}
    rdd_base = update_seen_sketch(spark.createDataFrame([], SKETCH_SCHEMA), urls, P)
    assert rows == {(r.bucket, bytes(r.bitmap), r.n_urls) for r in rdd_base.collect()}
