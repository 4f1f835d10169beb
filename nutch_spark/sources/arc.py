"""ARC web-archive import (SURVEY S8 — previously declared out of scope).

Reference: tools/arc/ArcInputFormat.java:25-50, ArcRecordReader.java:42-270,
ArcSegmentCreator.java:60-330. Format (archive.org ArcFileFormat): a
"compressed ARC" is a concatenation of independent GZIP MEMBERS — first the
filedesc:// version block, then one member per document; each member unzips
to `header-line\n` + payload where the v1 header line is

    URL IP-address Archive-date Content-type Archive-length

(ArcSegmentCreator.java:276-279 splits the header on whitespace: url =
h[0]; remaining fields positional). The reference reader scans for the gzip
magic (ArcRecordReader.isMagic:66-90) to find member starts; here each
member is consumed with zlib and the next one starts at `unused_data` —
same framing, no false-positive rescans needed. Corrupt members are skipped
best-effort exactly like the reader's try/continue.

Spark realization: `spark.read.format("binaryFile")` over the .arc.gz glob
-> one mapInPandas kernel per file (an ARC file is one gzip-framed stream =
one split, matching the reference's per-file record reader; parallelism
comes from the many-files layout ARC archives ship in). The segment-creator
step (normalize SCOPE_FETCHER via normalizers.normalize_chain_split + URL
filter + content rows) is DataFrame code downstream.
"""

from __future__ import annotations

import gzip
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

ARC_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), True),
    T.StructField("ip", T.StringType(), True),
    T.StructField("archive_date", T.StringType(), True),
    T.StructField("content_type", T.StringType(), True),
    T.StructField("declared_length", T.LongType(), True),
    T.StructField("content", T.BinaryType(), True),
    T.StructField("arc_file", T.StringType(), True),
])


def split_arc_members(data: bytes) -> Iterator[bytes]:
    """Yield the unzipped payload of each gzip member in a compressed ARC.

    ArcRecordReader scans for `\\x1f\\x8b` magic (isMagic:66-90) and unzips
    from there; zlib's `unused_data` gives the identical member boundary
    without the false-positive loop. A member that fails to unzip is
    skipped by rescanning for the next magic (the reader's error path)."""
    pos = 0
    n = len(data)
    while pos < n:
        nxt = data.find(b"\x1f\x8b", pos)
        if nxt < 0:
            return
        d = zlib.decompressobj(wbits=16 + zlib.MAX_WBITS)
        try:
            payload = d.decompress(data[nxt:])
        except zlib.error:
            pos = nxt + 2  # corrupt member: rescan after this magic
            continue
        yield payload
        consumed = (n - nxt) - len(d.unused_data)
        pos = nxt + max(consumed, 2)


def parse_arc_record(payload: bytes) -> dict | None:
    """One unzipped member -> record dict (None for the filedesc:// version
    block and malformed headers). Header split on whitespace like
    ArcSegmentCreator.java:276."""
    eol = payload.find(b"\n")
    if eol < 0:
        return None
    header = payload[:eol].decode("utf-8", errors="replace").strip()
    parts = header.split()
    if not parts or parts[0].startswith("filedesc://"):
        return None
    url = parts[0]
    ip = parts[1] if len(parts) > 1 else None
    date = parts[2] if len(parts) > 2 else None
    ctype = parts[3] if len(parts) > 3 else None
    try:
        length = int(parts[4]) if len(parts) > 4 else None
    except ValueError:
        length = None
    content = payload[eol + 1:]
    # v1 writers append a trailing newline after the payload; the declared
    # length is authoritative when consistent (ArcRecordReader reads the
    # member, the creator trusts the header length)
    if length is not None and 0 <= length < len(content):
        content = content[:length]
    return {
        "url": url, "ip": ip, "archive_date": date, "content_type": ctype,
        "declared_length": length, "content": content,
    }


def _arc_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows: list[dict] = []
        for path, data in zip(pdf["path"], pdf["content"]):
            for payload in split_arc_members(bytes(data)):
                rec = parse_arc_record(payload)
                if rec is not None:
                    rec["arc_file"] = path
                    rows.append(rec)
        if rows:
            yield pd.DataFrame(rows, columns=[f.name for f in ARC_SCHEMA.fields])


def read_arc(spark: SparkSession, path_glob: str) -> DataFrame:
    """ARC files -> records DataFrame. One kernel call per file (binaryFile
    rows); at scale ARC archives are thousands of ~100 MB files, so the
    per-file split matches the reference's ArcInputFormat (one split per
    file — gzip streams are unsplittable there too)."""
    files = spark.read.format("binaryFile").load(path_glob).select("path", "content")
    return files.mapInPandas(_arc_kernel, ARC_SCHEMA)


def arc_to_segment(records: DataFrame, cfg=None) -> DataFrame:
    """ArcSegmentCreator.java:276-330 analogue: normalize (SCOPE_FETCHER)
    + URL-filter the record URL, resolve the content type (declared +
    magic), and emit content rows ready for the parse stage."""
    from nutch_spark.functions.content import resolve_mime_udf
    from nutch_spark.functions.normalizers import normalize_chain_split
    from nutch_spark.functions.urls import RegexUrlFilter

    out = normalize_chain_split(
        records, "url", "norm_url", "fetcher",
        cfg.urlnormalizer_loop_count if cfg else 1,
    ).filter(RegexUrlFilter().col(F.col("norm_url")))
    return out.select(
        F.col("norm_url").alias("url"),
        resolve_mime_udf(
            F.col("content_type"), F.col("norm_url"), F.col("content")
        ).alias("content_type"),
        "archive_date", "content", "arc_file",
    )


# --- fixture writer (tests/oracles; spec-conformant output) ----------------

def write_arc_file(path: str, records: list[dict],
                   arc_name: str = "synthetic.arc") -> None:
    """Write a compressed ARC: filedesc version block + one gzip member per
    record. Mirrors the layout ArcRecordReader expects (gzip magic at every
    member start)."""
    def member(payload: bytes) -> bytes:
        return gzip.compress(payload, mtime=0)

    blocks = []
    version = (
        f"filedesc://{arc_name} 0.0.0.0 20080101000000 text/plain 76\n"
        "1 0 InternetArchive\nURL IP-address Archive-date Content-type Archive-length\n"
    ).encode()
    blocks.append(member(version))
    for r in records:
        content = r["content"] if isinstance(r["content"], bytes) else r["content"].encode()
        header = (
            f"{r['url']} {r.get('ip', '0.0.0.0')} "
            f"{r.get('archive_date', '20080101000000')} "
            f"{r.get('content_type', 'text/html')} {len(content)}\n"
        ).encode()
        blocks.append(member(header + content + b"\n"))
    with open(path, "wb") as f:
        f.write(b"".join(blocks))
