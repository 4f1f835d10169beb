"""Fixed-length sequence packing for training-data pipelines: GPT-style
concatenate-then-chunk. Documents in a pack group are laid end to end in a
deterministic order and the token stream is cut into chunks of exactly
``max_len`` tokens; the operator emits one row per (document, chunk) with
the token slice of that document inside that chunk — the manifest a
tokenize-and-pack writer needs to build training sequences.

No Nutch analogue (indexing stops at fields); this belongs to the
LLM-pipeline surface (dedup / quality / decontamination / mixing /
packing).

Scale shape: packing is sequential by definition (chunk i depends on the
total token count before it), so the parallel unit is the PACK GROUP, not
the corpus. Groups are (group_col, shard) where shard is a deterministic
md5-derived bucket of the doc id: a mega-source is split across ``shards``
independent token streams, each packed by one window sort. A running
sum needs every row of its group, so Spark's pre-shuffle top-K (which
bounds the generator's and the quota sampler's mega-groups) cannot help
here; the shard is a salt, but one that is PART OF THE RESULT (a chunk
never crosses a shard), so determinism survives any partitioning of the
input. Per group the plan is one hash-partitioned sort (the unavoidable
shuffle) followed by pure Catalyst arithmetic + one Generate (explode) —
no UDF, no driver-side loop.

The shard expression uses only md5/substring/instr arithmetic so an
engine-independent oracle (DuckDB: strpos) can restate it exactly; same
for the md5-free token count (functions/text.tokens_col regex split).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from nutch_spark.functions.text import token_count

def _shard_expr(id_col: str, shards: int) -> "F.Column":
    """Deterministic shard in [0, shards) from the first two md5 nibbles
    of the id (uniform for shards <= 256; engine-neutral: no xxhash —
    conv(hex, 16, 10) here equals the strpos nibble arithmetic the DuckDB
    oracle uses). Column-built, so any column name works (an F.expr
    f-string would break on names needing quoting)."""
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 2), 16, 10
    ).cast("int")
    return F.pmod(h, F.lit(shards)).cast("int")


def pack_sequences(documents: DataFrame, max_len: int,
                   id_col: str = "doc_id", text_col: str = "text",
                   group_col: str | None = None,
                   shards: int = 4) -> DataFrame:
    """Pack whitespace-token streams into chunks of exactly ``max_len``
    tokens per (group, shard); return one row per (doc, chunk):

      id_col, [group_col], shard, chunk_id, n_tokens,
      tok_start, tok_end  — this doc contributes tokens
      [tok_start, tok_end) of its own token list to chunk chunk_id.

    Docs are ordered by id within (group, shard); empty docs are dropped.
    Every chunk is full except the last one of each (group, shard).
    """
    if not 1 <= shards <= 256:
        raise ValueError("shards must be in [1, 256]")
    from nutch_spark.functions.normalizers import with_column_once

    part_cols = ([group_col] if group_col else []) + ["shard"]
    # ROWS framing, explicitly: the default frame for an ordered window is
    # RANGE, which treats order-key ties as peers — two rows with the same
    # id in one (group, shard) would BOTH get the combined running sum and
    # map to the same overlapping token span (and the SQL oracle uses
    # ROWS, so the engines would disagree). With ROWS each row gets its
    # own prefix; duplicate-id rows then tie-break by input order, which
    # is fine for the chunk arithmetic (spans stay disjoint and full).
    w = (Window.partitionBy(*part_cols).orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    L = F.lit(max_len).cast("long")
    start = F.col("_cum") - F.col("n_tokens")
    first_chunk = F.floor(start / L)
    last_chunk = F.floor((F.col("_cum") - 1) / L)
    # pin the token count behind a Generate barrier: it is an interpreted
    # HOF (tokens_col's filter) and is referenced by the >0 gate, the
    # window sum and both slice bounds — CollapseProject would otherwise
    # re-inline the whole split/filter chain into each reference (the
    # §4.10 re-inlining disease, PLANS §6.25)
    out = (
        with_column_once(
            documents.withColumn("shard", _shard_expr(id_col, shards)),
            "n_tokens", token_count(F.col(text_col)).cast("long"))
        .filter(F.col("n_tokens") > 0)
        .withColumn("_cum", F.sum("n_tokens").over(w))
        .withColumn("chunk_id",
                    F.explode(F.sequence(first_chunk, last_chunk)))
        .withColumn("tok_start",
                    F.greatest(F.lit(0).cast("long"),
                               F.col("chunk_id") * L - start))
        .withColumn("tok_end",
                    F.least(F.col("n_tokens"),
                            (F.col("chunk_id") + 1) * L - start))
    )
    keep = ([id_col] + ([group_col] if group_col else [])
            + ["shard", "chunk_id", "n_tokens", "tok_start", "tok_end"])
    return out.select(*keep)
