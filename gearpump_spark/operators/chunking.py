"""Document chunking for context-window construction.

Training pipelines split long documents into overlapping token windows
("chunks") before packing them into fixed-length model contexts. This is a
pure narrow map — tokenize, generate window starts, slice — with NO shuffle
at all: at 100 TB each input split chunks independently and the output
inherits the scan's partitioning. The only wide operation a user might add
downstream (packing, global shuffle order) lives in operators/sampling.py.

Chunk semantics (mirrors HF tokenizers' overflow-with-stride, expressed so
DuckDB can replay it exactly):
- window starts at 0, stride, 2*stride, ... while start < n_tokens;
- a truncated tail window is kept only if it contributes at least one
  token beyond the previous window's end, i.e. start == 0 OR
  n_tokens > start + size - stride — otherwise the tail is already fully
  contained in its predecessor and would duplicate training text.

Reference provenance: the reference has no chunking operator (its tasks are
arbitrary user code, e.g. examples/streaming/wordcount Split at
Split.scala:30-40 is a flatMap); this is part of the LLM-pipeline surface
BASELINE.json commits us to beyond the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gearpump_spark.functions import hash as H
from gearpump_spark.functions import text as TX


def chunk_by_tokens(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Split each document into overlapping token windows.

    Returns (id_col, chunk_idx, tok_start, n_tokens, chunk_text), one row
    per kept window. Narrow map — zero exchanges; fan-out is bounded by
    ceil(n_tokens/stride) per document, so output partitions stay
    proportional to input splits (no skew beyond the documents' own).
    """
    if stride <= 0 or size <= 0 or stride > size:
        raise ValueError("need 0 < stride <= size")
    tk = TX.tokens(F.col(text_col))
    base = docs.select(F.col(id_col), tk.alias("tk")).filter(F.size("tk") > 0)
    n = F.size("tk")
    starts = F.sequence(F.lit(0), n - 1, F.lit(stride))
    ex = base.select(
        id_col, "tk", F.posexplode(starts).alias("chunk_idx", "tok_start")
    ).filter(
        (F.col("tok_start") == 0)
        | (F.size("tk") > F.col("tok_start") + F.lit(size - stride))
    )
    chunk = F.slice(F.col("tk"), F.col("tok_start") + 1, size)
    return ex.select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("tok_start").cast("long").alias("tok_start"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def cdc_chunks(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    modulus: int = 8,
    seed: int = 9,
) -> DataFrame:
    """Content-defined chunking (gear/Rabin CDC family, over tokens): cut
    AFTER token i whenever the seeded hash of the 2-token window ending
    at the cut is ≡ 0 (mod `modulus`) — expected chunk length ≈ modulus
    tokens. Because boundaries depend only on LOCAL content, inserting or
    deleting a prefix shifts chunk OFFSETS but not chunk IDENTITY: every
    chunk not touching the edit re-fingerprints identically, which is the
    property fixed-size chunking (dedup_chunk_exact) fundamentally lacks
    — one inserted token there shifts every later chunk's content.

    Returns (id_col, chunk_idx, tok_start, n_tokens, fp): fp = md5 of the
    space-joined chunk tokens, the cross-document dedup key.

    Scale: a pure narrow map — boundary tests, segmentation, and
    fingerprinting are all array expressions inside whole-stage codegen;
    the chunk TEXT never leaves the row (only 16-byte fps + coordinates
    go on to any downstream shuffle). Production CDC adds min/max chunk
    bounds to tame the geometric length tail; omitted here so the oracle
    stays closed-form (the bound is one extra filter on n_tokens).
    """
    tk = TX.tokens(F.col(text_col))
    base = docs.select(F.col(id_col), tk.alias("tk")).filter(F.size("tk") > 0)
    n = F.size("tk")
    # the 2-token window at 0-based index i ends at cut i + 1; a 1-token
    # doc has no window, so it stays one whole-doc chunk
    cuts = F.transform(
        TX.ngrams(F.col("tk"), 2),
        lambda g, i: F.when(H.hash15(g, seed) % modulus == 0, i + 1),
    )
    bpos = F.filter(cuts, lambda c: c.isNotNull())
    seg = base.select(
        id_col,
        "tk",
        F.concat(F.array(F.lit(0)), bpos).alias("starts"),
        F.concat(bpos, F.array(n)).alias("ends"),
    )
    ex = seg.select(
        id_col,
        "tk",
        F.posexplode(F.arrays_zip("starts", "ends")).alias("chunk_idx", "se"),
    )
    start, end = F.col("se.starts"), F.col("se.ends")
    chunk = F.slice(F.col("tk"), start + 1, end - start)
    return ex.select(
        F.col(id_col),
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        start.cast("bigint").alias("tok_start"),
        (end - start).cast("bigint").alias("n_tokens"),
        H.digest(F.array_join(chunk, " ")).alias("fp"),
    )
