"""Sliding-window document chunking with character offsets (a training
pipeline chunks long documents into overlapping windows before
embedding or indexing them; retrieval needs the offsets to map a hit
back into the source document). No reference counterpart (the
reference validates spreadsheets, not corpora); north_rule addition.

Semantics: for a document of length L the chunk starts are the
arithmetic progression 0, step, 2·step, … ≤ max(L−1, 0) with
``step = chunk_size − overlap``; chunk i covers characters
[start, min(start + chunk_size, L)) — half-open, 0-based, so
``end − start`` is the chunk length and consecutive chunks share
exactly ``overlap`` characters except at the tail. An empty document
yields one empty chunk at offset 0 (callers that want to drop it can
filter ``end > start``). Offsets count Unicode code points (Spark
``length``/``substr`` semantics).

SCALE: pure generated-column work — ``sequence`` + ``posexplode`` +
``substr`` inside whole-stage codegen; map-only (zero shuffles, no
UDF). Output size is input size × (1 + overlap/step) in characters;
the explode multiplies rows before any downstream shuffle, so chunk
first, shuffle after reduction (e.g. embed → drop text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .colref import qcol


def chunk_documents(df: DataFrame, text_col: str, id_col: str,
                    chunk_size: int = 200, overlap: int = 50) -> DataFrame:
    """Explode each document into overlapping character windows.

    Output: (<id_col>, chunk_idx, start_off, end_off, chunk) — one row
    per window, chunk_idx 0-based in document order.
    """
    if chunk_size <= 0:
        raise ValueError("chunk_size must be positive")
    if not 0 <= overlap < chunk_size:
        raise ValueError("overlap must satisfy 0 <= overlap < chunk_size")
    step = chunk_size - overlap
    t = qcol(text_col)
    ln = F.length(t)
    starts = F.sequence(F.lit(0), F.greatest(ln - F.lit(1), F.lit(0)),
                        F.lit(step))
    e = (df.where(t.isNotNull())
           .select(qcol(id_col), t.alias("__text"), ln.alias("__len"),
                   F.posexplode(starts).alias("chunk_idx", "start_off")))
    return e.select(
        id_col, "chunk_idx",
        F.col("start_off").cast("bigint").alias("start_off"),
        F.least(F.col("start_off") + F.lit(chunk_size), F.col("__len"))
         .cast("bigint").alias("end_off"),
        F.col("__text").substr(F.col("start_off") + F.lit(1),
                               F.lit(chunk_size)).alias("chunk"))
