"""Overlapping-window document chunking — the retrieval/embedding
ingestion layout (every RAG pipeline and long-context embedder consumes
fixed-size token windows with a stride-sized overlap so no boundary
sentence is lost).

Distinct from the packing tier (dataops/packing.py assigns whole
documents to training sequences) and the line tier (dataops/lines.py
re-chunks for dedup): here one document fans out to ceil-many
overlapping windows of its OWN tokens, each window addressable as
(doc_id, chunk_idx) for joining embeddings back.

Scale shape: pure per-row HOF projection (sequence/transform/slice —
window starts are a closed form of the token count) followed by ONE
posexplode; output row count is exactly the chunk count, no shuffle at
all — chunking inherits the input partitioning, so a downstream
embedding kernel reads co-located chunks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_ocr_spark.dataops.words import split_spaces


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, chunk_idx, chunk_text, n_tokens): whitespace-token
    windows starting at 0, stride, 2*stride, ... — the last window is
    the first one that reaches the document's end (so every token is
    covered exactly once past the overlap, and no degenerate tail
    window duplicates the previous one).  Empty/whitespace-only
    documents yield one empty chunk, keeping the fan-out total.
    stride < chunk_tokens gives overlap; stride == chunk_tokens gives
    disjoint blocks."""
    if chunk_tokens < 1 or stride < 1:
        raise ValueError("chunk_tokens and stride must be >= 1")
    if stride > chunk_tokens:
        raise ValueError("stride > chunk_tokens would drop tokens")
    w = split_spaces(F.coalesce(F.col(text_col), F.lit("")))
    n = F.size(w)
    # number of windows: 1 + ceil((n - chunk)/stride) for n > chunk,
    # else 1 — as integers: 1 + max(0, (n - chunk + stride - 1) DIV s)
    n_chunks = F.lit(1) + F.greatest(
        F.lit(0),
        F.expr(
            f"CAST((size(split(coalesce({text_col}, ''), ' ')) "
            f"- {int(chunk_tokens)} + {int(stride)} - 1) AS BIGINT) "
            f"DIV {int(stride)}"
        ),
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda k: F.struct(
            F.array_join(
                F.slice(w, k * stride + 1, chunk_tokens), " "
            ).alias("chunk_text"),
            F.least(n - k * stride, F.lit(chunk_tokens))
            .cast("int")
            .alias("n_tokens"),
        ),
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(chunks).alias("chunk_idx", "c"),
    ).select(
        "doc_id",
        "chunk_idx",
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.n_tokens").alias("n_tokens"),
    )
