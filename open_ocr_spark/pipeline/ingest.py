"""Ingest normalization: source-priority coalesce + schema enforcement.

Reference parity (SURVEY.md §2.A A1-A5): the reference resolves every input
source to raw bytes BEFORE fan-out (/root/reference/ocr_rpc_client.go:89-109
— bytes → base64 → url priority; engine side base64 → url → bytes,
tesseract_engine.go:100-109). The graft resolves ONCE at ingest so only the
canonical `html: binary` column flows through the pipeline:

    html = coalesce(html, unbase64(payload_b64))

URL *fetch* is not a runtime op (the crawl table already holds the bytes);
`url` is the identity key. All of this is pure Catalyst — no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType, TimestampType

# the input_hint schema: column -> the type ingest casts it to. Types,
# not type-name strings: a string cast goes through the JVM's SQL parser.
_PAGES_TYPES = {
    "url": StringType(),
    "warc_ts": TimestampType(),
    "html": BinaryType(),
    "text": StringType(),
    "lang": StringType(),
}


def normalize_sources(df: DataFrame) -> DataFrame:
    """Resolve input-source priority to the canonical binary column.

    Accepts any of: `html` (binary, A3), `payload_b64` (inline base64, A2
    — F.unbase64 is the reference's decodeBase64, ocr_request.go:33-45).
    Priority bytes-first matches the client path ocr_rpc_client.go:89-109.
    """
    out = df
    if "payload_b64" in df.columns:
        out = out.withColumn(
            "html",
            F.coalesce(
                F.col("html") if "html" in df.columns
                else F.lit(None).cast(BinaryType()),
                F.unbase64(F.col("payload_b64")),
            ),
        ).drop("payload_b64")
    return out


def enforce_pages_schema(df: DataFrame) -> DataFrame:
    """Project + cast to the input_hint schema; extra option columns
    (engine/preprocessors/…) pass through untouched. Unknown-typed inputs
    fail here, at plan time, not inside the kernel. One projection: each
    ``withColumn`` would be an analysis pass of its own."""
    return df.withColumns({
        name: F.col(name).cast(typ)
        for name, typ in _PAGES_TYPES.items() if name in df.columns
    })


def ingest(df: DataFrame) -> DataFrame:
    return enforce_pages_schema(normalize_sources(df))
