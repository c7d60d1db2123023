"""Extraction stages: the single mapInArrow kernel boundary, the
``map_rows`` boundary every other per-row operator shares, plus
declarative pre/post stages.

The reference runs one subprocess per document
(/root/reference/tesseract_engine.go:210-211) behind a queue hop per
preprocessor stage (§3.2). Here the WHOLE chain collapses into narrow
transformations inside one Spark stage: Catalyst pipelines the projections
and the one MapInArrow node; there is no shuffle between preprocessor steps
at all (SURVEY.md §3.2 recast).

Design rules (north_rule): no per-row Python on the Spark side — the kernel
receives whole Arrow batches; per-row work happens inside compiled
pandas/pyarrow loops over those batches. Output schema is fixed and stable.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# Output schema of the extraction stage (DDL used by mapInArrow).
EXTRACT_SCHEMA = (
    "url string, extracted_text string, status string, error string, "
    "n_bytes long"
)

_OPTION_COLS = (
    "engine",
    "preprocessors",
    "preprocessor_args",
    "engine_args",
    "engine_args_json",  # nested reference shape, JSON-encoded (sources.py)
)

# Every column the kernel itself consumes; anything else in the input batch
# is an opaque passthrough emitted unchanged (zero-copy Arrow append).
_KERNEL_COLS = frozenset(("url", "html", "lang") + _OPTION_COLS)


def _extract_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Arrow-batch kernel: one Python invocation per batch (≈4096 rows),
    zero per-row Spark overhead. Imports stay inside the function so the
    closure ships cleanly via --py-files."""
    from open_ocr_spark.kernels.dispatch import extract_document

    for batch in batches:
        cols = {name: batch.column(i) for i, name in enumerate(batch.schema.names)}
        n = batch.num_rows
        urls = cols["url"].to_pylist()
        htmls = cols["html"].to_pylist()
        langs = cols["lang"].to_pylist() if "lang" in cols else [None] * n
        engines = cols["engine"].to_pylist() if "engine" in cols else [None] * n
        chains = (
            cols["preprocessors"].to_pylist() if "preprocessors" in cols else [None] * n
        )
        pargs = (
            cols["preprocessor_args"].to_pylist()
            if "preprocessor_args" in cols
            else [None] * n
        )
        eargs = (
            cols["engine_args"].to_pylist() if "engine_args" in cols else [None] * n
        )
        if "engine_args_json" in cols:
            import json

            eargs = [
                json.loads(s) if s else e
                for s, e in zip(cols["engine_args_json"].to_pylist(), eargs)
            ]

        texts: list[str] = []
        statuses: list[str] = []
        errors: list[str] = []
        nbytes: list[int] = []
        for i in range(n):
            html = htmls[i]
            text, status, error = extract_document(
                html,
                lang=langs[i],
                engine=engines[i],
                engine_args=dict(eargs[i]) if eargs[i] else None,
                preprocessors=chains[i],
                preprocessor_args=dict(pargs[i]) if pargs[i] else None,
            )
            texts.append(text)
            statuses.append(status)
            errors.append(error)
            nbytes.append(len(html) if html is not None else 0)

        arrays = [
            pa.array(urls, pa.string()),
            pa.array(texts, pa.string()),
            pa.array(statuses, pa.string()),
            pa.array(errors, pa.string()),
            pa.array(nbytes, pa.int64()),
        ]
        names = ["url", "extracted_text", "status", "error", "n_bytes"]
        for name in batch.schema.names:
            if name not in _KERNEL_COLS:  # passthrough, untouched
                arrays.append(cols[name])
                names.append(name)
        yield pa.RecordBatch.from_arrays(arrays, names=names)


def extract_stage(
    pages: DataFrame, passthrough: list[str] | tuple[str, ...] = ()
) -> DataFrame:
    """The A10 engine + A6-A9 chain as ONE mapInArrow stage.

    Column pruning: only the columns the kernel needs — plus any requested
    `passthrough` columns, carried through the Arrow boundary untouched —
    are selected before the Python boundary, so the parquet scan never
    materializes `text` (or anything else) for this path — check
    `.explain` ReadSchema. Passthrough avoids a second scan + join just to
    recover correlation keys (e.g. doc_id) after extraction.
    """
    output_names = frozenset(
        f.split()[0] for f in EXTRACT_SCHEMA.split(", ")
    )
    for c in passthrough:
        if c in _KERNEL_COLS:
            raise ValueError(f"passthrough column {c!r} is a kernel column")
        if c in output_names:
            raise ValueError(
                f"passthrough column {c!r} collides with a kernel OUTPUT "
                f"column ({sorted(output_names)}); rename it first"
            )
        if c not in pages.columns:
            raise ValueError(f"passthrough column {c!r} not in input")
    cols = ["url", "html", "lang"] + [
        c for c in _OPTION_COLS if c in pages.columns
    ] + list(passthrough)
    schema = EXTRACT_SCHEMA + "".join(
        f", {c} {pages.schema[c].dataType.simpleString()}" for c in passthrough
    )
    return pages.select(*cols).mapInArrow(_extract_batches, schema)


def map_rows(
    df: DataFrame,
    schema: str | StructType,
    fn: Callable[..., Iterable[tuple]],
) -> DataFrame:
    """The row-map boundary: ``fn(*row)`` receives one input row's values
    (Arrow ``to_pylist``, so a null arrives as ``None``) and returns an
    iterable of output tuples laid out as ``schema`` (DDL string or
    StructType) — zero, one or many per input row. Each input Arrow batch
    becomes one output batch through one mapInArrow node, so an operator
    owns only its row function, never the batch loop or a column list."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = zip(*(col.to_pylist() for col in batch.columns))
            out = [t for row in rows for t in fn(*row)]
            cols = list(zip(*out)) or [()] * len(arrow_schema)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(cols, arrow_schema)],
                schema=arrow_schema,
            )

    return df.mapInArrow(kernel, schema)


def mock_stage(pages: DataFrame) -> DataFrame:
    """A12 mock engine as a pure-JVM stage: constant literal, no Python at
    all (`F.lit`), used for harness smoke tests and throughput ceilings."""
    from open_ocr_spark.kernels.mock import MOCK_ENGINE_RESPONSE

    return pages.select(
        F.col("url"),
        F.lit(MOCK_ENGINE_RESPONSE).alias("extracted_text"),
        F.lit("ok").alias("status"),
        F.lit("").alias("error"),
        F.octet_length("html").cast("long").alias("n_bytes"),
    )
