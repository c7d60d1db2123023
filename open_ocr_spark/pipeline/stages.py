"""Extraction stages: the ``map_rows`` boundary every per-row Python
operator shares (the extraction kernel included), plus declarative
pre/post stages.

The reference runs one subprocess per document
(/root/reference/tesseract_engine.go:210-211) behind a queue hop per
preprocessor stage (§3.2). Here the WHOLE chain collapses into narrow
transformations inside one Spark stage: Catalyst pipelines the projections
and the one MapInArrow node; there is no shuffle between preprocessor steps
at all (SURVEY.md §3.2 recast).

Design rules (north_rule): the Spark side hands Python whole Arrow
batches through one mapInArrow node per operator, never a UDF call per
row; the per-row work is a plain Python function over each batch's
values. Output schema is fixed and stable.
"""

from __future__ import annotations

from array import array
from itertools import accumulate
from typing import Callable, Iterable, Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

# Output schema of the extraction stage, ahead of any passthrough columns.
# Built from types, not a DDL string: the job never needs the JVM's SQL
# parser, whose first use in a fresh JVM costs ~0.3 s.
EXTRACT_SCHEMA = StructType(
    [StructField(name, StringType())
     for name in ("url", "extracted_text", "status", "error")]
    + [StructField("n_bytes", LongType())]
)

# Request-option columns the kernel reads, in its argument order.
_OPTION_COLS = (
    "engine",
    "preprocessors",
    "preprocessor_args",
    "engine_args",
    "engine_args_json",  # nested reference shape, JSON-encoded (sources.py)
)


def _extract_row(url, html, lang, engine, chain, pargs, eargs, eargs_json,
                 *passthrough):
    """One page through the extraction kernel. The import stays inside so
    the driver never loads the kernels and the function ships cleanly via
    --py-files."""
    from open_ocr_spark.kernels.dispatch import extract_document

    text, status, error = extract_document(
        html,
        lang=lang,
        engine=engine,
        engine_args=eargs_json or (dict(eargs) if eargs else None),
        preprocessors=chain,
        preprocessor_args=dict(pargs) if pargs else None,
    )
    n_bytes = len(html) if html is not None else 0
    return [(url, text, status, error, n_bytes, *passthrough)]


def extract_stage(
    pages: DataFrame, passthrough: list[str] | tuple[str, ...] = ()
) -> DataFrame:
    """The A10 engine + A6-A9 chain as ONE ``map_rows`` stage.

    Column pruning: only the columns the kernel needs — plus any requested
    `passthrough` columns, carried through the boundary unchanged — are
    selected before the Python boundary, so the parquet scan never
    materializes `text` (or anything else) for this path — check
    `.explain` ReadSchema. An absent option column is a NULL literal of
    Spark's NullType: a bufferless Arrow column, where a NULL cast to the
    nested option types costs the JVM's Arrow writers ~35 MB of RSS.
    Passthrough avoids a second scan + join just to recover correlation
    keys (e.g. doc_id) after extraction; each keeps its input field.
    """
    out = EXTRACT_SCHEMA
    for c in passthrough:
        if c in ("url", "html", "lang", *_OPTION_COLS):
            raise ValueError(f"passthrough column {c!r} is a kernel column")
        if c in out.fieldNames():
            raise ValueError(
                f"passthrough column {c!r} collides with a kernel OUTPUT "
                f"column ({sorted(out.fieldNames())}); rename it first"
            )
        if c not in pages.columns:
            raise ValueError(f"passthrough column {c!r} not in input")
    options = [c if c in pages.columns else F.lit(None).alias(c)
               for c in _OPTION_COLS]
    schema = StructType(out.fields + [pages.schema[c] for c in passthrough])
    selected = pages.select("url", "html", "lang", *options, *passthrough)
    return map_rows(selected, schema, _extract_row)


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
    owns only its row function, never the batch loop or a column list.

    Output columns are built by ``_arrow_column``, from buffers rather
    than ``pa.array``: pyarrow imports pandas the first time a Python
    list becomes Arrow, ~40 MB of RSS in every worker that nothing here
    uses. In the bench on a 4-vCPU host, a worker that ran the extraction
    kernel peaks at 87–125 MB (133–211 MB with pa.array and pyspark from
    its zip); the session gives each kernel task ~8 MB of shuffle
    (session.py)."""
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
                [_arrow_column(c, f.type) for c, f in zip(cols, arrow_schema)],
                schema=arrow_schema,
            )

    return df.mapInArrow(kernel, schema)


# The flat types built from buffers: their layout (an array typecode,
# "bits" or "offsets") and the value classes the layout takes. Any other
# type, or a value of another class, goes to pa.array.
_FLAT = {
    pa.string(): ("offsets", {str, bytes}),
    pa.binary(): ("offsets", {str, bytes}),
    pa.bool_(): ("bits", {bool}),
    pa.int8(): ("b", {int}),
    pa.int16(): ("h", {int}),
    pa.int32(): ("i", {int}),
    pa.int64(): ("q", {int}),
    pa.float32(): ("f", {float}),
    pa.float64(): ("d", {float}),
}


def _bits(flags: list) -> pa.Buffer:
    """Arrow's bit packing (least significant bit first) of a list of
    bools."""
    packed = np.packbits(np.asarray(flags, dtype=bool), bitorder="little")
    return pa.py_buffer(packed)


def _arrow_column(values: tuple, t: pa.DataType) -> pa.Array:
    """``pa.array(values, t)`` — the same array, or the same exception
    class for a bad value — built with ``pa.Array.from_buffers`` for the
    flat types in ``_FLAT``, so the worker never imports pandas. A string
    or binary column past its int32 offsets raises ArrowCapacityError.
    Nested types (array, map, struct) stay on pa.array: no extraction
    operator emits them."""
    layout, classes = _FLAT.get(t, (None, set()))
    kinds = {v.__class__ for v in values} - {type(None)}
    if layout is None or not kinds <= classes:
        return pa.array(values, t)
    n = len(values)
    valid = [v is not None for v in values]
    nulls = n - sum(valid)
    buffers = [_bits(valid) if nulls else None]
    if layout == "bits":
        buffers.append(_bits([v is True for v in values]))
    elif layout == "offsets":
        # a lone surrogate raises UnicodeEncodeError here, as in pa.array
        data = [b"" if v is None else v if v.__class__ is bytes
                else v.encode() for v in values]
        ends = list(accumulate(map(len, data), initial=0))
        if ends[-1] > 2**31 - 1:
            raise pa.ArrowCapacityError(
                f"{t} column of {ends[-1]} bytes overflows its int32 offsets")
        buffers += [pa.py_buffer(array("i", ends)),
                    pa.py_buffer(b"".join(data))]
    else:
        try:
            fixed = array(layout, [0 if v is None else v for v in values])
        except OverflowError:  # pa.array raises its own class per width
            return pa.array(values, t)
        buffers.append(pa.py_buffer(fixed))
    out = pa.Array.from_buffers(t, n, buffers, nulls)
    if t == pa.string():
        out.validate(full=True)  # ArrowInvalid on bad UTF-8, as pa.array
    return out


def mock_stage(pages: DataFrame) -> DataFrame:
    """A12 mock engine as a pure-JVM stage: constant literal, no Python at
    all (`F.lit`), used for harness smoke tests and throughput ceilings."""
    from open_ocr_spark.kernels.mock import MOCK_ENGINE_RESPONSE

    return pages.select(
        F.col("url"),
        F.lit(MOCK_ENGINE_RESPONSE).alias("extracted_text"),
        F.lit("ok").alias("status"),
        F.lit("").alias("error"),
        F.octet_length("html").cast(LongType()).alias("n_bytes"),
    )
