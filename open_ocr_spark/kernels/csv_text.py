"""RFC 4180 CSV parsing into (row, col, field) records.

Structured-data sibling of kernels/tables.py (html_tables): crawled
corpora carry data files as often as pages, and "recover the content"
for a CSV means the cell grid, not comma soup. Spark's own CSV reader
works at the FILE level (spark.read.csv); this kernel works at the
PAYLOAD level — a CSV that arrives as one document row (an attachment,
an archive member, a data: URL body) — where no file-level reader can
reach.

From-scratch state machine over the public grammar (RFC 4180 §2):

- fields separated by commas, records by CRLF (bare LF accepted, the
  universal relaxation);
- a field may be quoted; inside quotes, commas and line breaks are
  literal and ``""`` is one quote character;
- a quote appearing in an UNQUOTED field is literal (the csv-module
  relaxation, pinned by the differential property test);
- the final record needs no trailing line break; a trailing line break
  does not create an empty record.

The differential oracle is the stdlib ``csv`` module — an independent
implementation the property tests compare against byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_MAX_FIELDS = 1 << 20  # hostile-input cap: one payload, ~1M cells


def parse_csv(raw: bytes | str) -> list[tuple[int, int, str]]:
    """[(row_idx, col_idx, field)] in document order. Total on malformed
    input (an unterminated quote consumes the remainder, matching the
    stdlib's non-strict reader); only the hostile-input cell cap
    raises ValueError."""
    if isinstance(raw, (bytes, bytearray, memoryview)):
        raw = bytes(raw).decode("utf-8", errors="replace")
    if raw[:1] == "﻿":
        # UTF-8 BOM, ubiquitous in spreadsheet exports: without this the
        # BOM would silently prefix the first field of the first row
        raw = raw[1:]
    out: list[tuple[int, int, str]] = []
    row = 0
    col = 0
    field: list[str] = []
    i = 0
    n = len(raw)
    saw_any = False  # current record has content (field chars or a comma)
    fresh = True     # next char sits at the very start of a field

    def flush_field() -> None:
        nonlocal col, fresh
        out.append((row, col, "".join(field)))
        if len(out) > _MAX_FIELDS:
            raise ValueError(f"csv cell count exceeds {_MAX_FIELDS}")
        field.clear()
        col += 1
        fresh = True

    while i < n:
        ch = raw[i]
        if ch == '"' and fresh:
            # quoted field: only a quote at field start opens one; a
            # quote anywhere else is a literal character (csv-module
            # relaxation, pinned by the differential test)
            i += 1
            saw_any = True
            fresh = False
            while True:
                j = raw.find('"', i)
                if j < 0:
                    # EOF inside quotes: the stdlib's non-strict reader
                    # yields the remainder as the field — a truncated
                    # crawl payload must parse, not throw
                    field.append(raw[i:])
                    i = n
                    break
                field.append(raw[i:j])
                if raw[j + 1:j + 2] == '"':
                    field.append('"')
                    i = j + 2
                else:
                    i = j + 1
                    break
        elif ch == ",":
            flush_field()
            saw_any = True
            i += 1
        elif ch == "\n" or (ch == "\r" and raw[i + 1:i + 2] == "\n"):
            if saw_any or field:
                flush_field()
                row += 1
                col = 0
                saw_any = False
            i += 1 if ch == "\n" else 2
        else:
            field.append(ch)
            saw_any = True
            fresh = False
            i += 1
    if saw_any or field:
        flush_field()
    return out


def build_csv(rows: list[list[str]]) -> bytes:
    """Writer twin via the stdlib csv module (independent
    implementation), CRLF line terminator per RFC 4180."""
    import csv
    import io

    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\r\n")
    w.writerows(rows)
    return buf.getvalue().encode("utf-8")


def csv_cells(
    pages: DataFrame, payload_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, row_idx, col_idx, field): exploded cell records —
    Arrow-batched kernel, no shuffle, mirroring html_tables."""
    from open_ocr_spark.pipeline.stages import map_rows

    def _extract(i, raw):
        if raw is None:
            return
        try:
            cells = parse_csv(bytes(raw))
        except ValueError:
            # cell-cap breach (hostile payload): contribute no rows
            # rather than failing the task — the same best-effort
            # posture as html_tables
            return
        for r, c, f in cells:
            yield int(i), r, c, f

    return map_rows(
        pages.select(id_col, payload_col),
        f"{id_col} long, row_idx int, col_idx int, field string",
        _extract,
    )
