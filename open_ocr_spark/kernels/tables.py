"""HTML table extraction: structured (table, row, cell) records from
the same parsed node tree the boilerplate-strip extractor uses
(kernels/htmltree.parse_html — reference parity: the SWT preprocessor
chain in tleyden/open-ocr feeds page regions to the engine; tables are
the page regions whose STRUCTURE is the payload, so they get their own
extraction surface instead of being flattened into running text).

Contract:
- every <table> element in document order is one table (nested tables
  are emitted as their own tables too);
- rows are the <tr> descendants reached without crossing into a nested
  table, cells the <td>/<th> descendants of a row under the same rule;
- cell text is every text run under the cell (nested-table text
  included — the nested structure is ALSO emitted separately),
  whitespace-collapsed, entities already decoded by the parser.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from open_ocr_spark.kernels.htmltree import Node, collapse_ws, parse_html


def _descendants(node: Node, want: set) -> list:
    """want-tagged descendants reachable without entering a nested
    table, in document order. An explicit stack, not recursion: crawl
    HTML nests wrappers thousands deep."""
    out = []
    stack = list(reversed(node.children))
    while stack:
        c = stack.pop()
        if type(c) is str:
            continue
        if c.tag in want:
            out.append(c)
        elif c.tag != "table":
            stack.extend(reversed(c.children))
    return out


def _cell_text(cell: Node) -> str:
    return collapse_ws(" ".join(cell.iter_text())).strip()


def extract_tables(raw) -> list:
    """[(table_idx, row_idx, col_idx, cell_text)] for every table in
    the page, document order throughout."""
    root = parse_html(raw)
    tables = [n for n in root.iter() if type(n) is not str and n.tag == "table"]
    out = []
    for t_idx, table in enumerate(tables):
        for r_idx, row in enumerate(_descendants(table, {"tr"})):
            for c_idx, cell in enumerate(_descendants(row, {"td", "th"})):
                out.append((t_idx, r_idx, c_idx, _cell_text(cell)))
    return out


def html_tables(
    pages: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, table_idx, row_idx, col_idx, cell): exploded structured
    table records — Arrow-batched kernel, one output row per cell, no
    shuffle (one map_rows pass over the page partition)."""
    from open_ocr_spark.pipeline.stages import map_rows

    def _extract(i, raw):
        if raw is None:
            return
        for ti, ri, ci, cell in extract_tables(bytes(raw)):
            yield int(i), ti, ri, ci, cell

    return map_rows(
        pages.select(id_col, html_col),
        f"{id_col} long, table_idx long, row_idx long, col_idx long,"
        " cell string",
        _extract,
    )
