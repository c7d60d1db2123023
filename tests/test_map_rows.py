"""The row-map boundary (pipeline/stages.map_rows) and the guard that keeps
every per-row Python operator on it, the extraction kernel included: the
package has no mapInPandas, and ``.mapInArrow(`` is called only by
map_rows."""

import ast
from pathlib import Path

from pyspark.sql.types import StructType

from open_ocr_spark.pipeline.stages import map_rows

PKG = Path(__file__).resolve().parent.parent / "open_ocr_spark"


def _sources():
    return {
        p.relative_to(PKG).as_posix(): p.read_text()
        for p in sorted(PKG.rglob("*.py"))
    }


def test_no_map_in_pandas():
    assert [p for p, src in _sources().items() if "mapInPandas" in src] == []


def test_map_in_arrow_only_in_map_rows():
    callers = []
    for path, src in _sources().items():
        for top in ast.parse(src).body:
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "mapInArrow"
                ):
                    callers.append((path, getattr(top, "name", "<module>")))
    assert callers == [("pipeline/stages.py", "map_rows")]
    text_calls = sum(src.count(".mapInArrow(") for src in _sources().values())
    assert text_calls == 1


def test_nulls_fan_out_and_nested_types(spark):
    df = spark.createDataFrame(
        [(1, "a b"), (2, None), (3, "")], "id long, s string"
    )

    def tokens(i, s):
        if s is None:
            yield i, None, None, None, None
            return
        for k, tok in enumerate(s.split()):
            yield i, k, tok, [tok, tok], {tok: str(i)}

    out = map_rows(
        df,
        "id long, k int, tok string, toks array<string>, "
        "m map<string,string>",
        tokens,
    )
    assert sorted(out.collect(), key=lambda r: (r.id, r.k or 0)) == [
        (1, 0, "a", ["a", "a"], {"a": "1"}),
        (1, 1, "b", ["b", "b"], {"b": "1"}),
        (2, None, None, None, None),
    ]


def test_struct_type_schema_and_empty_output(spark):
    df = spark.createDataFrame([(1, b"x")], "id long, payload binary")
    schema = StructType.fromDDL("id long, n int, payload binary")
    out = map_rows(df, schema, lambda i, p: [(i, len(p), p + p)])
    assert out.schema == schema
    assert out.collect() == [(1, 1, bytearray(b"xx"))]
    assert map_rows(df, schema, lambda i, p: ()).count() == 0
