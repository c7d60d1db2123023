"""The row-map boundary (pipeline/stages.map_rows) and the guard that keeps
every per-row Python operator on it, the extraction kernel included: the
package has no mapInPandas, and ``.mapInArrow(`` is called only by
map_rows."""

import ast
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pytest
from pyspark.sql.types import StructType

from open_ocr_spark.pipeline.stages import _arrow_column, map_rows

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


# ---------------------------------------------------------------------------
# Output columns are built from buffers (stages._arrow_column): the same
# array pa.array gives, or the same exception class, without pyarrow's
# first-list import of pandas.
# ---------------------------------------------------------------------------

FLAT = {
    pa.string(): ["a", "", "é漢😀 text", b"bytes ok", "ü" * 300],
    pa.binary(): [b"", b"\x00\xff", "str → utf-8", b"x" * 300],
    pa.bool_(): [True, False, True, True, False, False, True, False, True],
    pa.int8(): [0, -128, 127, 5],
    pa.int16(): [0, -32768, 32767],
    pa.int32(): [0, -(2**31), 2**31 - 1],
    pa.int64(): [0, -(2**63), 2**63 - 1, 42],
    pa.float32(): [0.0, -0.0, 1.5, 1e300, float("inf")],
    pa.float64(): [0.0, -0.0, 1e-300, float("nan"), float("-inf")],
}


def _same(got: pa.Array, want: pa.Array) -> None:
    got.validate(full=True)
    assert got.type == want.type and got.null_count == want.null_count
    assert repr(got.to_pylist()) == repr(want.to_pylist())  # nan, -0.0


@pytest.mark.parametrize("t", list(FLAT), ids=str)
def test_buffer_columns_match_pa_array(t):
    values = FLAT[t]
    for column in ([], [None], [None] * 9, values, [None, *values, None],
                   [v for v in values for _ in range(3)] + [None] * 11):
        _same(_arrow_column(tuple(column), t), pa.array(column, t))


@pytest.mark.parametrize("t, values", [
    (pa.string(), [b"\xff\xfe"]),            # invalid UTF-8 bytes
    (pa.string(), ["ok", "\ud800"]),         # lone surrogate
    (pa.string(), ["a", 1]),                 # wrong Python type
    (pa.binary(), [b"a", 1]),
    (pa.int64(), [2**63]),                   # int64 overflow
    (pa.int64(), [-(2**63) - 1]),
    (pa.int32(), [2**31]),
    (pa.int8(), [200]),
    (pa.int64(), [True]),                    # bool is not an integer here
    (pa.int64(), ["1"]),
    (pa.float64(), ["1"]),
    (pa.float64(), [2**70]),
    (pa.bool_(), [1]),
], ids=repr)
def test_bad_values_raise_the_class_pa_array_raises(t, values):
    with pytest.raises(Exception) as want:
        pa.array(values, t)
    with pytest.raises(want.type):
        _arrow_column(tuple(values), t)


@pytest.mark.parametrize("t, values", [
    (pa.int64(), [1.5, None]),   # pa.array truncates a float
    (pa.float64(), [1, True]),   # and widens an int or a bool
    (pa.string(), [bytearray(b"x")]),
    (pa.date32(), [None]),       # not a buffer-built type
    (pa.list_(pa.string()), [["a"], None]),
], ids=repr)
def test_values_outside_the_buffer_path_convert_as_pa_array(t, values):
    _same(_arrow_column(tuple(values), t), pa.array(values, t))


def test_offset_overflow_raises_before_joining():
    mb = b"x" * 2**20
    with pytest.raises(pa.ArrowCapacityError):
        _arrow_column((mb,) * 2049, pa.binary())  # 2 GiB + 1 MiB of offsets


def test_building_the_extract_schema_imports_no_pandas():
    """In a fresh process: the shared session reuses its Python workers
    across tests, so a worker's sys.modules says nothing here."""
    code = """if True:
        import sys
        import pyarrow as pa
        from open_ocr_spark.pipeline.stages import EXTRACT_SCHEMA, _arrow_column
        types = {"string": pa.string(), "long": pa.int64()}
        sample = {"string": ("a", None, "é"), "long": (1, None, 2**40)}
        for field in EXTRACT_SCHEMA.fields:
            kind = field.dataType.typeName()
            _arrow_column(sample[kind], types[kind])
        assert "pandas" not in sys.modules
        pa.array(["x"], pa.string())
        assert "pandas" in sys.modules  # the import the buffer path avoids
    """
    proc = subprocess.run([sys.executable, "-c", code], cwd=PKG.parent,
                          capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr
