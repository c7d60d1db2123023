"""The one tokenizer (dataops/words.py): each Spark contract equals its
DuckDB twin, operators agree with their oracles on vertical tab and
form feed, and no other module writes a whitespace class out."""

import ast
import pathlib
import re

import duckdb
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from open_ocr_spark.dataops import words as W
from open_ocr_spark.queries import ORACLES, QUERIES
from tools.check_contract import check_query

# every whitespace a text may hold, VT (U+000B) and FF (U+000C) included
_TEXTS = [None, "", "   ", "a", " a\tb\n\nc\r ", "x  y", "a\x0bb\x0cc d",
          "\x0c lead and trail \x0b"]

_CONTRACTS = ("collapse", "tokens", "words", "split_spaces")


def test_contracts_equal_their_sql_twins(spark):
    df = spark.createDataFrame(list(enumerate(_TEXTS)), "i long, t string")
    got = df.select(
        "i", *(getattr(W, c)(F.col("t")).alias(c) for c in _CONTRACTS)
    ).orderBy("i").collect()
    con = duckdb.connect()
    con.register("v", pa.table({"i": list(range(len(_TEXTS))),
                                "t": _TEXTS}))
    sql = ", ".join(f"{getattr(W, c + '_sql')('t')} AS {c}"
                    for c in _CONTRACTS)
    want = con.sql(f"SELECT i, {sql} FROM v ORDER BY i").fetchall()
    assert [tuple(r) for r in got] == want
    by_text = dict(zip(_TEXTS, want))
    assert by_text[""][1:] == ("", [""], [], [""])
    assert by_text[None][1:] == (None, None, None, None)
    # VT and FF are not whitespace: they stay inside their token
    assert by_text["a\x0bb\x0cc d"][3] == ["a\x0bb\x0cc", "d"]


def test_vt_ff_operators_agree_with_oracles(spark, tmp_path):
    """exact dedup (collapse), n-gram Jaccard (tokens through
    shingle_rows), TF-IDF (words through search.inverted_index) and
    the document fingerprint, each against its registered oracle over
    texts that differ only by a VT or FF where a space was."""
    texts = ["alpha beta gamma delta", "alpha\x0bbeta gamma delta",
             "alpha\x0cbeta gamma delta", "alpha\tbeta  gamma delta\n"]
    docs = pa.table({
        "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
        "text": texts,
        "lang": ["en"] * len(texts),
        "source": ["web"] * len(texts),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    con = duckdb.connect()
    con.register("docs_arrow", docs)
    con.execute(f"COPY docs_arrow TO '{tmp_path}/documents.parquet' "
                "(FORMAT PARQUET)")
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{tmp_path}/documents.parquet')")
    sf_dir = str(tmp_path)
    for name in ("exact_dedup_groups", "ngram_jaccard_pairs",
                 "tfidf_top_terms", "doc_fingerprints"):
        assert check_query(spark, con, QUERIES[name], ORACLES[name],
                           sf_dir) == [], name
    # the tab/double-space copy collapses onto the plain text; VT and FF
    # keep theirs apart
    groups = QUERIES["exact_dedup_groups"](spark, sf_dir).collect()
    assert sorted(r.n_copies for r in groups) == [1, 1, 2]


# a whitespace class, as its value reads once Python has parsed the literal
_CLASS = r"\\s[+*]?|\[ (?:\t|\\t)(?:\n|\\n)(?:\r|\\r)\][+*]?"
# the calls that take a tokenizer's class: Spark's (F.split,
# F.regexp_replace) and DuckDB's
_SPLITTERS = {"split", "regexp_replace", "regexp_split_to_array",
              "str_split_regex", "string_split_regex", "string_split",
              "str_split"}
_SQL_CALL = re.compile(r"\b(" + "|".join(_SPLITTERS) + r")\(")


def _sql_args(sql: str, i: int) -> list:
    """The top-level arguments of the SQL call whose '(' is at sql[i]."""
    depth, quoted, args, start = 0, False, [], i + 1
    for j in range(i, len(sql)):
        c = sql[j]
        if c == "'":
            quoted = not quoted
        elif quoted:
            continue
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return args + [sql[start:j].strip()]
        elif c == "," and depth == 1:
            args.append(sql[start:j].strip())
            start = j + 1
    return args


def _string_value(node) -> str:
    if isinstance(node, ast.JoinedStr):  # an f-string: holes read as X
        return "".join(_string_value(v) if isinstance(v, ast.Constant)
                       else "X" for v in node.values)
    return node.value


def _class_sites(tree) -> list:
    """(line, what) for each whitespace class a module passes to a
    splitter: as a Python argument of F.split/F.regexp_replace, as a
    module-level constant, or as a quoted argument inside SQL text.
    HTML-attribute regexes such as ``<a\\s`` embed \\s in a longer
    pattern and are not a class argument."""
    is_class = re.compile(_CLASS).fullmatch
    sites = []
    parts = {id(v) for n in ast.walk(tree) if isinstance(n, ast.JoinedStr)
             for v in n.values}
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            name = getattr(node.func, "attr", getattr(node.func, "id", ""))
            if name in _SPLITTERS:
                sites += [(node.lineno, f"{name}() argument")
                          for a in node.args
                          if isinstance(a, ast.Constant)
                          and isinstance(a.value, str) and is_class(a.value)]
        elif isinstance(node, ast.Assign):
            v = node.value
            if (isinstance(v, ast.Constant) and isinstance(v.value, str)
                    and is_class(v.value)):
                sites.append((node.lineno, "constant"))
        if ((isinstance(node, ast.Constant) and isinstance(node.value, str)
             and id(node) not in parts) or isinstance(node, ast.JoinedStr)):
            sql = _string_value(node)
            for m in _SQL_CALL.finditer(sql):
                args = _sql_args(sql, m.end() - 1)
                if any(len(a) > 2 and a[0] == a[-1] == "'"
                       and is_class(a[1:-1]) for a in args):
                    sites.append((node.lineno, f"SQL {m.group(1)}()"))
    return sites


def whitespace_class_sites(root: pathlib.Path) -> list:
    """Every site in ``root``'s dataops/ and queries/ packages outside
    dataops/words.py, as 'module:line: what'."""
    pkg = root / "open_ocr_spark"
    hits = []
    for sub in ("dataops", "queries"):
        for path in sorted((pkg / sub).rglob("*.py")):
            rel = path.relative_to(pkg)
            if rel == pathlib.Path("dataops/words.py"):
                continue
            tree = ast.parse(path.read_text(encoding="utf-8"))
            hits += [f"{rel}:{line}: {what}"
                     for line, what in _class_sites(tree)]
    return hits


def test_whitespace_class_written_only_in_words_module():
    assert W.WS == "[ \t\n\r]+"
    root = pathlib.Path(__file__).resolve().parent.parent
    assert whitespace_class_sites(root) == []


@pytest.mark.parametrize("snippet", [
    'F.split(c, r"\\s+")',
    'F.regexp_replace(c, "[ \\t\\n\\r]+", " ")',
    '_WS = "[ \\t\\n\\r]+"',
    "Q = \"SELECT string_split_regex(lower(t), '\\\\s+') FROM d\"",
    "Q = f\"trim(regexp_replace({x}, '[ \\t\\n\\r]+', ' ', 'g'))\"",
])
def test_guard_sees_each_spelling(snippet):
    assert len(_class_sites(ast.parse(snippet))) == 1


def test_guard_skips_html_attribute_regexes():
    src = ('A = r\'(?i)<a\\s(?:[^>]*\\s)?href\\s*=\\s*"([^"]*)"\'\n'
           'x = F.regexp_extract_all(html, F.lit(A), F.lit(1))\n'
           's = _re.sub(r"\\s+", " ", t)\n')
    assert _class_sites(ast.parse(src)) == []
