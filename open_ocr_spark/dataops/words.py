"""The one tokenizer of the text operators: what counts as whitespace and
what counts as a token, as Spark ``Column`` builders and as the DuckDB
SQL their oracles replay.

Whitespace is the explicit class ``[ \\t\\n\\r]+``, NOT ``\\s``: Java
regex ``\\s`` also holds U+000B (vertical tab) and U+000C (form feed),
while DuckDB's RE2 ``\\s`` holds U+000C but not U+000B. The explicit
class reads the same in both engines, so an operator and its oracle
split every text alike (dataops/sentences.py follows the same rule).

Three token contracts and one plain split:

- ``collapse``: every whitespace run becomes one space, ends trimmed.
  Every dedup tier's content identity ('equal hash => equal token and
  shingle sets') rests on this one expression.
- ``tokens``: ``collapse``, then ``split_spaces``; '' gives [''].
- ``words``: split on whitespace, empty strings dropped; '' gives [].
- ``split_spaces``: split on single spaces, for text that is collapsed
  or single-spaced by construction.

NULL in gives NULL out. Callers keep their own ``lower`` and
``coalesce``. Each ``*_sql`` twin takes a DuckDB SQL expression and
returns one.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

WS_CHARS = " \t\n\r"
WS = f"[{WS_CHARS}]+"


def collapse(c: Column) -> Column:
    return F.trim(F.regexp_replace(c, WS, " "))


def tokens(c: Column) -> Column:
    return split_spaces(collapse(c))


def words(c: Column) -> Column:
    return F.filter(F.split(c, WS), lambda w: w != F.lit(""))


def split_spaces(c: Column) -> Column:
    return F.split(c, " ")


def collapse_sql(e: str) -> str:
    return f"trim(regexp_replace({e}, '{WS}', ' ', 'g'))"


def tokens_sql(e: str) -> str:
    return split_spaces_sql(collapse_sql(e))


def words_sql(e: str) -> str:
    return f"list_filter(regexp_split_to_array({e}, '{WS}'), x -> x <> '')"


def split_spaces_sql(e: str) -> str:
    return f"string_split({e}, ' ')"
