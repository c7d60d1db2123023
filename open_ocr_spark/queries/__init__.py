"""Query registry: every implemented operator from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable in ``QUERIES``, with a matching
ANSI-SQL oracle in ``ORACLES`` that DuckDB runs on the same parquet
tables. tests/test_oracles.py checks every entry at sf0.001 on each
run; tools/check_contract.py runs the same check on any scale factor.

Registering a query: define ``q_<name>(spark, sf_dir)`` at module level
in its domain module below; it becomes ``QUERIES["<name>"]``. If SQL can
express it, the same module adds ``ORACLES["<name>"]``. Otherwise its
docstring starts with ORACLE_NONE (a kernel or hash-seeded op) and it
gets the weaker rows-only check: at least one row. Only functions a
module defines count, so a ``q_`` name it imports is not registered
twice; helpers must not be named ``q_...``.

Contract rules: column names must match between the Spark result and
the oracle (aliases everywhere); floats are rounded 4dp on BOTH sides
so value hashes agree across engines; orderings are made deterministic
with explicit tiebreaks before any LIMIT."""

from __future__ import annotations

from collections.abc import Callable
from inspect import isfunction

from pyspark.sql import DataFrame, SparkSession

from open_ocr_spark.queries import (
    extraction, relational, dedup, embeddings, textquality, webops, media, sampling,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
for _m in (extraction, relational, dedup, embeddings, textquality, webops, media, sampling):
    _defined = {
        _k[2:]: _f for _k, _f in vars(_m).items()
        if _k.startswith("q_") and isfunction(_f) and _f.__module__ == _m.__name__
    }
    for _kind, _into, _frag in (("query", QUERIES, _defined), ("oracle", ORACLES, _m.ORACLES)):
        _dup = _into.keys() & _frag.keys()
        if _dup:
            raise RuntimeError(f"duplicate {_kind} keys across modules: {_dup}")
        _into.update(_frag)
_orphans = ORACLES.keys() - QUERIES.keys()
if _orphans:
    raise RuntimeError(f"oracles without a registered query: {_orphans}")
