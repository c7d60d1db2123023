"""Every registered query against its DuckDB oracle at sf0.001.

One case per registry entry, with the comparison tools/check_contract.py
runs for the larger scale factors: row count, column names, type
families and an order-insensitive value hash; a query without an oracle
must return at least one row.

sf0.001 has no NULL or empty ``documents.text``, so every query runs
once more over a copy whose texts are NULL or '' on a doc_id residue:
the operators' null branches and the oracles' NULL rules must agree
there too.

The md5 MinHash and SimHash operators are checked twice against their
oracles: as registered (exact-collapse pre-pass, then the doc-level
plan over the distinct contents) and as the bare doc-level plan, under
the ids ``minhash_lsh_pairs_md5`` and ``simhash_fingerprints_md5``."""

import os
import sys

import duckdb
import pytest

from open_ocr_spark.dataops.dedup import (
    _minhash_lsh_pairs_direct,
    _simhash_fingerprints_direct,
)
from open_ocr_spark.queries import ORACLES, QUERIES
from open_ocr_spark.queries._shared import _t
from tools.check_contract import TABLES, check_query, oracle_connection

SF_DIR = "/root/testdata/sf0.001"


def _minhash_lsh_pairs_uncollapsed(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return _minhash_lsh_pairs_direct(docs, k=3, threshold=0.8)


def _simhash_fingerprints_uncollapsed(spark, sf_dir):
    return _simhash_fingerprints_direct(
        _t(spark, sf_dir, "documents").select("doc_id", "text"))


# case id -> (query, oracle)
CASES = {name: (fn, ORACLES.get(name)) for name, fn in QUERIES.items()}
CASES["minhash_lsh_pairs_md5"] = (_minhash_lsh_pairs_uncollapsed,
                                  ORACLES["minhash_lsh_pairs"])
CASES["simhash_fingerprints_md5"] = (_simhash_fingerprints_uncollapsed,
                                     ORACLES["simhash_fingerprints"])


def test_queries_without_oracle_are_marked_oracle_none():
    # every module-level ``q_`` function is registered, so a helper named
    # ``q_...`` would slip in on the weak rows-only check
    marked = {name for name, fn in QUERIES.items()
              if (fn.__doc__ or "").lstrip().startswith("ORACLE_NONE")}
    assert QUERIES.keys() - ORACLES.keys() == marked


def test_check_contract_rejects_unknown_query_names(monkeypatch):
    import open_ocr_spark.pipeline.session as session
    from tools import check_contract

    def no_session(*args, **kwargs):
        raise AssertionError("a Spark session was started")

    monkeypatch.setattr(session, "get_spark", no_session)
    monkeypatch.setattr(sys, "argv", ["check_contract.py", SF_DIR, "host_hitz"])
    with pytest.raises(SystemExit) as exc:
        check_contract.main()
    assert exc.value.code not in (0, None)


@pytest.fixture(scope="module")
def con():
    con = oracle_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(CASES))
def test_query_matches_oracle(spark, con, name):
    assert check_query(spark, con, *CASES[name], SF_DIR) == []


@pytest.fixture(scope="module")
def null_text_sf(tmp_path_factory):
    """sf0.001 with ``text`` NULL where doc_id % 7 = 3 and '' where
    doc_id % 7 = 5; every other table is a symlink to the original."""
    sf = tmp_path_factory.mktemp("sf_null_text")
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{SF_DIR}/{t}.parquet", sf / f"{t}.parquet")
    duckdb.sql(f"""
        COPY (
            SELECT * REPLACE (
                CASE doc_id % 7 WHEN 3 THEN NULL WHEN 5 THEN '' ELSE text END
                    AS text)
            FROM read_parquet('{SF_DIR}/documents.parquet')
        ) TO '{sf}/documents.parquet' (FORMAT parquet)
    """)
    return str(sf)


@pytest.fixture(scope="module")
def null_text_con(null_text_sf):
    con = oracle_connection(null_text_sf)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(CASES))
def test_query_matches_oracle_null_text(spark, null_text_con, null_text_sf, name):
    assert check_query(spark, null_text_con, *CASES[name], null_text_sf) == []
