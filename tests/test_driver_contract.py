"""Driver-contract guardrails: entry() must keep producing rows with a
stable schema, and every query must keep its DuckDB oracle (the driver
records rows-only checks for unoracled queries — we don't ship any)."""

from __future__ import annotations

import __spark_entry__ as em

ENTRY_SCHEMA = ["url", "lang", "doc_kind", "action", "extracted_text",
                "page_count", "token_count", "block_count",
                "parse_warnings", "low_coverage", "bytes_in", "seconds"]


def test_every_query_has_an_oracle():
    qs = em.queries()
    oracles = em.oracle_sql()
    assert set(qs) == set(oracles)
    assert len(qs) >= 47


def test_entry_rows_and_schema(spark):
    df = em.entry(spark)
    assert [f.name for f in df.schema.fields] == ENTRY_SCHEMA
    assert df.count() > 0
    actions = {r["action"] for r in df.select("action").distinct().collect()}
    assert "extracted" in actions


def test_driver_source_compiles_without_warnings():
    """No string literal in the driver carries an invalid escape (q74's
    oracle once held ``'\\s+'`` in a non-raw string); its bytes stay the
    ones the oracle gate checked."""
    import hashlib
    import warnings

    with open(em.__file__, encoding="utf-8") as fh:
        source = fh.read()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        compile(source, em.__file__, "exec")
    assert hashlib.sha256(
        em.oracle_sql()["q74_vocab_topk"].encode()).hexdigest() == (
        "2147280a04db7d991e023eb9f3fcabf9677c404b2620444435b13e85a5641bf0")
