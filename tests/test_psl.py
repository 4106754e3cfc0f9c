"""Public Suffix List loader tests: full-dataset parse, rule classes,
punycode forms, custom snapshots, and the registries the pre-round-6
frozen subset lacked."""

from __future__ import annotations

from pdf_ocr_batch_ndrocr_lite_spark.functions import psl


def test_full_dataset_scale():
    r = psl.load_rules()
    # the published list carries ~9.5k rules; grouped and punycode-
    # augmented they must land in these (loose) bands, so a truncated
    # or mis-parsed dat fails loudly
    assert sum(len(v) for v in r.normals.values()) > 9000
    assert len(r.normals[1]) > 1400          # TLDs
    assert len(r.normals[2]) > 5000          # ccSLD registries
    assert sum(len(v) for v in r.wildcards.values()) >= 100
    assert sum(len(v) for v in r.exceptions.values()) == 8
    assert r.max_suffix_labels == 5


def test_known_rules_all_classes():
    r = psl.load_rules()
    assert "co.jp" in r.normals[2]
    assert "co.ke" in r.normals[2]           # absent from the old subset
    assert "github.io" in r.normals[2]       # private-section entry
    assert "s3.amazonaws.com" in r.normals[3]
    assert "pvt.k12.ma.us" in r.normals[4]
    assert "s3.dualstack.ap-south-1.amazonaws.com" in r.normals[5]
    assert "ck" in r.wildcards[1]
    assert "kawasaki.jp" in r.wildcards[2]
    assert "compute.amazonaws.com" in r.wildcards[3]
    assert "www.ck" in r.exceptions[2]
    assert "city.kawasaki.jp" in r.exceptions[3]


def test_punycode_forms_added():
    r = psl.load_rules()
    # the published list carries unicode rules; their IDNA ascii forms
    # must be queryable too (hosts arrive in either representation)
    assert any(not s.isascii() for s in r.normals[1])
    assert any(s.startswith("xn--") for s in r.normals[1])


def test_parse_custom_snapshot(tmp_path):
    dat = tmp_path / "psl.dat"
    dat.write_text(
        "// comment\n"
        "com\n"
        "co.zz\n"
        "*.wild.zz\n"
        "!ok.wild.zz\n"
        "rule.zz extra-tokens-ignored\n",
        encoding="utf-8")
    r = psl.load_rules(str(dat))
    assert r.normals[1] == frozenset({"com"})
    assert r.normals[2] == frozenset({"co.zz", "rule.zz"})
    assert r.wildcards[2] == frozenset({"wild.zz"})
    assert r.exceptions[3] == frozenset({"ok.wild.zz"})


def test_curation_constants_carry_full_data():
    from pdf_ocr_batch_ndrocr_lite_spark.operators import curation as cu
    assert "co.ke" in cu.PUBLIC_SUFFIXES_2L
    assert len(cu.PUBLIC_SUFFIXES_2L) > 5000
    assert "city.kawasaki.jp" in cu.PSL_EXCEPTIONS_3L


def test_in_sql_escapes_quotes_and_backslashes():
    from pdf_ocr_batch_ndrocr_lite_spark.operators.curation import _in_sql
    assert _in_sql("c", ["a'b"]) == "(c IN ('a''b'))"
    # Spark string literals unescape backslashes: a trailing one would
    # swallow the closing quote without the doubling
    assert _in_sql("c", ["a\\b"]) == "(c IN ('a\\\\b'))"
    assert _in_sql("c", []) == "FALSE"


def test_new_registry_registrable_domain(spark):
    """A registry the old frozen subset lacked (co.ke) plus the deep
    4/5-label rules only the full dataset carries."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import curation as cu
    urls = [
        ("https://w.a.co.ke/x", "a.co.ke"),
        ("https://a.co.ke/x", "a.co.ke"),
        ("https://co.ke/x", "co.ke"),                      # suffix passthrough
        ("https://sch.pvt.k12.ma.us/x", "sch.pvt.k12.ma.us"),
        ("https://deep.sch.pvt.k12.ma.us/x", "sch.pvt.k12.ma.us"),
        ("https://b.s3.dualstack.ap-south-1.amazonaws.com/x",
         "b.s3.dualstack.ap-south-1.amazonaws.com"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in urls], "url string")
    got = [r["domain"] for r in
           cu.with_registrable_domain(df, "url", "domain").collect()]
    assert got == [want for _, want in urls]


def test_psl_staging_name_collision_raises(spark):
    """Review regression (ADVICE r6): an input column named like a
    _psl_* staging intermediate would be silently overwritten and
    dropped — the operator must refuse it up front."""
    import pytest

    from pdf_ocr_batch_ndrocr_lite_spark.operators import curation as cu
    df = spark.createDataFrame(
        [("https://a.co.ke/x", 1)], "url string, _psl_h int")
    with pytest.raises(ValueError, match="_psl_h"):
        cu.with_registrable_domain(df, "url", "domain")
