"""Property tests (SURVEY.md §5.4): idempotence, dedup stability,
permutation invariance of the order-defining sorts."""

from __future__ import annotations

import random

from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_ocr_batch_ndrocr_lite_spark.functions import textops as T

# text alphabet: ASCII + Japanese + brackets/punct the patterns target
_ALPHA = ("abcdefgh XYZ 0123456789 日本語東京ページ頁 ¥￥（）()[]【】「」、。"
          " ●•P:;.,\t\n　")


def _texts():
    return st.text(alphabet=_ALPHA, max_size=60)


@given(_texts())
@settings(max_examples=300, deadline=None, derandomize=True)
def test_normalize_idempotent(s):
    once = T.normalize_ocr_text(s)
    assert T.normalize_ocr_text(once) == once


@given(_texts())
@settings(max_examples=300, deadline=None, derandomize=True)
def test_polish_idempotent(s):
    once = T.polish_hidden_line_text(s)
    assert T.polish_hidden_line_text(once) == once


@given(_texts())
@settings(max_examples=300, deadline=None, derandomize=True)
def test_collapse_idempotent(s):
    once = T.collapse_spaces_for_japanese_line(s)
    assert T.collapse_spaces_for_japanese_line(once) == once


def _tokens():
    coord = st.floats(min_value=0, max_value=2000, allow_nan=False,
                      allow_infinity=False)
    return st.lists(
        st.builds(
            lambda t, x, y, w, h: T.Token(t, x, y, x + max(1.0, w),
                                          y + max(1.0, h)),
            st.text(alphabet=_ALPHA, min_size=0, max_size=8),
            coord, coord,
            st.floats(min_value=1, max_value=200),
            st.floats(min_value=1, max_value=60),
        ),
        max_size=40,
    )


@given(_tokens())
@settings(max_examples=150, deadline=None, derandomize=True)
def test_line_grouping_permutation_invariant(tokens):
    """The defined pre-sort makes grouping invariant to input order —
    provided sort keys are unique (the sort is stable, so exact-geometry
    ties keep input order; the reference behaves identically, and upstream
    parse order is deterministic per document)."""
    seen = set()
    uniq = []
    for t in tokens:
        key = ((t.y1 + t.y2) / 2.0, t.x1, t.x2)
        if key not in seen:
            seen.add(key)
            uniq.append(t)
    shuffled = list(uniq)
    random.Random(7).shuffle(shuffled)
    assert T.group_tokens_into_lines(uniq) == \
        T.group_tokens_into_lines(shuffled)
    vkey = {(-(t.x1 + t.x2) / 2.0, t.y1, t.y2) for t in uniq}
    if len(vkey) == len(uniq):
        assert T.group_tokens_into_vertical_columns(uniq) == \
            T.group_tokens_into_vertical_columns(shuffled)


@given(_tokens())
@settings(max_examples=150, deadline=None, derandomize=True)
def test_dedup_idempotent_and_order_invariant(tokens):
    once = T.dedup_tokens(tokens)
    # re-deduplication keeps the same surviving set (exact ORDER can change:
    # the pre-sort keys on raw text, and survivors carry normalized text —
    # reference-identical; the pipeline never re-deduplicates)
    assert sorted(T.dedup_tokens(once)) == sorted(once)
    shuffled = list(tokens)
    random.Random(11).shuffle(shuffled)
    # which representative survives a rounding-tie depends on (stable) input
    # order — reference-identical — but the surviving KEY set (normalized
    # text + integer-rounded corners) is permutation-invariant
    def keys(toks):
        return sorted((t.text, round(t.x1), round(t.y1), round(t.x2),
                       round(t.y2)) for t in toks)
    assert keys(T.dedup_tokens(shuffled)) == keys(once)


@given(_tokens())
@settings(max_examples=100, deadline=None, derandomize=True)
def test_serialize_page_deterministic(tokens):
    # unique sort keys: exact-geometry ties resolve by (stable) input order,
    # same as the reference
    seen_x = set()
    seen_y = set()
    uniq = []
    for t in tokens:
        kx, ky = (t.x1, t.x2), (t.y1, t.y2)
        if kx in seen_x or ky in seen_y:
            continue  # every sort the kernel does ties only on equal pairs
        seen_x.add(kx)
        seen_y.add(ky)
        uniq.append(t)
    a = T.serialize_page(uniq, [])
    b = T.serialize_page(list(reversed(uniq)), [])
    assert a == b


@given(st.lists(_texts(), max_size=10))
@settings(max_examples=150, deadline=None, derandomize=True)
def test_block_dedup_idempotent(blocks):
    once = T.dedup_text_blocks(blocks)
    assert T.dedup_text_blocks(once) == once


# ---------------------------------------------------------------------------
# Dispatcher never-throw invariant (E1): ARBITRARY bytes — truncated PDFs,
# junk JSON, binary noise, half-valid headers — must produce an action row,
# never an exception (reference per-file try/except, app.py:2790-2859).
# ---------------------------------------------------------------------------


_PAYLOAD_HEADS = [b"", b"%PDF-", b"%PDF-1.4\n", b"{", b'{"kind": "pdf"',
                  b"<html>", b"\x00\x01\x02", b"{\"kind\": \"pdf\", "]


@given(st.sampled_from(_PAYLOAD_HEADS), st.binary(max_size=400))
@settings(max_examples=150, deadline=None)
def test_dispatcher_never_raises_on_arbitrary_bytes(head, tail):
    from pdf_ocr_batch_ndrocr_lite_spark.operators import extract as E
    out = E.extract_one("https://example.org/fuzz", head + tail, "en")
    assert out["action"] in {E.ACTION_EXTRACTED, E.ACTION_SKIP_HAS_TEXT,
                             E.ACTION_PARSE_FAILURE, E.ACTION_NEEDS_OCR}
    assert isinstance(out["extracted_text"], str)
    assert out["page_count"] >= 0
    assert out["bytes_in"] == len(head + tail)


@given(st.binary(max_size=600))
@settings(max_examples=100, deadline=None)
def test_pdf_scanner_total_on_pdf_headed_bytes(data):
    """pdf_scan either answers or raises its two typed errors — nothing
    else escapes — for any %PDF-headed byte string."""
    from pdf_ocr_batch_ndrocr_lite_spark.functions import pdf_scan as ps
    try:
        has_text, pages, _ = ps.scan_text_layer(b"%PDF-1.4\n" + data)
        assert isinstance(has_text, bool) and pages >= 1
    except (ps.PdfParseError, ps.EncryptedPdfError):
        pass


# ---------------------------------------------------------------------------
# The staged shingler against the inline formula it replaced: the word
# expression inside the slicing lambda (O(words²), since Spark never
# eliminates common subexpressions inside a lambda).  Same arrays row by
# row — order, duplicates and the edge rows included.
# ---------------------------------------------------------------------------

_WS_TEXT = st.text(alphabet=["a", "b", " ", "\t", "\n", "\u00a0"],
                   max_size=40)
_EDGE_TEXTS = [None, "", "   ", " \t\n"]
_KS = (1, 2, 3, 5)


def _inline_shingles(k):
    from pyspark.sql import functions as F

    words = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - F.lit(k), F.lit(0)))
    return F.when(n < k, F.array(F.array_join(words, " "))).otherwise(
        F.transform(idx,
                    lambda i: F.array_join(F.slice(words, i + 1, k), " ")))


@given(texts=st.lists(_WS_TEXT, max_size=12))
@settings(max_examples=25, deadline=None, derandomize=True)
def test_shingle_frame_matches_inline_formula(spark, texts):
    from functools import reduce

    from pyspark.sql import functions as F

    from pdf_ocr_batch_ndrocr_lite_spark.operators.dedup import shingle_frame

    docs = spark.createDataFrame(list(enumerate(_EDGE_TEXTS + texts)),
                                 "doc_id int, text string")

    def rows(frames):
        return {(r["k"], r["doc_id"]): r["sh"] for r in
                reduce(lambda a, b: a.unionByName(b), frames).collect()}

    got = rows([shingle_frame(docs, k, "doc_id").select(
        F.lit(k).alias("k"), "doc_id", F.col("shingles").alias("sh"))
        for k in _KS])
    want = rows([docs.select(F.lit(k).alias("k"), "doc_id",
                             _inline_shingles(k).alias("sh"))
                 for k in _KS])
    assert got == want
    for k in _KS:
        assert got[(k, 0)] == [None]  # NULL text
        assert got[(k, 1)] == got[(k, 2)] == got[(k, 3)] == [""]
