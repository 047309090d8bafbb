"""The adversarial driver queries (extract_boilerplate / br_runs / entities /
sjis / iso2022 / utf16) claim: `main_text == trim(text)` holds ONLY because
the named operators run.  This file proves the trap springs: with a given
operator stubbed to a no-op, the round-trip breaks.

Runs at the pure-Python extract_document level (the Spark stage is the same
function via mapInPandas, covered by the oracle gate itself).
"""

import pytest

import __spark_entry__ as entry_mod
from contentextractor_spark import extractor
from contentextractor_spark.extractor import extract_document
from contentextractor_spark.operators import tagfilter

TEXT = "the quick brown fox jumps over the lazy dog again and again"
TRIMMED = TEXT.strip()


def _page_boilerplate(text: str) -> bytes:
    return (
        "<html><body>"
        + entry_mod._TOPIC_BLOCK
        + "<div><p>"
        + entry_mod._INLINE_JUNK
        + text
        + "</p></div></body></html>"
    ).encode("utf-8")


def _page_br(text: str) -> bytes:
    head, _, tail = text.partition(" ")
    return (
        "<html><body><div><p>"
        + head
        + "<br><br>　 <br/><br ><br>"
        + tail
        + "</p></div></body></html>"
    ).encode("utf-8")


def _page_entities(text: str) -> bytes:
    return (
        "<html><body><div><p>" + text + entry_mod._ENT_HTML
        + "</p></div></body></html>"
    ).encode("utf-8")


def _page_sjis(text: str) -> bytes:
    return entry_mod._SJIS_PRE + text.encode("ascii") + entry_mod._SJIS_POST


def _page_iso2022(text: str) -> bytes:
    return entry_mod._ISO2022_PRE + text.encode("ascii") + entry_mod._ISO2022_POST


def _page_utf16(text: str) -> bytes:
    page = (
        "<html><body><div><p>" + text + entry_mod._JP_SUFFIX
        + "</p></div></body></html>"
    )
    return b"\xff\xfe" + page.encode("utf-16-le")


# ---------------- positive: the pipeline earns the round-trip ----------------

def test_positive_roundtrips():
    assert extract_document(_page_boilerplate(TEXT)).main_text == TRIMMED
    head, _, tail = TEXT.partition(" ")
    assert extract_document(_page_br(TEXT)).main_text == head + "\n" + tail.strip()
    assert (
        extract_document(_page_entities(TEXT)).main_text
        == (TEXT + entry_mod._ENT_TEXT).strip()
    )
    for builder in (_page_sjis, _page_iso2022, _page_utf16):
        assert (
            extract_document(builder(TEXT)).main_text
            == (TEXT + entry_mod._JP_SUFFIX).strip()
        ), builder.__name__


# ---------------- negative: stub an operator → the trap springs --------------

_noop = lambda *a, **k: None  # noqa: E731


@pytest.mark.parametrize(
    "attr",
    [
        "remove_link_blocks",      # F1
        "remove_topic_blocks",     # F2
        "remove_small_fonts",      # F8
    ],
)
def test_boilerplate_traps_tagfilter_fns(monkeypatch, attr):
    monkeypatch.setattr(tagfilter, attr, _noop)
    assert extract_document(_page_boilerplate(TEXT)).main_text != TRIMMED


def test_boilerplate_traps_attr_and_blacklist(monkeypatch):
    # F3-F6 fused traversal
    monkeypatch.setattr(tagfilter, "remove_attr_and_tag_filtered", _noop)
    assert extract_document(_page_boilerplate(TEXT)).main_text != TRIMMED


def test_boilerplate_traps_pagination(monkeypatch):
    # F7 runs via remove_by_selector
    monkeypatch.setattr(tagfilter, "remove_by_selector", _noop)
    assert extract_document(_page_boilerplate(TEXT)).main_text != TRIMMED


def test_br_run_traps_collapse(monkeypatch):
    # T3 stubbed: 5 <br> → 5 newlines → the lone first word forms its own
    # sub-threshold block and is dropped (serialize path; the fused path is
    # pinned byte-identical by the differential suite)
    import re

    from contentextractor_spark.functions import textextract

    monkeypatch.setattr(extractor, "fused_parse", lambda body: None)
    never = re.compile("(?!x)x")
    monkeypatch.setattr(textextract, "_SUB_RULE_01", never)
    head, _, tail = TEXT.partition(" ")
    assert (
        extract_document(_page_br(TEXT)).main_text != head + "\n" + tail.strip()
    )


def test_entities_trap_unescape(monkeypatch):
    from contentextractor_spark.functions import textextract

    monkeypatch.setattr(extractor, "fused_parse", lambda body: None)
    monkeypatch.setattr(textextract, "unescape_html4", lambda s: s)
    got = extract_document(_page_entities(TEXT)).main_text
    assert got != (TEXT + entry_mod._ENT_TEXT).strip()


def test_sjis_trap_detector(monkeypatch):
    monkeypatch.setattr(extractor, "detect_charset", lambda b: None)
    got = extract_document(_page_sjis(TEXT)).main_text
    assert got != (TEXT + entry_mod._JP_SUFFIX).strip()


def test_utf16_trap_detector(monkeypatch):
    monkeypatch.setattr(extractor, "detect_charset", lambda b: None)
    got = extract_document(_page_utf16(TEXT)).main_text
    assert got != (TEXT + entry_mod._JP_SUFFIX).strip()


def test_iso2022_trap_needs_sniff_or_meta(monkeypatch):
    # both the ESC sniff (D1) and the meta override (D2) stubbed → mojibake;
    # either one alone recovers the page (also asserted)
    want = (TEXT + entry_mod._JP_SUFFIX).strip()

    monkeypatch.setattr(extractor, "detect_charset", lambda b: None)
    assert extract_document(_page_iso2022(TEXT)).main_text == want  # D2 saves it

    monkeypatch.setattr(
        extractor, "meta_declared_charset", lambda doc, metas=None: "UTF-8"
    )
    assert extract_document(_page_iso2022(TEXT)).main_text != want  # trap springs


def _page_blocks(text: str, junk_html: str) -> bytes:
    return (
        "<html><body>" + junk_html + "<div><p>" + text + "</p></div></body></html>"
    ).encode("utf-8")


def test_block_selection_positive_and_trap(monkeypatch):
    # TEXT kept-length 52 → density 14 > junk densities 6/8: only TEXT emits
    text = "the quick brown fox jumps over the lazy dog once more and again"
    for junk in (entry_mod._BLOCK_J1, entry_mod._BLOCK_J1 + entry_mod._BLOCK_J2):
        assert extract_document(_page_blocks(text, junk)).main_text == text

    # stub T13 to the MIN_TOKENS floor → junk blocks pass selection → leak
    from contentextractor_spark.functions import fused, textextract

    monkeypatch.setattr(textextract, "cal_threshold", lambda maxima: 5)
    monkeypatch.setattr(fused, "cal_threshold", lambda maxima: 5, raising=False)
    monkeypatch.setattr(extractor, "fused_parse", lambda body: None)
    got = extract_document(_page_blocks(text, entry_mod._BLOCK_J1)).main_text
    assert got != text and "jjjj" in got
