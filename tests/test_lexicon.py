"""K1/K2 lexicon analyzer goldens (ContentExtractor.java:115-128 semantics):
名詞-not-数 / 形容詞 filter, surface-length > 1, BASE-FORM fold, trailing
comma.  Out-of-lexicon text must degrade to the round-1 script-run fold."""

from contentextractor_spark.functions.lexicon import analyze, keyword_fold_kuromoji
from contentextractor_spark.functions.tokenize import (
    keyword_list,
    keyword_list_regex,
    keyword_list_series,
)

def test_particles_and_verbs_dropped():
    # 日本語のテキストを確認します: nouns kept, の/を particles and します
    # verb dropped (exactly what Kuromoji+filter does on this sentence)
    assert keyword_fold_kuromoji("日本語のテキストを確認します") == "日本語,テキスト,確認,"


def test_adjective_base_form_folded():
    # 高く is the 連用形 of 高い: the reference emits the BaseFormAttribute
    assert keyword_fold_kuromoji("新しい技術は高く") == "新しい,技術,高い,"


def test_numerals_excluded_by_pos():
    # 名詞,数 fails the "contains 名詞 and not 数" test; ascii/fullwidth
    # digit runs get the same 名詞,数 tag via unknown-word handling
    assert keyword_fold_kuromoji("一 12 ３４ 経済") == "経済,"


def test_single_char_surface_dropped():
    # term.length() > 1 is on the SURFACE (ContentExtractor.java:121)
    assert keyword_fold_kuromoji("木") == ""


def test_mixed_script_compound_not_split():
    # 問い合わせ is one IPADIC morpheme, not 問/い/合/わせ script runs
    assert keyword_fold_kuromoji("問い合わせはホーム") == "問い合わせ,ホーム,"


def test_oov_degrades_to_script_runs():
    txt = "hello world spark engine 99"
    assert keyword_list(txt) == keyword_list_regex(txt) == "hello,world,spark,engine,"


def test_oov_run_not_split_by_embedded_particle_char():
    # Kuromoji keeps OOV compounds whole; a lone は inside an unknown
    # hiragana run must not split it
    toks = [s for s, _, _ in analyze("あはき")]
    assert toks == ["あはき"]


def test_series_matches_scalar():
    import pandas as pd

    texts = pd.Series(["日本語のテキスト", None, "hello world"])
    got = keyword_list_series(texts)
    assert got[0] == keyword_list("日本語のテキスト")
    assert got[1] == ""
    assert got[2] == "hello,world,"


def test_archetype_corpus_fold_regression():
    """Pin the fold over the deterministic archetype corpus so lexicon or
    analyzer changes are loud (keyword-level golden for A1-A10 pages)."""
    import hashlib

    from contentextractor_spark.extractor import extract_document
    from contentextractor_spark.sources.pages import generate_pages

    pages = generate_pages(30, seed=42)
    folds = [extract_document(bytes(h)).keyword_list for h in pages["html"]]
    digest = hashlib.sha256("\x00".join(folds).encode()).hexdigest()
    assert len([f for f in folds if f]) >= 20  # most pages produce keywords
    # regenerate with scripts below if the lexicon intentionally changes:
    #   python -c "import tests.test_lexicon as t; t.print_digest()"
    assert digest == PINNED_DIGEST, digest


# r5 session-3 increment (R5F): 13,827 entries (law/finance/medicine/
# school/geo/arts nouns, business katakana, motion godan).  Earlier:
# 13,646-entry
# r5e 962a7c2bf193e06337d2298bda219d781378dc0fe823343e422b304854e4a3bd;
# r5 session-2 increment (R5D): 12,699 entries (compound verbs,
# deverbal-noun compounds, nature/health/calendar nouns, web/devops + ML
# katakana, keiyodoshi, the adverb inventory).  Earlier digests:
# 11,811-entry r5b 5aa32b91504832600582c9860807f848974eb5851724a70a92b6bd987aeb63d7;
# 10,177-entry
# r5a 3e7b9ab299dff705cf56bcfab626776713eeccba2d11e29c8fa53c58bfdf4b60;
# r4 (6,235) fddf839d225ed5450ab338661ab890b9cca7efe12af1ebf43c7d2cf6a57dfe95;
# r3 (2,367) 03833bcbd5b59ce03d55d0137427fbb68b94c6bdc8205d17549528e51747d1f1;
# r2 mini e079059fa1ffebe79caa0bcfc2efc2fb77d93d98daaa340c374f877d861c35db
PINNED_DIGEST = "d7e9d3027419e01cb02ab63b37c7a849bab6de733292385abfbe21e14b7e8e0b"


def test_lexicon_no_fused_entries():
    """The word lists are implicit string concatenation — a line missing
    its trailing space FUSES the last word of one line with the first of
    the next (漁業+林業 happened in r3).  Audit the SOURCE: inside every
    parenthesized implicit-concat word-list block, each fragment except
    the block's last must end with a space."""
    import inspect
    import re

    from contentextractor_spark.functions import lexicon_data

    src = inspect.getsource(lexicon_data)
    # fragments: full-line string literals that are part of a ( ... ).split()
    # block — i.e. lines of the form   "<words>"   with no trailing comma
    lines = src.split("\n")
    for i, ln in enumerate(lines):
        m = re.fullmatch(r'\s*"([^"]*)"\s*', ln)
        if not m:
            continue
        nxt = lines[i + 1].strip() if i + 1 < len(lines) else ""
        if nxt.startswith('"'):  # another fragment follows → must end ' '
            assert m.group(1).endswith(" "), (
                f"lexicon_data.py line {i + 1} lacks its trailing space — "
                f"would fuse across lines: ...{m.group(1)[-12:]!r}"
            )


def print_digest():  # helper for intentional regeneration
    import hashlib

    from contentextractor_spark.extractor import extract_document
    from contentextractor_spark.sources.pages import generate_pages

    pages = generate_pages(30, seed=42)
    folds = [extract_document(bytes(h)).keyword_list for h in pages["html"]]
    print(hashlib.sha256("\x00".join(folds).encode()).hexdigest())


def test_analyzer_surface_concatenation_property():
    """Property: analyze() surfaces, concatenated, equal the input with
    non-token chars removed — no character is lost, duplicated, or
    reordered by segmentation (hypothesis over the fixture alphabet)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    alphabet = (
        "abz09_ 　、。！"
        "日本語記事内容文化技術経済のはをにです高く新しいテキスト"
        "あいうかきートピックス"
    )

    @settings(max_examples=200, deadline=None)
    @given(st.text(alphabet=alphabet, max_size=80))
    def check(text):
        import re

        from contentextractor_spark.functions.lexicon import (
            _ANY_TOKEN_RE,
            analyze,
        )

        token_chars = "".join(_ANY_TOKEN_RE.findall(text))
        surfaces = "".join(s for s, _, _ in analyze(text))
        assert surfaces == token_chars

    check()


def test_conjugation_paradigm_segmentation():
    """r3 IPADIC-subset paradigms: inflected verbs/adjectives segment as
    stem(base-form) + auxiliary, exactly Kuromoji's rows."""
    assert analyze("書いた") == [("書い", "動詞,自立", "書く"), ("た", "助動詞", None)]
    assert analyze("食べました") == [
        ("食べ", "動詞,自立", "食べる"),
        ("まし", "助動詞", "ます"),
        ("た", "助動詞", None),
    ]
    assert analyze("新しかった") == [
        ("新しかっ", "形容詞,自立", "新しい"),
        ("た", "助動詞", None),
    ]


def test_conjugated_adjective_folds_to_base():
    assert keyword_fold_kuromoji("新しかった技術") == "新しい,技術,"


def test_onbin_verb_dropped_nouns_kept():
    # 使っ (促音便 of 使う) recognized and dropped as a verb; the OOV
    # katakana compound and the サ変 noun are kept whole
    assert keyword_fold_kuromoji("データベースを使った検索") == "データベース,検索,"


def test_collision_policy_noun_wins():
    # 喜び is both a curated 名詞,一般 row and 喜ぶ's 連用形; よう is both a
    # curated 名詞,非自立 row and an auxiliary surface.  The curated noun
    # wins at a kept/drop collision (r3 full-file review: last-writer-wins
    # merging silently dropped both for a while) — Kuromoji's IPADIC path
    # tags these 名詞 in the 喜びの声 / 〜のような readings, which the K2
    # filter keeps.
    assert keyword_fold_kuromoji("喜びの声") == "喜び,"
    assert keyword_fold_kuromoji("このような情報") == "よう,情報,"


def test_collision_audit_is_loud(monkeypatch):
    # an unacknowledged kept/drop collision (or a stale _NOUN_WINS entry)
    # must fail the build, not shadow silently
    import pytest

    from contentextractor_spark.functions import lexicon_data

    monkeypatch.setattr(lexicon_data, "_NOUN_WINS", frozenset())
    with pytest.raises(AssertionError, match="collision audit"):
        lexicon_data.build_lexicon()


def test_reference_filter_on_real_sentence():
    # 本 is a single-char surface (dropped by len>1), 読ん/します are verbs
    # (dropped by POS), 勉強 is an OOV kanji run kept as a noun
    assert keyword_fold_kuromoji("本を読んで勉強します") == "勉強,"
