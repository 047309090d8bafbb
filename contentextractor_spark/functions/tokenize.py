"""CJK/Latin tokenizer + keyword fold — K1/K2 (SURVEY.md §2.6).

The reference tokenizes ``main_text`` with Kuromoji-NEologd
(ContentExtractor.java:77-80,110-128) and folds noun/adjective base forms
into a comma-joined keyword string (trailing comma).  Full Kuromoji parity
needs the NEologd lexicon (unavailable, and irrelevant to the density
scorer — see SURVEY.md §2.6 K1); per the north star this stage is a
**vectorized regex tokenizer**, not per-row Python morphology.

Token classes (script-segmented runs):
 - Latin/ASCII word runs  [A-Za-z0-9_]+
 - hiragana runs, katakana runs (with ー prolonged-sound mark)
 - CJK ideograph runs (with 々 iteration mark)
 - full-width alnum runs

K2's filter (names/adjectives, length > 1, not a number) is approximated
deterministically: keep runs of length > 1 that are not pure digits.
"""

from __future__ import annotations

import re

import pandas as pd

TOKEN_RE = re.compile(
    r"[A-Za-z0-9_]+"          # Latin word runs (Java \w)
    r"|[ぁ-ゖー]+"             # hiragana (+ chōonpu)
    r"|[ァ-ヺヽヾー]+"          # katakana (+ marks)
    r"|[一-鿿々]+"             # CJK ideographs (+ iteration mark)
    r"|[０-９Ａ-Ｚａ-ｚ]+"      # full-width alnum
)

_PURE_DIGITS = re.compile(r"[0-9０-９]+")


def tokenize(text: str) -> list[str]:
    """K1: script-segmented token runs, in document order."""
    return TOKEN_RE.findall(text)


def keyword_tokens(text: str) -> list[str]:
    """K2 filter: length > 1, not a pure number (Kuromoji 名詞-not-数 /
    形容詞 approximation), order-preserving with duplicates (the reference
    keeps duplicates — it folds every token occurrence)."""
    return [
        t for t in tokenize(text) if len(t) > 1 and not _PURE_DIGITS.fullmatch(t)
    ]


def keyword_list_regex(text: str) -> str:
    """Round-1 regex approximation of the K2 fold: script-run tokens,
    length > 1, non-numeric, trailing comma.  Kept as the pure-OOV fast
    path of lexicon.keyword_fold_kuromoji, which returns it verbatim for
    text with no lexicon first-char."""
    toks = keyword_tokens(text)
    return "".join(t + "," for t in toks)


def keyword_list(text: str) -> str:
    """K2 fold (ContentExtractor.java:115-128): morphological POS filter
    (名詞 non-数 / 形容詞) + base-form fold + trailing comma, over the
    bundled-lexicon analyzer (lexicon.py).  OOV spans degrade to the
    script-run behavior of keyword_list_regex — identical output on pure
    out-of-lexicon text, Kuromoji-shaped output on covered vocabulary
    (the analyzer costs ~0.35 ms/doc over the regex fold on JA-heavy
    pages)."""
    from .lexicon import keyword_fold_kuromoji

    return keyword_fold_kuromoji(text)


def keyword_list_series(texts: pd.Series) -> pd.Series:
    """Batch form (Arrow-batch granularity).  The analyzer is per-document
    Python like the DOM walk it accompanies; both forms call the same
    fold, so they cannot diverge (ADVICE r2)."""
    from .lexicon import keyword_fold_kuromoji

    return texts.fillna("").map(keyword_fold_kuromoji)
