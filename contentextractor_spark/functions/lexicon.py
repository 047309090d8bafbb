"""Bundled lexicon + Kuromoji-style morphological analysis — K1/K2
(SURVEY.md §2.6; ContentExtractor.java:77-80,115-128).

The reference drives ``JapaneseTokenizer(..., Mode.NORMAL)`` (Kuromoji) and
keeps tokens whose part-of-speech contains 名詞 (noun) but not 数 (numeral),
or contains 形容詞 (adjective), folding the BASE FORM when the token is
inflected (BaseFormAttribute).  The full IPADIC/NEologd lexicon is ~400k
entries and unavailable here; this module reproduces the *mechanism*
exactly over a bundled IPADIC-convention subset (lexicon_data.py, a few
thousand surface forms: closed classes enumerated, open-class conjugation
paradigms expanded like IPADIC's own per-surface rows):

 - longest-match segmentation against the lexicon (greedy ≈ NORMAL-mode
   Viterbi on a vocabulary this sparse — no competing splits exist);
 - unknown spans grouped by script class (Kuromoji's unknown-word handling
   groups by character category), tagged 名詞 (non-digit) or 名詞-数 (digit
   runs) — matching how Kuromoji tags OOV Latin runs (kept) and numerals
   (dropped) through the reference's filter;
 - the K2 filter verbatim: (POS contains 名詞 and not 数) or POS contains
   形容詞; SURFACE length > 1; emit base form if present else surface.

Scaling the lexicon without scaling the match cost (measured round 3, 374
JA archetype docs, identical output on all three):
 - round-2 flat longest-first regex alternation: O(n_entries) branch tests
   per attempt — fine at 60 entries, 4.0 ms/doc at 2.4k;
 - trie-shaped regex (prefix-sharing, greedy-optional ends): still 4.0
   ms/doc — sre tests top-level branches LINEARLY, and a 600-first-char
   trie pays that at every token boundary;
 - DICT-PROBE longest match (this implementation): per boundary, probe the
   few entry lengths that exist for the first char against the lexicon
   hash — 1.0 ms/doc, no regex compile, O(probes) independent of entry
   count.  Script-run scanning stays C-level (_ANY_TOKEN_RE); the r2
   anti-lesson about per-char Python CLASSIFICATION loops (5.4 ms/doc)
   does not apply to hash probes at boundaries, as measured.

Round-4 growth measurement (same host protocol, 1500 archetype docs,
best-of-3 after warm-up): full extraction 1.94 ms/doc at 6,235 entries vs
1.66 with the round-2 ~60-entry mini lexicon — fold delta 0.28 ms/doc, flat
vs the 2,367-entry r3 lexicon (0.29), confirming probe cost is
entry-count-independent.  A smaller lexicon saves only that fixed delta
and folds fewer words Kuromoji-style, so only the full lexicon ships.

Documented divergence: vocabulary OUTSIDE the subset segments as whole
script runs rather than IPADIC morphemes (and an OOV compound whose PREFIX
is a lexicon entry splits after that entry).  The lexicon is data, not
code — extending it further is a lexicon_data.py edit.
"""

from __future__ import annotations

from .lexicon_data import build_lexicon

# the script-class run scanner and numeral test are shared with the regex
# fold (tokenize.py) — importing (not copying) them is what makes the
# pure-OOV fast path in keyword_fold_kuromoji provably equivalent to
# keyword_list_regex: both paths segment with the SAME compiled pattern.
# No cycle: tokenize.py imports this module only lazily inside functions.
from .tokenize import TOKEN_RE as _ANY_TOKEN_RE
from .tokenize import _PURE_DIGITS

# surface → (part_of_speech, base_form or None).  POS strings follow
# IPADIC's comma-joined convention (the reference does substring containment
# checks on them, so prefixes suffice).
LEXICON: dict[str, tuple[str, str | None]] = build_lexicon()


_ALL_FIRST = frozenset(k[0] for k in LEXICON)

# per-first-char DESCENDING tuples of entry lengths that exist — the probe
# schedule for longest-match (typically 1-3 probes per boundary)
_LENS_BY_FIRST: dict[str, tuple[int, ...]] = {}
_LENS_MULTI_BY_FIRST: dict[str, tuple[int, ...]] = {}
for _k in LEXICON:
    _LENS_BY_FIRST.setdefault(_k[0], set()).add(len(_k))  # type: ignore[attr-defined]
    if len(_k) >= 2:
        _LENS_MULTI_BY_FIRST.setdefault(_k[0], set()).add(len(_k))  # type: ignore[attr-defined]
_LENS_BY_FIRST = {
    c: tuple(sorted(s, reverse=True)) for c, s in _LENS_BY_FIRST.items()
}
_LENS_MULTI_BY_FIRST = {
    c: tuple(sorted(s, reverse=True)) for c, s in _LENS_MULTI_BY_FIRST.items()
}

def analyze(text: str) -> list[tuple[str, str, str | None]]:
    """Segment into (surface, pos, base_form) morphemes: longest lexicon
    match first, else a script-class run that stops where a lexicon match
    (of length >= 2) begins (single-char entries like particles do NOT
    split a run — Kuromoji keeps OOV compounds whole rather than splitting
    on an embedded particle character).  Whitespace and symbols are skipped
    (Kuromoji discards them via its punctuation categories).

    Longest-match is a hash probe, not a regex: at each token boundary,
    try the entry lengths that exist for the first char (descending) — an
    embedded entry may CROSS the run's class boundary (問い合わせ =
    kanji+hiragana), so probes slice the full text, not the run."""
    out: list[tuple[str, str, str | None]] = []
    pos, n = 0, len(text)
    search = _ANY_TOKEN_RE.search
    lens_get = _LENS_BY_FIRST.get
    multi_get = _LENS_MULTI_BY_FIRST.get
    in_lex = LEXICON.__contains__
    while pos < n:
        m = search(text, pos)
        if m is None:
            break
        i = m.start()
        entry = None
        lens = lens_get(text[i])
        if lens:
            for ln in lens:
                if ln <= n - i:
                    s = text[i : i + ln]
                    if in_lex(s):
                        entry = s
                        break
        if entry is not None:
            p, b = LEXICON[entry]
            out.append((entry, p, b))
            pos = i + len(entry)
            continue
        run_end = m.end()
        j = run_end
        q = i + 1
        while q < run_end:
            ml = multi_get(text[q])
            if ml:
                hit = False
                for ln in ml:
                    if ln <= n - q and in_lex(text[q : q + ln]):
                        hit = True
                        break
                if hit:
                    j = q
                    break
            q += 1
        surface = text[i:j]
        if _PURE_DIGITS.fullmatch(surface):
            out.append((surface, "名詞,数", None))
        else:
            out.append((surface, "名詞,一般", None))
        pos = j
    return out


def keyword_fold_kuromoji(text: str) -> str:
    """The reference's keyword loop, verbatim semantics
    (ContentExtractor.java:115-128): filter on POS containment, surface
    length > 1, fold base-or-surface with a trailing comma per token."""
    if _ALL_FIRST.isdisjoint(text):
        # pure-OOV text (e.g. Latin-only pages): the analyzer provably
        # degrades to script-run segmentation — take the regex fast path
        from .tokenize import keyword_list_regex

        return keyword_list_regex(text)
    parts: list[str] = []
    for surface, speech, base in analyze(text):
        if ("名詞" in speech and "数" not in speech) or "形容詞" in speech:
            if len(surface) > 1:
                parts.append((base if base is not None else surface) + ",")
    return "".join(parts)
